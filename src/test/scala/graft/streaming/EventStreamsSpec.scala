package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class EventStreamsSpec extends SparkSpec {
  import EventStreams._
  import graft.streaming.Event

  private def ev(id: Long, user: Long, minute: Long, typ: String = "click",
      value: Double = 1.0): Event =
    Event(id, user, new Timestamp(minute * 60000L), typ, value)

  test("windowed counts aggregate by event-time window and drop late data") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = windowedTypeCounts(in.toDF(), "10 minutes", "30 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 1, 1), ev(2, 1, 5), ev(3, 2, 12))
      q.processAllAvailable()
      // advance watermark far past the first windows to finalize them
      in.addData(ev(4, 1, 600))
      q.processAllAvailable()
      // an event far behind the watermark must be dropped
      in.addData(ev(5, 9, 2))
      q.processAllAvailable()
      in.addData(ev(6, 1, 1200))
      q.processAllAvailable()
      val rows = spark.table("win_counts")
        .select("window_start", "n").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getLong(1))).toMap
      assert(rows(0L) == 2)  // minutes 1 and 5, user 9's late event dropped
      assert(rows(10L) == 1) // minute 12
    } finally q.stop()
  }

  test("streaming dedup drops repeated keys within the watermark horizon") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = dedupStream(in.toDF(), watermark = "30 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      val b = 10000L
      in.addData(ev(1, 1, b), ev(2, 1, b + 1), ev(1, 1, b + 2)) // dup id 1
      q.processAllAvailable()
      in.addData(ev(1, 7, b + 3)) // still within watermark: dropped
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids.sorted == Seq(1L, 2L), s"got $ids")
      assert(ids.size == 2, "duplicate event_id leaked through")
    } finally q.stop()
  }

  test("streaming sessionize emits gap-separated sessions as watermark advances") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = sessionize(in.toDS(), gapMinutes = 30, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // base offset keeps event times clear of the initial (epoch) watermark
      val b = 10000L
      // user 1: events at +0, +10 (one session), then +100 (new session)
      in.addData(ev(1, 1, b + 0), ev(2, 1, b + 10))
      q.processAllAvailable()
      in.addData(ev(3, 1, b + 100))
      q.processAllAvailable()
      // push watermark beyond +100 + 30 gap to close the second session
      in.addData(ev(4, 2, b + 200))
      q.processAllAvailable()
      in.addData(ev(5, 2, b + 400))
      q.processAllAvailable()
      val sessions = spark.table("sessions")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000 - b,
          r.getTimestamp(2).getTime / 60000 - b, r.getLong(3)))
        .toSet
      assert(sessions.contains((1L, 0L, 10L, 2L)), s"got $sessions")
      assert(sessions.contains((1L, 100L, 100L, 1L)), s"got $sessions")
    } finally q.stop()
  }

  test("streaming sessionize agrees with the batch events_sessionize oracle query") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    // batch ground truth: session count per user from the oracle-checked query
    val batch = graft.queries.LlmText.queries("events_sessionize")(spark, sf)
      .groupBy("user_id").agg(org.apache.spark.sql.functions.max("session_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // streaming pipeline over the same data, forced complete by a far-future
    // sentinel event per user (so every open session times out)
    implicit val sq = spark.sqlContext
    val events = EventStreams.batchEvents(spark, sf).collect().toSeq
      .sortBy(e => (e.ts.getTime, e.event_id))
    val maxT = events.map(_.ts.getTime).max
    val in = MemoryStream[Event]
    val q = sessionize(in.toDS(), gapMinutes = 30, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions_full")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(events)
      q.processAllAvailable()
      in.addData(ev(999999, -1, maxT / 60000 + 100000))
      q.processAllAvailable()
      val streamed = spark.table("sessions_full")
        .filter($"user_id" >= 0)
        .groupBy("user_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == batch,
        s"mismatch: ${streamed.toSet.diff(batch.toSet).take(5)} vs ${batch.toSet.diff(streamed.toSet).take(5)}")
    } finally q.stop()
  }

  test("reordered EWMA folds out-of-order batches in event-time order") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = ewmaReorderedStream(in.toDS(), alpha = 0.2, beta = 0.8,
        watermark = "30 minutes")
      .toDF("event_id", "ewma")
      .writeStream.format("memory").queryName("ewma_reorder")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1's series in event time is minutes 10,20,30,40 with values
      // 1,2,3,4 — delivered DISORDERED across micro-batches: the newest
      // event first, the two middle ones a batch later (late but inside
      // the 30-minute delay). A naive cross-batch fold would smooth in
      // arrival order; the reorder buffer must reconstruct time order.
      in.addData(ev(4, 1, 40, value = 4.0), ev(1, 1, 10, value = 1.0))
      q.processAllAvailable()
      in.addData(ev(3, 1, 30, value = 3.0), ev(2, 1, 20, value = 2.0))
      q.processAllAvailable()
      // two far-future sentinels: the first advances the watermark past
      // every buffered row, the second's batch lets the resulting
      // event-time timeouts fire and flush the tails
      in.addData(ev(900, 99, 100000))
      q.processAllAvailable()
      in.addData(ev(901, 99, 200000))
      q.processAllAvailable()
      val got = spark.table("ewma_reorder").filter($"event_id" < 100)
        .as[(Long, Double)].collect().toMap
      // the fold in (ts, event_id) order: 1.0, .2*2+.8*1, .2*3+.8*1.2,
      // .2*4+.8*1.56 — any other order produces different doubles
      val want = Map(1L -> 1.0, 2L -> 1.2, 3L -> 1.56, 4L -> 2.048)
      assert(got.keySet == want.keySet, s"got $got")
      want.foreach { case (k, v) =>
        assert(math.abs(got(k) - v) < 1e-12, s"id $k: ${got(k)} != $v") }
    } finally q.stop()
  }

  test("stream-stream interval join attributes right events to in-window left events") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val q = intervalJoin(clicks.toDF(), buys.toDF(),
        watermark = "30 minutes", joinWindow = "15 minutes")
      .writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append).start()
    try {
      val b = 10000L
      // user 1: clicks at +0 and +10; purchase at +12 -> joins BOTH (window
      // [-15, 0] relative to the purchase covers minutes -3 and +2 back).
      // user 2: click at +0, purchase at +40 -> out of window, no match.
      clicks.addData(ev(1, 1, b + 0), ev(2, 1, b + 10), ev(3, 2, b + 0))
      buys.addData(ev(101, 1, b + 12), ev(102, 2, b + 40))
      q.processAllAvailable()
      // push both watermarks forward so all joinable state resolves
      clicks.addData(ev(4, 9, b + 600))
      buys.addData(ev(103, 9, b + 600 - 16)) // outside window of click 4
      q.processAllAvailable()
      val got = spark.table("attrib")
        .select("left_id", "right_id").as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 101L), (2L, 101L)), s"got $got")
    } finally q.stop()
  }

  test("left-outer interval join emits null-extended rows once the watermark passes") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    // same join shape as drainIntervalJoinOuter (watermark ahead of use)
    val l = clicks.toDF().withWatermark("ts", "30 minutes").alias("l")
    val r = buys.toDF().withWatermark("ts", "30 minutes").alias("r")
    val q = l.join(r,
        col("l.user_id") === col("r.user_id") &&
          col("l.ts") <= col("r.ts") &&
          col("l.ts") >= col("r.ts") - expr("INTERVAL 15 minutes"),
        "leftOuter")
      .select(col("l.event_id").as("left_id"), col("r.event_id").as("right_id"))
      .writeStream.format("memory").queryName("attrib_outer")
      .outputMode(OutputMode.Append).start()
    try {
      val b = 10000L
      // user 1's click is matched; user 2's click has no purchase at all —
      // it must surface as a null-extended row, but ONLY after the
      // watermark proves no future purchase can still match it
      clicks.addData(ev(1, 1, b + 0), ev(3, 2, b + 0))
      buys.addData(ev(101, 1, b + 12, "purchase"))
      q.processAllAvailable()
      assert(spark.table("attrib_outer")
        .filter(col("right_id").isNull).count() == 0,
        "null row emitted before the watermark closed the join window")
      // advance both watermarks well past click 3's window, repeatedly:
      // state cleanup consumes the PREVIOUS batch's watermark
      (1 to 3).foreach { k =>
        clicks.addData(ev(100L + k, 9, b + 600L * k))
        buys.addData(ev(200L + k, 8, b + 600L * k, "purchase"))
        q.processAllAvailable()
      }
      val got = spark.table("attrib_outer")
        .filter(col("left_id") <= 3)
        .collect()
        .map(row => (row.getLong(0),
          if (row.isNullAt(1)) -1L else row.getLong(1))).toSet
      assert(got == Set((1L, 101L), (3L, -1L)), s"got $got")
    } finally q.stop()
  }
}
