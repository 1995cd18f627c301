package graft.streaming

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Structured Streaming surface over the `events` schema.
  *
  * The reference is batch-only (SURVEY.md §2.10), so this module is the
  * engine's forward-looking streaming capability: the same event-time
  * semantics as the batch operators, expressed as incremental plans —
  * `readStream → transform → writeStream` with watermarks for state bounds.
  * At scale, state is partitioned by the grouping key across executors and
  * bounded by the watermark delay; nothing here accumulates unbounded state.
  */
case class Event(event_id: Long, user_id: Long, ts: Timestamp,
    event_type: String, value: Double)

case class Session(user_id: Long, session_start: Timestamp,
    session_end: Timestamp, n_events: Long, total_value: Double)

case class OpenSession(start: Long, last: Long, n: Long, total: Double)

/** Reorder-buffer state for [[EventStreams.ewmaReorderedStream]]: rows not
  * yet passed by the watermark as (tsMicros, event_id, value), plus the
  * recurrence accumulator over everything already folded. */
case class EwmaReorder(pending: Seq[(Long, Long, Double)], acc: Option[Double])

object EventStreams {

  /** Open a parquet file-stream of event files with `ts` normalized to
    * TimestampType event time, the read schema DERIVED FROM THE PARQUET
    * FOOTER — never pinned. The driver has shipped events.ts as int64 nanos
    * and as timestamp[us] across data generations, and a pinned `ts BIGINT`
    * schema turned the latter into silently 1000x-shrunk timestamps (the
    * round-7 regression: windows/sessions/join-intervals collapsed with no
    * error). Branching on the footer's logical type makes wrong-scale event
    * time structurally impossible; an unknown encoding throws at build.
    * `opts` go to BOTH the schema-discovery batch read and the stream source
    * (pathGlobFilter must filter identically for the schema to match); the
    * schema is [[graft.Tables.parquetSchema]]'s, inferred once per session
    * for each (dir, opts) and again when the dir's files change. */
  private def openEventsStream(s: SparkSession, dir: String,
      opts: Map[String, String]): DataFrame = {
    val df = s.readStream.schema(graft.Tables.parquetSchema(s, dir, opts))
      .options(opts).parquet(dir)
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType    => df
      case TimestampNTZType =>
        // same guard as Tables.events: the NTZ→TZ cast reads wall-clock in
        // the session zone, so a non-UTC session would silently shift every
        // event time — throw instead
        require(s.conf.get("spark.sql.session.timeZone", "") == "UTC",
          "events.ts is TIMESTAMP_NTZ: set spark.sql.session.timeZone=UTC at " +
            "session build so stream event time matches the oracle's epoch_us")
        df.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts: unhandled stream encoding $other — extend openEventsStream")
    }
  }

  /** Open a staged dir as a one-file-per-micro-batch stream, with the
    * `schema` [[stage]] returned for it: the staged frames' own, so the open
    * reads no footer and memoizes nothing under a dir the drain deletes.
    * Staged events already carry ts as TimestampType (see [[staged]]). */
  private def openStaged(s: SparkSession, dir: Path, schema: StructType): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir.toString)

  /** Write `part` as a SINGLE parquet file named `name` inside `tmp`. Staged
    * frames carry ts as TimestampType (the openEventsStream no-conversion
    * branch), so a staged directory has ONE schema regardless of the source
    * file's physical ts encoding. */
  private def stageFile(tmp: Path, name: String, part: DataFrame): Unit = {
    val dir = tmp.resolve(name + "_dir")
    part.coalesce(1).write.parquet(dir.toString)
    // Files.list holds an open DirectoryStream — close it or leak an fd
    // per staged file
    val listing = Files.list(dir)
    val file =
      try listing.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally listing.close()
    Files.move(file, tmp.resolve(name))
    new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
  }

  /** Stage the ordered `(fileName, frame)` micro-batches into `dir`, one
    * file each, and pin the i-th file's mtime to 1000000 + (first + i)·60000
    * ms: the file source takes files oldest-first, so this order IS the
    * micro-batch order. A frame passed again (the same reference) is a
    * replay: its earlier file is copied, not re-written. Returns the staged
    * files' schema, the first frame's (every batch of a dir shares it). */
  private[streaming] def stage(dir: Path, batches: Seq[(String, DataFrame)],
      first: Int = 0): StructType = {
    batches.zipWithIndex.foreach { case ((name, part), i) =>
      batches.take(i).find(_._2 eq part) match {
        case Some((earlier, _)) => Files.copy(dir.resolve(earlier), dir.resolve(name))
        case None               => stageFile(dir, name, part)
      }
      Files.setLastModifiedTime(dir.resolve(name),
        FileTime.fromMillis(1000000L + (first + i) * 60000L))
    }
    batches.head._2.schema
  }

  /** Run `query` to completion (Trigger.AvailableNow) into the memory sink
    * `name`, with an optional checkpoint, and return the sink's table.
    * `staging` is dropped in a `finally`: once the query ends the memory
    * sink holds every result row and nothing re-reads the staged files, and
    * a query that throws must not leave them behind. `query` is by-name, so
    * staging done while building it is covered too. */
  private[streaming] def drain(name: String, mode: OutputMode,
      staging: Option[Path] = None, checkpoint: Option[String] = None)(
      query: => DataFrame): DataFrame =
    try {
      val q = query
      val w = q.writeStream.format("memory").queryName(name).outputMode(mode)
        .trigger(Trigger.AvailableNow())
      checkpoint.fold(w)(w.option("checkpointLocation", _)).start().awaitTermination()
      q.sparkSession.table(name)
    } finally staging.foreach(dropStaging)

  /** Staging-dir lifecycle. One PROCESS-WIDE shutdown hook over a tracked
    * dir set replaces the old one-hook-per-drain pattern (a median-of-3
    * bench run invoked every drain three times, accumulating JVM hooks and
    * staged parquet for the whole process lifetime). [[drain]] drops its
    * staging dir eagerly, so the hook is only the crash backstop. */
  private val stagedDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  sys.addShutdownHook {
    stagedDirs.forEach { p =>
      new scala.reflect.io.Directory(p.toFile).deleteRecursively(); ()
    }
  }
  private[streaming] def newStaging(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    stagedDirs.add(p)
    p
  }
  private def dropStaging(p: Path): Unit = {
    new scala.reflect.io.Directory(p.toFile).deleteRecursively()
    stagedDirs.remove(p)
    ()
  }

  /** Event-time midpoint of `raw`'s BIGINT epoch-micros ts, the early/late
    * split of the two-batch drains. */
  private def tsMidpoint(raw: DataFrame): Long = {
    val b = raw.agg(min(col("ts")), max(col("ts"))).head()
    b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
  }

  /** doc_id midpoint for two-batch staging. The split must preserve id
    * ORDER across batches (an id-hash split would interleave ids and break
    * the drains' running-sum / first-occurrence equality with the batch
    * rule), so a max(doc_id) is genuinely needed — but it comes from the
    * parquet FOOTER column statistics, not a column scan: O(#files)
    * metadata reads on the driver instead of a corpus-column pass.
    * (Spark's own aggregate pushdown only exists on the v2 source, which
    * the default useV1SourceList keeps off for parquet — hence the direct
    * footer read.) Falls back to the scan-shaped agg only for a file
    * whose doc_id column carries no statistics. */
  private def docIdMidpoint(s: SparkSession, d: String): Long = {
    import scala.jdk.CollectionConverters._
    val conf = s.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(s"$d/documents.parquet")
    val fs = root.getFileSystem(conf)
    val files = (if (fs.getFileStatus(root).isDirectory)
      fs.listStatus(root).toSeq else Seq(fs.getFileStatus(root)))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val maxes = files.flatMap { f =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
      try rd.getFooter.getBlocks.asScala.flatMap { b =>
        b.getColumns.asScala
          .find(_.getPath.toDotString == "doc_id")
          .flatMap(c => Option(c.getStatistics)
            .filter(st => st.hasNonNullValue && !st.isEmpty)
            .map(_.genericGetMax match {
              case l: java.lang.Long    => l.longValue
              case i: java.lang.Integer => i.longValue
              case o => throw new IllegalStateException(
                s"doc_id stats of unexpected type ${o.getClass}")
            }))
      } finally rd.close()
    }
    val mx =
      if (maxes.nonEmpty) maxes.max
      else graft.Tables.documents(s, d).agg(max(col("doc_id"))).head().getLong(0)
    mx / 2
  }

  /** `part` normalized for staging: its BIGINT epoch-micros ts as
    * TimestampType (exact — `timestamp_micros`, not a lossy double
    * division). */
  private def staged(part: DataFrame): DataFrame =
    part.withColumn("ts", timestamp_micros(col("ts")))

  private def stagedEvents(s: SparkSession, d: String): DataFrame =
    staged(graft.Tables.events(s, d))

  /** The first `n` of the far-future event-sentinel batches `y_sentinel1`,
    * `z_sentinel2`, `zz_sentinel3`: one day apart from 2100-01-01, each
    * holding one user -1 row per `(event_id, event_type)`. Staged after the
    * real data, each one advances the watermark past every real event;
    * drains filter the sentinel rows back out of their result. */
  private def sentinels(s: SparkSession, n: Int,
      rows: (Long, String)*): Seq[(String, DataFrame)] = {
    import s.implicits._
    Seq("y_sentinel1", "z_sentinel2", "zz_sentinel3").take(n).zipWithIndex
      .map { case (file, i) =>
        val micros = (4102444800L + i * 86400L) * 1000000L
        s"$file.parquet" -> staged(rows.map { case (id, t) => (id, -1L, micros, t, 0.0) }
          .toDF("event_id", "user_id", "ts", "event_type", "value"))
      }
  }

  /** Tumbling event-time window counts per event type; late data beyond the
    * watermark is dropped, so state per (window, type) is finite. */
  def windowedTypeCounts(events: DataFrame,
      windowLen: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      // decimal sum: exact and summation-order-independent, so incremental
      // (streaming) and batch evaluation produce bit-identical totals
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming ingest deduplication — the training-data front-door shape:
    * drop events whose dedup key was already seen, with state bounded by
    * the watermark (an event older than the watermark can no longer
    * collide, so its key is dropped from state). Exactly-once per key
    * within the watermark horizon; state is hash-partitioned on the key
    * across executors. */
  def dedupStream(events: DataFrame,
      watermark: String = "30 minutes",
      keys: Seq[String] = Seq("event_id")): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Gap-based sessionization (same semantics as the batch
    * `events_sessionize` query): a session closes after `gapMinutes` of
    * per-user inactivity in event time. Sessions are emitted when the
    * watermark passes their close time (append mode), via per-user state in
    * flatMapGroupsWithState with an event-time timeout.
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30,
      watermark: String = "1 hour"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, batch: Iterator[Event], state: GroupState[OpenSession]) => {
          if (batch.isEmpty && state.hasTimedOut) {
            // watermark passed last event + gap: the open session is final
            val s = state.get
            state.remove()
            Iterator.single(
              Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total))
          } else {
            val sorted = batch.toArray.sortBy(e => (e.ts.getTime, e.event_id))
            val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
            var open = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              open match {
                case Some(s) if t - s.last <= gapMs =>
                  open = Some(OpenSession(s.start, math.max(s.last, t), s.n + 1,
                    s.total + e.value))
                case Some(s) =>
                  closed += Session(userId, new Timestamp(s.start),
                    new Timestamp(s.last), s.n, s.total)
                  open = Some(OpenSession(t, t, 1, e.value))
                case None =>
                  open = Some(OpenSession(t, t, 1, e.value))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.iterator
          }
        })
  }

  /** Watermarked stream-stream interval join — the attribution shape: each
    * `right` event (e.g. a purchase) joins the `left` events (e.g. clicks)
    * of the SAME user whose timestamp falls in the `joinWindow` before it.
    *
    * Both sides carry a watermark and the join condition bounds `l.ts`
    * relative to `r.ts` on both ends, so Spark derives a state-eviction
    * bound for BOTH sides: a buffered row is dropped once the other side's
    * watermark passes the last instant it could still match. State is
    * hash-partitioned on `user_id`; nothing is unbounded.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      watermark: String = "30 minutes",
      joinWindow: String = "15 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(r,
        col("l.user_id") === col("r.user_id") &&
          col("l.ts") <= col("r.ts") &&
          col("l.ts") >= col("r.ts") - expr(s"INTERVAL $joinWindow"))
      .select(
        col("l.user_id").as("user_id"),
        col("l.event_id").as("left_id"), col("l.ts").as("left_ts"),
        col("r.event_id").as("right_id"), col("r.ts").as("right_ts"))
  }

  /** Drain a real FILE STREAM of the events table through
    * [[windowedTypeCounts]] with Trigger.AvailableNow into a memory sink and
    * return the final table — the driver-checkable face of the streaming
    * module. The incremental plan (file-source micro-batches, watermarked
    * window state, complete-mode emission) must hash-match the plain batch
    * GROUP BY the DuckDB oracle runs; decimal sums make the totals
    * bit-identical regardless of micro-batch partial-aggregation order.
    * EAGER BY DESIGN: the drain runs at construction (it IS the streaming
    * execution under test); the returned plan reads the memory sink. */
  def drainWindowedCounts(s: SparkSession, d: String): DataFrame =
    drain("graft_stream_win_counts", OutputMode.Complete()) {
      // the streaming file source wants a DIRECTORY; select just the events
      // file out of the shared sfDir
      val src = openEventsStream(s, d, Map("pathGlobFilter" -> "events.parquet"))
      windowedTypeCounts(src, windowLen = "1 day", watermark = "1 hour")
    }.orderBy("window_start", "event_type")

  /** Drain the stateful sessionizer over a real file stream and return every
    * finalized session — the append-mode flagship: sessions only emit when
    * the WATERMARK passes their close time, so a naive one-batch drain of a
    * finite file emits nothing. Two far-future sentinel files (filtered back
    * out of the result) are staged after the events file with
    * maxFilesPerTrigger=1: batch 2 advances the watermark past most real
    * sessions and batch 3 past all of them, firing every event-time timeout
    * before the stream ends. Session arithmetic runs at ms precision
    * (Timestamp.getTime), so the batch oracle mirrors epoch_ms flooring;
    * totals are rounded to absorb sequential-double vs exact-decimal ulps.
    * EAGER BY DESIGN: the drain runs at construction. */
  def drainSessions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tmp = newStaging("graft_stream_sess")
    drain("graft_stream_sessions", OutputMode.Append(), Some(tmp)) {
      val schema = stage(tmp, ("a_events.parquet" -> stagedEvents(s, d)) +:
        sentinels(s, 2, -1L -> "sentinel"))
      sessionize(openStaged(s, tmp, schema).as[Event], gapMinutes = 30,
        watermark = "1 hour").toDF()
    }.filter(col("user_id") >= 0)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), round(col("total_value"), 6).as("total_value"))
      .orderBy("user_id", "session_start")
  }

  /** Drain the streaming ingest-dedup over a file stream that REPLAYS the
    * events file twice (two single-file micro-batches): the second pass is
    * 100% duplicate keys, so the deduped output must equal exactly one copy
    * — which is what the batch oracle aggregates. The watermark horizon is
    * set wider than the data's whole time span so no dedup state is
    * evicted mid-replay: `dropDuplicatesWithinWatermark` only guarantees
    * uniqueness within the horizon, and the gate's replay distance IS the
    * span of the file. (In production the horizon is the max expected
    * redelivery lag — hours — and state stays bounded; here exactness over
    * the finite gate data is the point.)
    * EAGER BY DESIGN: the drain runs at construction. */
  def drainDedup(s: SparkSession, d: String): DataFrame = {
    val tmp = newStaging("graft_stream_dedup")
    drain("graft_stream_dedup", OutputMode.Append(), Some(tmp)) {
      val events = stagedEvents(s, d)
      val schema = stage(tmp, Seq("a_events.parquet" -> events, "b_replay.parquet" -> events))
      dedupStream(openStaged(s, tmp, schema), watermark = "36500 days")
    }.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .orderBy("event_type")
  }

  /** Drain the watermarked stream-stream interval join over two file
    * streams of the same events directory (clicks vs purchases). Inner
    * interval joins emit a match as soon as both rows have arrived, so the
    * AvailableNow drain (both sides complete in the final micro-batch)
    * emits every qualifying pair; the oracle is the equivalent batch
    * self-join. EAGER BY DESIGN: the drain runs at construction. */
  def drainIntervalJoin(s: SparkSession, d: String): DataFrame = {
    def src() = openEventsStream(s, d, Map("pathGlobFilter" -> "events.parquet"))
    drain("graft_stream_ijoin", OutputMode.Append()) {
      intervalJoin(src().filter(col("event_type") === "click"),
        src().filter(col("event_type") === "purchase"),
        watermark = "30 minutes", joinWindow = "15 minutes")
    }.select(col("user_id"), col("left_id"), unix_micros(col("left_ts")).as("left_us"),
        col("right_id"), unix_micros(col("right_ts")).as("right_us"))
      .orderBy("left_id", "right_id")
  }

  /** Drain the LEFT-OUTER watermarked stream-stream interval join: every
    * click emits either its qualifying purchases (as they arrive, like the
    * inner join) or, once the watermark passes the end of its join window,
    * exactly one null-extended row — the state-EVICTION semantics an inner
    * join never exercises (an unmatched left row must be held until no
    * right row can still match, then emitted with nulls and dropped).
    * Two far-future sentinel files staged as extra single-file micro-batches
    * advance the watermark past every real event (batch N's watermark is
    * computed from batch N-1's max event time — the drainSessions trick), so
    * all unmatched clicks flush before the stream ends. The watermark is
    * applied BEFORE the event-type filter so the sentinel rows advance it on
    * both input streams; they are filtered from the join inputs and the
    * result. Oracle: the equivalent batch LEFT JOIN.
    * EAGER BY DESIGN: the drain runs at construction. */
  def drainIntervalJoinOuter(s: SparkSession, d: String): DataFrame = {
    val tmp = newStaging("graft_stream_ijoin_outer")
    // Sentinels are a click + purchase PAIR (user -1, filtered from the
    // result): Catalyst pushes the event_type filter below the
    // EventTimeWatermark node, so a 'sentinel'-typed row would never reach
    // the watermark tracker and the join's eviction clock would freeze at
    // the real data's max (measured: every unmatched click inside the final
    // watermark+window horizon stayed unflushed). Typed as click/purchase,
    // the sentinels survive both sides' pushed filters and advance both
    // watermarks; the same-instant pair matches itself and is dropped by
    // the user_id >= 0 result filter. Three watermark-advancing batches:
    // state cleanup consumes the watermark computed from the PREVIOUS
    // batch, so the last real unmatched rows flush one batch after the
    // first sentinel lands.
    drain("graft_stream_ijoin_outer", OutputMode.Append(), Some(tmp)) {
      val schema = stage(tmp, ("a_events.parquet" -> stagedEvents(s, d)) +:
        sentinels(s, 3, -1L -> "click", -2L -> "purchase"))
      def src() = openStaged(s, tmp, schema).withWatermark("ts", "30 minutes")
      val clicks = src().filter(col("event_type") === "click").alias("l")
      val buys = src().filter(col("event_type") === "purchase").alias("r")
      clicks.join(buys,
          col("l.user_id") === col("r.user_id") &&
            col("l.ts") <= col("r.ts") &&
            col("l.ts") >= col("r.ts") - expr("INTERVAL 15 minutes"),
          "leftOuter")
        .select(col("l.user_id").as("user_id"),
          col("l.event_id").as("left_id"), col("l.ts").as("left_ts"),
          col("r.event_id").as("right_id"), col("r.ts").as("right_ts"))
    }.filter(col("user_id") >= 0)
      .select(col("user_id"), col("left_id"), unix_micros(col("left_ts")).as("left_us"),
        col("right_id"), unix_micros(col("right_ts")).as("right_us"))
      .orderBy("left_id", "right_id")
  }

  /** Drain a stream-static enrichment join: the event file-stream joins the
    * static customer dimension at ingest — the canonical "enrich facts with
    * dims" streaming shape. The static side is re-planned (and broadcast)
    * per micro-batch; the join itself is stateless, so no watermark is
    * needed and the drained aggregate must equal the plain batch join the
    * oracle runs. Decimal sums keep totals independent of micro-batch
    * boundaries. EAGER BY DESIGN: the drain runs at construction. */
  def drainStreamStaticJoin(s: SparkSession, d: String): DataFrame = {
    val dim = graft.Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    drain("graft_stream_static", OutputMode.Complete()) {
      openEventsStream(s, d, Map("pathGlobFilter" -> "events.parquet"))
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
    }.orderBy("c_mktsegment", "event_type")
  }

  /** Per-key streaming EWMA — the recurrence e_i = α·x_i + β·e_{i-1}
    * (seeded e_0 = x_0) as an INCREMENTAL stateful operator: state per key
    * is one double (the last smoothed value), so an unbounded series
    * streams in O(1) memory — the streaming answer to the batch kernel's
    * buffer-the-whole-group shape (GroupKernels caps groups at 2M rows; this
    * form has no cap to need). Events are folded in (ts, event_id) order
    * within each micro-batch and the state carries the fold across batches,
    * so the output equals the batch kernel whenever ingestion preserves
    * per-key event-time order across batches (true of a log-compacted /
    * per-key-ordered source; the drain below stages files to guarantee it).
    */
  def ewmaStream(events: Dataset[Event], alpha: Double, beta: Double): Dataset[(Long, Double)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, batch: Iterator[Event], state: GroupState[Double]) => {
          val sorted = batch.toArray.sortBy(e => (e.ts.getTime, e.event_id))
          var acc = state.getOption
          val out = sorted.map { e =>
            val next = acc match {
              case Some(p) => alpha * e.value + beta * p
              case None    => e.value // seed: e_0 = x_0, same as the kernel
            }
            acc = Some(next)
            (e.event_id, next)
          }
          acc.foreach(state.update)
          out.iterator
        })
  }

  /** Drain the streaming EWMA over a file stream SPLIT AT THE GLOBAL
    * EVENT-TIME MIDPOINT into two micro-batches (maxFilesPerTrigger=1, mtime
    * order pinned): every key's early rows arrive in batch 1 and late rows
    * in batch 2, so the recurrence state must genuinely carry across
    * micro-batches — a single-batch drain would never exercise it. The
    * result must hash-match the batch ts_ewma oracle (same fold order, same
    * doubles), which is exactly the incremental == batch claim.
    * EAGER BY DESIGN: the drain runs at construction. */
  def drainEwma(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tmp = newStaging("graft_stream_ewma")
    drain("graft_stream_ewma", OutputMode.Append(), Some(tmp)) {
      // normalized epoch-micros view (same null filter as the batch kernel);
      // the midpoint math runs on the BIGINT micros column
      val raw = graft.Tables.events(s, d).filter(col("value").isNotNull)
      val mid = tsMidpoint(raw)
      // strict split: a key's batch-1 rows all precede its batch-2 rows in
      // event time, so per-key order across batches is preserved by mtime
      val schema = stage(tmp, Seq("a_early.parquet" -> staged(raw.filter(col("ts") < mid)),
        "b_late.parquet" -> staged(raw.filter(col("ts") >= mid))))
      ewmaStream(openStaged(s, tmp, schema).as[Event], alpha = 0.2, beta = 0.8)
        .toDF("event_id", "ewma_raw")
    }.select(col("event_id"), round(col("ewma_raw"), 6).as("ewma"))
      .orderBy("event_id")
  }

  /** Drain a windowed aggregation ACROSS A QUERY RESTART: the first
    * streaming query processes only the early half of the data and STOPS;
    * a second, separately-started query with the SAME checkpoint resumes —
    * recovering the aggregation state and the file-source progress log from
    * the checkpoint, not from the first query's in-memory anything — and
    * absorbs the late half. The final Complete-mode table must equal the
    * plain batch aggregate: that is exactly-once recovery, the property a
    * production stream restarts on (executor loss, redeploy) every day.
    * Nothing else in the drain suite kills and restarts a query.
    * EAGER BY DESIGN: both drains run at construction. */
  def drainCheckpointRecovery(s: SparkSession, d: String): DataFrame = {
    val tmp = newStaging("graft_stream_ckpt")
    val data = Files.createDirectories(tmp.resolve("data"))
    val ckpt = Some(tmp.resolve("checkpoint").toString)
    val raw = graft.Tables.events(s, d)
    def agg(schema: StructType): DataFrame = openStaged(s, data, schema)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
    drain("graft_ckpt_phase2", OutputMode.Complete(), Some(tmp), ckpt) {
      val mid = tsMidpoint(raw)
      // phase 1: only the early half exists; the query drains it and STOPS
      val schema = stage(data, Seq("a_early.parquet" -> staged(raw.filter(col("ts") < mid))))
      drain("graft_ckpt_phase1", OutputMode.Complete(), checkpoint = ckpt)(agg(schema))
      // phase 2: the late half lands; a NEW query on the SAME checkpoint
      // resumes from the recovered state + source progress
      stage(data, Seq("b_late.parquet" -> staged(raw.filter(col("ts") >= mid))),
        first = 1)
      agg(schema)
    }.orderBy("event_type")
  }

  /** Drain a CDC-style LATEST-STATE materialized view: each event is an
    * update to its user's row, and the view maintains, per user, the value
    * of the latest (ts, event_id) update seen so far — the streaming
    * "current state of the world" table every CDC pipeline keeps. A
    * Complete-mode `max_by(update, (ts, event_id))` aggregation carries
    * the argmax across micro-batches in state (one row per key, no
    * watermark needed: the view is by definition over ALL updates); the
    * drain splits the file at the event-time midpoint so batch 2 must
    * OVERWRITE batch 1's winners for every key active in both halves.
    * Oracle: the equivalent batch argmax. EAGER BY DESIGN: the drain runs
    * at construction. */
  def drainLatestState(s: SparkSession, d: String): DataFrame = {
    val tmp = newStaging("graft_stream_latest")
    drain("graft_stream_latest", OutputMode.Complete(), Some(tmp)) {
      val raw = graft.Tables.events(s, d)
      val mid = tsMidpoint(raw)
      val schema = stage(tmp, Seq("a_early.parquet" -> staged(raw.filter(col("ts") < mid)),
        "b_late.parquet" -> staged(raw.filter(col("ts") >= mid))))
      openStaged(s, tmp, schema)
        .groupBy("user_id")
        .agg(
          max_by(struct(col("value"), col("event_type")),
            struct(col("ts"), col("event_id"))).as("last"),
          max_by(col("event_id"), struct(col("ts"), col("event_id")))
            .as("last_event_id"),
          count(lit(1)).as("n_updates"))
        .select(col("user_id"), col("last_event_id"),
          col("last.value").as("last_value"),
          col("last.event_type").as("last_type"), col("n_updates"))
    }.select(col("user_id"), col("last_event_id"),
        round(col("last_value"), 6).as("last_value"), col("last_type"),
        col("n_updates"))
      .orderBy("user_id")
  }

  /** Out-of-order-safe streaming EWMA: a watermark-delayed per-key REORDER
    * BUFFER in front of the [[ewmaStream]] fold. [[ewmaStream]] is correct
    * only when ingestion preserves per-key event-time order across
    * micro-batches; this form drops that requirement — any source whose
    * disorder is bounded by the watermark delay folds identically to batch.
    *
    * Mechanics: rows buffer in state until the event-time watermark passes
    * them (a row at time t is safe to fold once watermark >= t, because any
    * unseen row earlier than t would be late beyond the delay and dropped
    * by the watermark filter on both engines' definitions). Each invocation
    * flushes the now-safe prefix in (ts, event_id) order through the
    * recurrence and re-arms an event-time timeout at the earliest still
    * buffered row, so the tail flushes on watermark advance even with no
    * further data for the key. State per key = one double + only the rows
    * inside the watermark horizon (delay x per-key rate — bounded by the
    * same contract that bounds every watermarked stateful op here; the
    * whole-series buffer the batch kernel needs never materializes). */
  def ewmaReorderedStream(events: Dataset[Event], alpha: Double, beta: Double,
      watermark: String): Dataset[(Long, Double)] = {
    val spark = events.sparkSession
    import spark.implicits._
    def micros(t: Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: Long, batch: Iterator[Event], state: GroupState[EwmaReorder]) => {
          val prior = state.getOption.getOrElse(EwmaReorder(Nil, None))
          val incoming = batch.map(e => (micros(e.ts), e.event_id, e.value)).toSeq
          val wmMs = state.getCurrentWatermarkMs()
          // Defensive contract pin (round-9 advice): Spark's watermark
          // filter drops beyond-delay-late rows BEFORE this function sees
          // them, and the reorder correctness rests on that — an incoming
          // row already below the watermark would otherwise be folded as
          // "immediately safe" AFTER later-timestamped rows were emitted,
          // silently corrupting the recurrence. Enforce the drop here so
          // the assumption is local, not inherited.
          val onTime = incoming
            .filter(r => Math.floorDiv(r._1, 1000L) >= wmMs || wmMs == 0L)
          // safe = can no longer be preceded by an unseen earlier row
          val (safe, pending) = (prior.pending ++ onTime)
            .partition(r => Math.floorDiv(r._1, 1000L) < wmMs)
          var acc = prior.acc
          val out = safe.sortBy(r => (r._1, r._2)).map { case (_, id, x) =>
            val next = acc match {
              case Some(p) => alpha * x + beta * p
              case None    => x // seed: e_0 = x_0, same as the batch kernel
            }
            acc = Some(next)
            (id, next)
          }
          state.update(EwmaReorder(pending, acc))
          if (pending.nonEmpty)
            // re-arm at the earliest buffered row (strictly past the
            // current watermark, as the API requires)
            state.setTimeoutTimestamp(
              math.max(Math.floorDiv(pending.map(_._1).min, 1000L), wmMs + 1))
          out.iterator
        })
  }

  /** Drain [[ewmaReorderedStream]] over a DELIBERATELY DISORDERED staging:
    * the events file splits at the global event-time midpoint, but the
    * odd-event_id rows of the day BEFORE the midpoint are withheld from
    * batch 1 and arrive in batch 2 — after batch 2's later data is already
    * known to the source. Cross-batch disorder (bounded by the 2-day
    * watermark delay > 1-day displacement, so nothing is late-dropped) is
    * exactly what [[ewmaStream]]'s ordered-source contract cannot absorb;
    * the reorder buffer must interleave the stragglers back into each key's
    * fold. Two far-future sentinel rows (user -1, filtered from the result)
    * advance the watermark so every buffered row flushes before the drain
    * ends. Must hash-match the SAME oracle as the batch ts_ewma kernel:
    * incremental == batch on disordered input, bit-for-bit.
    * EAGER BY DESIGN: the drain runs at construction. */
  def drainEwmaReordered(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tmp = newStaging("graft_stream_ewma_ro")
    drain("graft_stream_ewma_reorder", OutputMode.Append(), Some(tmp)) {
      val raw = graft.Tables.events(s, d).filter(col("value").isNotNull)
      val mid = tsMidpoint(raw)
      val dayUs = 86400L * 1000000L
      // stragglers: the day before the midpoint, odd event_ids only
      val straggler = col("ts") >= mid - dayUs && col("ts") < mid &&
        col("event_id") % 2 === 1
      val schema = stage(tmp, Seq(
        "a_early.parquet" -> staged(raw.filter(col("ts") < mid && !straggler)),
        "b_late.parquet" -> staged(raw.filter(col("ts") >= mid || straggler))) ++
        sentinels(s, 2, -1L -> "sentinel"))
      ewmaReorderedStream(openStaged(s, tmp, schema).as[Event], alpha = 0.2,
        beta = 0.8, watermark = "48 hours").toDF("event_id", "ewma_raw")
    }.filter(col("event_id") >= 0)
      .select(col("event_id"), round(col("ewma_raw"), 6).as("ewma"))
      .orderBy("event_id")
  }

  /** Drain the streaming MinHash near-duplicate detector — the streaming
    * half of dedup_minhash_append: an ingest pipeline flags each arriving
    * document against everything already ingested WITHOUT re-signing the
    * corpus. Documents are staged as two micro-batches (split on doc_id %
    * 3, so cross-batch duplicates must pair against state built earlier);
    * each arriving doc is signed once (the same 16x4 band rows as the
    * batch path — a signature depends only on its own document), and a
    * stateful drain keyed on the (band_id, sig) BUCKET keeps the bucket's
    * member ids as state, emitting a candidate pair the moment a new doc
    * lands in a non-empty bucket. Candidates = co-bucket membership, an
    * arrival-order-independent set, so after batch-side exact-jaccard
    * verification the drained result hash-matches the all-pairs batch
    * oracle (dedup_minhash_lsh's). State is one id list per OCCUPIED band
    * bucket — the same size as the batch path's band-row table; a
    * production drain ages buckets out with a timeout/TTL, which this
    * finite gate does not need (NoTimeout keeps the equality exact).
    * EAGER BY DESIGN: the drain runs at construction. */
  def drainMinhashDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.documents(s, d).select(col("doc_id"), col("text"))
    val tmp = newStaging("graft_stream_mh")
    val pairs = drain("graft_stream_minhash", OutputMode.Append(), Some(tmp)) {
      val src = openStaged(s, tmp, stage(tmp, Seq(
        "a_docs.parquet" -> docs.filter(col("doc_id") % 3 < 2),
        "b_docs.parquet" -> docs.filter(col("doc_id") % 3 === 2))))
      graft.queries.VectorOps
        .minhashBandRowsOf(s, src, nBands = 16, rowsPerBand = 4)
        .as[(Long, Int, Long)]
        .groupByKey(r => (r._2, r._3))
        .flatMapGroupsWithState[Seq[Long], (Long, Long)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (_, rows, state: GroupState[Seq[Long]]) =>
            val seen = state.getOption.getOrElse(Seq.empty[Long])
            val fresh = rows.map(_._1).toSeq.distinct.sorted
            // new-vs-stored plus the pairs completed within this batch.
            // n != o + distinct state: this gate's staging is disjoint, but
            // the operator must stay safe under re-delivery (same defensive
            // contract as minhashCandidatesTtl — a replayed doc_id must not
            // self-pair or duplicate its bucket-membership row)
            val cross = for (n <- fresh; o <- seen if n != o)
              yield (math.min(n, o), math.max(n, o))
            val within = for {
              i <- fresh.indices
              j <- (i + 1) until fresh.length
            } yield (fresh(i), fresh(j))
            state.update((seen ++ fresh).distinct)
            (cross ++ within).iterator
        }
        .toDF("id_a", "id_b")
    }
    // a pair colliding in several bands is emitted once per band: distinct
    // BEFORE the exact verification, like the batch candidate generator
    graft.queries.VectorOps
      .jaccardVerify(s, d, pairs.distinct())
      .orderBy("id_a", "id_b")
  }

  /** Event-time-TTL form of [[drainMinhashDedup]]'s stateful core — the
    * PRODUCTION variant of the one streaming claim round 10 documented
    * but did not prove. The finite-gate drain keeps NoTimeout because its
    * contract is exact equality to the batch oracle over a bounded
    * corpus; a perpetual crawl ingest instead bounds state by aging each
    * (band, sig) bucket out once the event-time watermark passes its
    * last activity plus `ttlMs`. The semantic trade is explicit: only
    * pairs whose members arrive within the TTL horizon of each other are
    * discovered (SCALE.md's documented production setting), in exchange
    * for state proportional to the ACTIVE window, not the corpus —
    * StreamStateTtlSpec drives a 12-day synthetic stream through this
    * and asserts the state-row count plateaus at the horizon size and
    * that a cross-horizon duplicate is (by contract) not paired.
    * Input: (doc_id, band_id, sig, ts) band rows; the watermark is
    * applied here so callers cannot forget it (EventTimeTimeout without
    * one fails at query start). */
  def minhashCandidatesTtl(bands: DataFrame, watermark: String,
      ttlMs: Long): Dataset[(Long, Long)] = {
    val s = bands.sparkSession
    import s.implicits._
    bands
      .withWatermark("ts", watermark)
      .as[(Long, Int, Long, Timestamp)]
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState[Seq[Long], (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, rows, state: GroupState[Seq[Long]]) =>
          if (state.hasTimedOut) {
            state.remove() // bucket aged out: release the id list
            Iterator.empty
          } else {
            val rs = rows.toSeq
            val seen = state.getOption.getOrElse(Seq.empty[Long])
            val fresh = rs.map(_._1).distinct.sorted
            // n != o: a re-delivered doc_id (replayed batch, re-crawled
            // identical doc) re-enters its bucket within the TTL — without
            // the guard, fresh x seen emits the degenerate (x, x) pair,
            // which downstream jaccard verification would "confirm" at 1.0
            val cross = for (n <- fresh; o <- seen if n != o)
              yield (math.min(n, o), math.max(n, o))
            val within = for {
              i <- fresh.indices
              j <- (i + 1) until fresh.length
            } yield (fresh(i), fresh(j))
            // distinct: the same re-delivery must not store the id twice
            // (duplicated state re-emits the id's pairs on every later
            // arrival AND grows the bucket past its true membership)
            state.update((seen ++ fresh).distinct)
            // TTL clock = this bucket's newest event time (all rows here
            // passed the watermark, so the timestamp is always ahead of it)
            state.setTimeoutTimestamp(rs.map(_._4.getTime).max + ttlMs)
            (cross ++ within).iterator
          }
      }
  }

  /** Event-time-TTL form of [[drainCuration]]'s digest-keyed exact-dedup
    * state, same contract shift as [[minhashCandidatesTtl]]: "first
    * occurrence" becomes "first occurrence within the TTL horizon" — a
    * digest unseen for longer than `ttlMs` of event time is forgotten,
    * and its next arrival is kept again. That IS the production dedup
    * policy for a perpetual crawl (content recurring a year apart is
    * usually legitimate to re-keep; unbounded digest state is not an
    * option), and the horizon re-keep is pinned in StreamStateTtlSpec
    * alongside the state plateau. Input: (doc_id, digest, ts). Output:
    * (doc_id, kept-as-first-within-horizon). */
  def digestFirstSeenTtl(staged: DataFrame, watermark: String,
      ttlMs: Long): Dataset[(Long, Boolean)] = {
    val s = staged.sparkSession
    import s.implicits._
    staged
      .withWatermark("ts", watermark)
      .as[(Long, String, Timestamp)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Boolean, (Long, Boolean)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, rows, state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val rs = rows.toSeq
            val seen = state.getOption.getOrElse(false)
            val sorted = rs.sortBy(_._1)
            state.update(true)
            state.setTimeoutTimestamp(rs.map(_._3.getTime).max + ttlMs)
            sorted.iterator.zipWithIndex.map { case ((id, _, _), i) =>
              (id, !seen && i == 0)
            }
          }
      }
  }

  /** Shared staging schedule for the two TTL-drain REGISTRY entries: the
    * production-shaped TTL operators ([[minhashCandidatesTtl]] /
    * [[digestFirstSeenTtl]]) were state-bound-PROVEN by StreamStateTtlSpec
    * in r11 but had no driver-checked correctness row of their own. The
    * schedule makes the TTL semantics exactly SQL-expressible: documents
    * split into two ERAS (era A = doc_id % 4 in {0,1} staged at days 0 and
    * 1; era B = doc_id % 4 in {2,3} staged at days 10 and 11), with two
    * one-row SENTINEL batches at days 5 and 6 between them. With ttl = 2
    * days and a 1-hour watermark delay:
    *   - WITHIN an era, state stays alive across the era's two batches
    *     (at the day-(d+1) batch the watermark is day d − 1 h, below every
    *     day-d timeout of day d + 2), so in-era behavior equals the exact
    *     NoTimeout drains;
    *   - ACROSS eras, every era-A key times out at the SECOND sentinel
    *     batch (watermark there = day 5 − 1 h, past all era-A timeouts of
    *     day ≤ 3; era-A keys have no data in it, which is when Spark fires
    *     timeouts — a key with data in a batch is never timed out, hence
    *     TWO sentinels: the first one's own event time is what hoists the
    *     watermark for the second), so era B starts from empty state.
    * Net: the drained result is exactly the batch semantics restricted to
    * same-era keys/pairs — a plain SQL predicate, which is what turns the
    * TTL contract into a driver hash row. Sentinels carry negative doc_ids
    * and vocabulary-free text, so they never pair, collide, or survive the
    * id >= 0 output filter. */
  private val TtlDayMs = 86400L * 1000L
  private val TtlT0 = 30L * TtlDayMs // clear of epoch 0 (initial watermark)
  private def ttlDayOf(docId: Column): Column =
    when(docId === -1L, lit(5L)).when(docId === -2L, lit(6L))
      .otherwise(expr(
        "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 10 ELSE 11 END"))
  private def ttlTs(docId: Column): Column =
    timestamp_millis(lit(TtlT0) + ttlDayOf(docId) * lit(TtlDayMs))
  /** Stage the 4 era batches + 2 sentinels of `frame` (must carry doc_id)
    * into `dir` in event-time order; returns their schema. */
  private def stageTtlSchedule(dir: Path, frame: DataFrame,
      sentinel: Long => DataFrame): StructType =
    stage(dir, Seq(
      "b0.parquet" -> frame.filter(col("doc_id") % 4 === 0),
      "b1.parquet" -> frame.filter(col("doc_id") % 4 === 1),
      "s5.parquet" -> sentinel(-1L),
      "s6.parquet" -> sentinel(-2L),
      "b10.parquet" -> frame.filter(col("doc_id") % 4 === 2),
      "b11.parquet" -> frame.filter(col("doc_id") % 4 === 3)))

  /** Drain [[digestFirstSeenTtl]] — the PRODUCTION-shaped first-occurrence
    * dedup with event-time TTL — over the two-era schedule. Semantics under
    * the schedule: "kept" = first (day, doc_id)-ordered occurrence of the
    * digest WITHIN ITS ERA (era-A digests age out at the second sentinel,
    * so era B re-keeps recurring content — the documented horizon re-keep).
    * Oracle: one row_number over (digest, era). EAGER BY DESIGN: the drain
    * runs at construction. */
  def drainDedupTtl(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("digest"))
      .withColumn("ts", ttlTs(col("doc_id")))
    def sentinel(id: Long) =
      Seq((id, s"__sentinel_$id")).toDF("doc_id", "digest")
        .withColumn("ts", ttlTs(col("doc_id")))
    val tmp = newStaging("graft_stream_dedup_ttl")
    drain("graft_stream_dedup_ttl", OutputMode.Append(), Some(tmp)) {
      val src = openStaged(s, tmp, stageTtlSchedule(tmp, docs, sentinel))
      digestFirstSeenTtl(src.select("doc_id", "digest", "ts"),
        watermark = "1 hour", ttlMs = 2L * TtlDayMs).toDF("doc_id", "kept")
    }.filter(col("doc_id") >= 0).orderBy("doc_id")
  }

  /** Drain [[minhashCandidatesTtl]] — the TTL-bounded near-dup candidate
    * discovery — over the same two-era schedule, then batch-verify exact
    * jaccard like every minhash consumer. Era-A buckets age out before era
    * B arrives, so the drained pair set is exactly the all-pairs >= 0.9
    * oracle RESTRICTED TO SAME-ERA PAIRS — the TTL trade ("only pairs
    * arriving within the horizon of each other are discovered") as a
    * hash-checked driver row. EAGER BY DESIGN: the drain runs at
    * construction. */
  def drainMinhashDedupTtl(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.documents(s, d).select(col("doc_id"), col("text"))
    def sentinel(id: Long) =
      Seq((id, s"sentinelword$id")).toDF("doc_id", "text")
    val tmp = newStaging("graft_stream_mh_ttl")
    val pairs = drain("graft_stream_minhash_ttl", OutputMode.Append(), Some(tmp)) {
      val src = openStaged(s, tmp, stageTtlSchedule(tmp, docs, sentinel))
      val bands = graft.queries.VectorOps
        .minhashBandRowsOf(s, src, nBands = 16, rowsPerBand = 4)
        .withColumn("ts", ttlTs(col("doc_id")))
        .select("doc_id", "band_id", "sig", "ts")
      minhashCandidatesTtl(bands, watermark = "1 hour", ttlMs = 2L * TtlDayMs)
        .toDF("id_a", "id_b")
    }
    // once per colliding band -> distinct BEFORE exact verification; the
    // verify join against the real documents table drops sentinel ids
    graft.queries.VectorOps
      .jaccardVerify(s, d, pairs.distinct())
      .orderBy("id_a", "id_b")
  }

  /** Drain ONLINE ANN serving against the DURABLE IVF index — the last
    * verb of the vector-store lifecycle (create = ann_index_store_gate,
    * append, delete/compact, retrain-decision, and now SERVE): a stream of
    * query vectors is answered per micro-batch from the stored inverted
    * file, which is READ, never rebuilt (same `ivf_inverted` artifact key
    * as ann_ivf_topk; IndexStoreSpec pins that serving leaves the stored
    * file untouched). Per micro-batch the plan is the batch query path's:
    * probe each query's nProbe nearest cells (codebook broadcast in the
    * probe udf), stream-static equi-join on cell against the index — the
    * cell-pruned candidate join, ~nProbe/k of the corpus per query — then
    * exact cosine and per-query top-k. The top-k fold runs in a
    * flatMapGroupsWithState keyed on qid (stateless NoTimeout use: a
    * query's candidates all arrive in its own micro-batch; streaming
    * cannot sort/window in append mode, and the per-group fold is the
    * same bounded top-k a serving node computes). Queries stage as two
    * micro-batches, so the second batch must be answered from the SAME
    * static index frame the first used. Oracle: ann_ivf_topk's own
    * trained-IVF CTE chain — serve == batch, hash-checked.
    * EAGER BY DESIGN: the drain runs at construction. */
  def drainAnnTopK(s: SparkSession, d: String, k: Int, nProbe: Int,
      topK: Int): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val (inverted, centers) = graft.queries.VectorOps.ivfIndexHandle(s, d, k)
    // the standing query sample (qid, qe, qn) — same set as the batch path
    val queries = inverted.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    val tmp = newStaging("graft_stream_ann")
    drain("graft_stream_ann", OutputMode.Append(), Some(tmp)) {
      val src = openStaged(s, tmp, stage(tmp, Seq(
        "a_queries.parquet" -> queries.filter(col("qid") % 100 === 0),
        "b_queries.parquet" -> queries.filter(col("qid") % 100 =!= 0))))
      val probe = graft.queries.VectorOps.ivfProbeUdf(centers, nProbe)
      src
        .withColumn("cell", explode(probe(col("qe"))))
        .join(inverted.select(col("vec_id").as("nid"), col("cell"),
          col("e"), col("nrm")), Seq("cell"))
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          (call_function("vec_dot", col("qe"), col("e")) /
            (col("qn") * col("nrm"))).as("c"))
        // rank on the raw double, OUTPUT the 6dp rounding — computed here by
        // Spark's own ROUND so it is bit-identical to the batch path's
        .withColumn("cr", round(col("c"), 6))
        .as[(Long, Long, Double, Double)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[Int, (Long, Long, Long, Double)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (qid, rows, _: GroupState[Int]) =>
            rows.toSeq.sortBy(r => (-r._3, r._2)).take(topK).zipWithIndex
              .map { case ((_, nid, _, cr), i) => (qid, (i + 1).toLong, nid, cr) }
              .iterator
        }
        .toDF("qid", "rnk", "nid", "cos")
    }.orderBy("qid", "rnk")
  }

  /** Drain ONLINE BM25 serving against the DURABLE term-weight index —
    * the lexical twin of [[drainAnnTopK]], completing the serving story
    * for BOTH retrieval sides (a hybrid stack serves dense and lexical
    * from stored indexes; sim_rrf_* proved the fusion, these two prove
    * the serving reads). A stream of query-term rows (qid, w, qi — the
    * same standing <= 8-term table the batch entry derives) is answered
    * per micro-batch: stream-static equi-join on the term against the
    * stored (doc_id, w, wbm) index (the posting-list probe — per query
    * it touches only its terms' postings), then a per-qid
    * flatMapGroupsWithState fold replicates the batch entry's score
    * EXACTLY — one slot per query-term index, slots folded left-to-right
    * in term order, missing slots +0.0, HALF_UP 6dp rounding — and emits
    * the top-k. All of a query's candidates arrive in its own micro-batch
    * (stateless NoTimeout use, like drainAnnTopK). Oracle:
    * sim_bm25_topk's own — serve == batch, hash-checked.
    * EAGER BY DESIGN: the drain runs at construction. */
  def drainBm25TopK(s: SparkSession, d: String, topN: Int): DataFrame = {
    import s.implicits._
    val wgt = graft.queries.LlmText.bm25Weights(s, d)
    val queries = graft.queries.LlmText
      .bm25QueryTerms(graft.Tables.documents(s, d))
    val tmp = newStaging("graft_stream_bm25")
    drain("graft_stream_bm25", OutputMode.Append(), Some(tmp)) {
      openStaged(s, tmp, stage(tmp, Seq(
        "a_queries.parquet" -> queries.filter(col("qid") % 100 === 0),
        "b_queries.parquet" -> queries.filter(col("qid") % 100 =!= 0))))
        .join(wgt.select(col("doc_id").as("nid"), col("w"), col("wbm")), Seq("w"))
        .filter(col("nid") =!= col("qid"))
        .select(col("qid"), col("nid"), col("qi"), col("wbm"))
        .as[(Long, Long, Int, Double)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[Int, (Long, Long, Long, Double)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (qid, rows, _: GroupState[Int]) =>
            // per-candidate 8-slot fill (at most one posting per (nid, qi)),
            // then the batch entry's exact left-to-right fold + rounding
            val slots = scala.collection.mutable.Map.empty[Long, Array[Double]]
            rows.foreach { case (_, nid, qi, wbm) =>
              slots.getOrElseUpdate(nid, Array.fill(8)(0.0))(qi) = wbm
            }
            slots.iterator.map { case (nid, sl) =>
              val raw = sl.foldLeft(0.0)(_ + _)
              val score = BigDecimal(raw)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
              (nid, score)
            }.toSeq
              .sortBy { case (nid, sc) => (-sc, nid) }
              .take(topN).zipWithIndex
              .map { case ((nid, sc), i) => (qid, (i + 1).toLong, nid, sc) }
              .iterator
        }
        .toDF("qid", "rnk", "nid", "score")
    }.orderBy("qid", "rnk")
  }

  /** Drain the FULL HYBRID RETRIEVAL QUERY PATH online — the capstone of
    * the serving story: one query stream carrying BOTH representations
    * (the embedding and the <= 8 standing terms, null where a query
    * exists on one side only — the dense sample is vec_id % 50, the
    * lexical one doc_id % 50, and the fusion's FULL-OUTER semantics must
    * survive the uneven sets), answered per micro-batch from BOTH durable
    * indexes: the IVF inverted file (cell-probe equi-join) and the BM25
    * weight table (posting probe), candidates unioned into one per-query
    * group fold that replicates the batch fusion EXACTLY — dense ranked
    * on the raw cosine, lexical on the HALF_UP-6dp-rounded slot score,
    * both capped at top-20, RRF = 1/(60+rank) summed dense-then-lexical
    * (absent side +0.0), re-ranked by (rrf DESC, nid), top 3, 6dp. Same
    * oracle as sim_rrf_ann_topk (the trained-IVF + BM25 fused CTE chain):
    * the ONLINE hybrid path hash-matches the batch fusion, reading both
    * stores without rebuilding either. EAGER BY DESIGN: the drain runs at
    * construction. */
  def drainRrfTopK(s: SparkSession, d: String, k: Int,
      nProbe: Int): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val (inverted, centers) = graft.queries.VectorOps.ivfIndexHandle(s, d, k)
    val wgt = graft.queries.LlmText.bm25Weights(s, d)
    val denseQ = inverted.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    val termQ = graft.queries.LlmText
      .bm25QueryTerms(graft.Tables.documents(s, d))
      .groupBy("qid")
      .agg(collect_list(struct(col("w"), col("qi"))).as("terms"))
    val queries = denseQ.join(termQ, Seq("qid"), "full")
    val tmp = newStaging("graft_stream_rrf")
    drain("graft_stream_rrf", OutputMode.Append(), Some(tmp)) {
      val src = openStaged(s, tmp, stage(tmp, Seq(
        "a_queries.parquet" -> queries.filter(col("qid") % 100 === 0),
        "b_queries.parquet" -> queries.filter(col("qid") % 100 =!= 0))))
      val probe = graft.queries.VectorOps.ivfProbeUdf(centers, nProbe)
      val dcand = src.filter(col("qe").isNotNull)
        .withColumn("cell", explode(probe(col("qe"))))
        .join(inverted.select(col("vec_id").as("nid"), col("cell"),
          col("e"), col("nrm")), Seq("cell"))
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"), lit(0).as("side"), lit(0).as("qi"),
          (call_function("vec_dot", col("qe"), col("e")) /
            (col("qn") * col("nrm"))).as("v"))
      val lcand = src.filter(col("terms").isNotNull)
        .select(col("qid"), explode(col("terms")).as("t"))
        .select(col("qid"), col("t.w").as("w"), col("t.qi").as("qi"))
        .join(wgt.select(col("doc_id").as("nid"), col("w"), col("wbm")), Seq("w"))
        .filter(col("nid") =!= col("qid"))
        .select(col("qid"), col("nid"), lit(1).as("side"), col("qi"),
          col("wbm").as("v"))
      dcand.unionByName(lcand).as[(Long, Long, Int, Int, Double)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[Int, (Long, Long, Long, Double)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (qid, rows, _: GroupState[Int]) =>
            val dense = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
            val slots = scala.collection.mutable.Map.empty[Long, Array[Double]]
            rows.foreach {
              case (_, nid, 0, _, c)    => dense += ((nid, c))
              case (_, nid, _, qi, wbm) =>
                slots.getOrElseUpdate(nid, Array.fill(8)(0.0))(qi) = wbm
            }
            // dense rank on the RAW cosine (the batch IVF window's order);
            // lexical rank on the ROUNDED slot score (the batch BM25's)
            val ra = dense.sortBy { case (nid, c) => (-c, nid) }
              .take(20).zipWithIndex
              .map { case ((nid, _), i) => nid -> (i + 1) }.toMap
            val rb = slots.iterator.map { case (nid, sl) =>
              nid -> BigDecimal(sl.foldLeft(0.0)(_ + _))
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            }.toSeq.sortBy { case (nid, sc) => (-sc, nid) }
              .take(20).zipWithIndex
              .map { case ((nid, _), i) => nid -> (i + 1) }.toMap
            (ra.keySet ++ rb.keySet).toSeq.map { nid =>
              val fa = ra.get(nid).map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
              val fb = rb.get(nid).map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
              (nid, fa + fb)
            }.sortBy { case (nid, rrf) => (-rrf, nid) }
              .take(3).zipWithIndex
              .map { case ((nid, rrf), i) =>
                (qid, (i + 1).toLong, nid, BigDecimal(rrf)
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
              }.iterator
        }
        .toDF("qid", "rnk", "nid", "rrf")
    }.orderBy("qid", "rnk")
  }

  /** Drain the ONLINE curation chain — the ingest-time half of
    * `curation_e2e`: language ID, the C4 quality gate, and the
    * deterministic hash hold-out are stateless per-row verdicts computed
    * as documents arrive; exact first-occurrence dedup is KEYED STATE on
    * the content digest (state = "digest seen", the streaming equivalent
    * of the md5 groupBy). Near-dup resolution is deliberately absent:
    * components are a corpus-global artifact (its online counterpart is
    * stream_minhash_dedup's candidate discovery). Documents stage as two
    * micro-batches split at the doc_id midpoint — id-ordered staging
    * makes cross-batch first-occurrence deterministic and equal to the
    * batch rule (first = min doc_id per digest): a digest's minimum id
    * arrives in the earliest batch that contains the digest, and within
    * that batch the group is folded in id order. Oracle: the same
    * verdict SQL as curation_e2e minus the near-dup stage.
    * EAGER BY DESIGN: the drain runs at construction. */
  def drainCuration(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    val mid = docIdMidpoint(s, d)
    val tmp = newStaging("graft_stream_cur")
    drain("graft_stream_curation", OutputMode.Append(), Some(tmp)) {
      val src = openStaged(s, tmp, stage(tmp, Seq(
        "a_docs.parquet" -> docs.filter(col("doc_id") <= mid),
        "b_docs.parquet" -> docs.filter(col("doc_id") > mid))))
      graft.queries.Curation.stagedVerdicts(src)
        .as[(Long, String, String, Boolean, String)]
        .groupByKey(_._5) // content digest
        .flatMapGroupsWithState[Boolean, (Long, String, String, Boolean, Boolean)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (_, rows, state: GroupState[Boolean]) =>
            val seen = state.getOption.getOrElse(false)
            val sorted = rows.toSeq.sortBy(_._1)
            state.update(true)
            sorted.iterator.zipWithIndex.map { case ((id, l, c4, sm, _), i) =>
              (id, l, c4, !seen && i == 0, sm)
            }
        }
        .toDF("doc_id", "lang_id", "c4_verdict", "exact_first", "sampled")
    }.withColumn("final_keep",
        col("lang_id") =!= "und" && col("c4_verdict") === "keep" &&
          col("exact_first") && col("sampled"))
      .orderBy("doc_id")
  }

  /** Drain ONLINE greedy sequence packing — the streaming counterpart of
    * [[graft.queries.LlmText.packSequences]]'s two-phase prefix sum: as
    * documents arrive, each language's running token total assigns the
    * doc to its training bin. The batch op needs the shard/offset trick
    * to avoid a one-reducer-per-language window; ONLINE the problem
    * dissolves — the per-language fold is keyed state of exactly ONE
    * long (the cumulative count), updated incrementally per micro-batch.
    * Determinism: doc_id-midpoint staging keeps cross-batch arrival in
    * id order and each batch's group folds in id order, so the stream's
    * running sum equals the batch window's — same oracle as
    * pack_sequences. EAGER BY DESIGN: the drain runs at construction. */
  def drainPackSequences(s: SparkSession, d: String, budget: Long): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val mid = docIdMidpoint(s, d)
    val tmp = newStaging("graft_stream_pack")
    drain("graft_stream_pack", OutputMode.Append(), Some(tmp)) {
      openStaged(s, tmp, stage(tmp, Seq(
        "a_docs.parquet" -> docs.filter(col("doc_id") <= mid),
        "b_docs.parquet" -> docs.filter(col("doc_id") > mid))))
        .as[(Long, String, Long)]
        .groupByKey(_._2)
        .flatMapGroupsWithState[Long, (Long, String, Long, Long)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (_, rows, state: GroupState[Long]) =>
            var cum = state.getOption.getOrElse(0L)
            val res = rows.toSeq.sortBy(_._1).map { case (id, lg, n) =>
              cum += n
              (id, lg, n, (cum - 1) / budget)
            }
            state.update(cum)
            res.iterator
        }
        .toDF("doc_id", "lang", "n_tokens", "bin_id")
    }.orderBy("doc_id")
  }

  /** Batch view of the events parquet as the streaming Event dataset
    * (`timestamp_micros` — exact, not a lossy double division). */
  def batchEvents(spark: SparkSession, sfDir: String): Dataset[Event] = {
    import spark.implicits._
    graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("ts")).as("ts"),
        col("event_type"), col("value"))
      .as[Event]
  }
}
