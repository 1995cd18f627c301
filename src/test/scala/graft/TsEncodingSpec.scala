package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Regression fixtures for the round-7 events.ts schema drift: the driver
  * has shipped events.parquet with ts as TIMESTAMP(NANOS)-read-as-int64, as
  * timestamp[us] without zone (TIMESTAMP_NTZ), and could ship zone-adjusted
  * timestamp[us] (TIMESTAMP). All three physical encodings must normalize to
  * the SAME epoch-micros BIGINT through Tables.events, and a streaming drain
  * over each must produce identical results — a pinned schema that silently
  * mis-scales one encoding 1000x is exactly what this spec exists to catch.
  *
  * (Spark cannot WRITE TIMESTAMP(NANOS); a plain INT64 column carrying nanos
  * exercises the same LongType branch the legacy files hit under
  * spark.sql.legacy.parquet.nanosAsLong=true.)
  */
class TsEncodingSpec extends SparkSpec {
  import spark.implicits._

  private val dayUs = 86400L * 1000000L
  // two users, two event types, spanning three calendar days
  private val rows = Seq(
    (1L, 10L, 19723L * dayUs + 1000000L, "click", 1.5),
    (2L, 10L, 19723L * dayUs + 2000000L, "purchase", 2.5),
    (3L, 11L, 19723L * dayUs + 3000000L, "click", 3.5),
    (4L, 10L, 19724L * dayUs + 4000000L, "click", 4.5),
    (5L, 11L, 19724L * dayUs + 5000000L, "purchase", 5.5),
    (6L, 11L, 19725L * dayUs + 6000000L, "click", 6.5))

  private def base: DataFrame =
    rows.toDF("event_id", "user_id", "ts", "event_type", "value")

  /** Write `df` as a single file at <tmp>/<name>/events.parquet, the exact
    * layout Tables.events and the stream drains expect. */
  private def writeFixture(tmp: java.nio.file.Path, name: String, df: DataFrame): String = {
    val sfDir = tmp.resolve(name)
    java.nio.file.Files.createDirectories(sfDir)
    val stage = sfDir.resolve("stage")
    df.coalesce(1).write.parquet(stage.toString)
    val listing = java.nio.file.Files.list(stage)
    val part =
      try listing.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally listing.close()
    java.nio.file.Files.move(part, sfDir.resolve("events.parquet"))
    new scala.reflect.io.Directory(stage.toFile).deleteRecursively()
    sfDir.toString
  }

  private lazy val fixtureDirs: Map[String, String] = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ts_enc")
    sys.addShutdownHook {
      new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
    }
    Map(
      "int64_nanos" -> writeFixture(tmp, "int64_nanos",
        base.withColumn("ts", col("ts") * 1000L)),
      "timestamp_us_ntz" -> writeFixture(tmp, "timestamp_us_ntz",
        base.withColumn("ts", timestamp_micros(col("ts")).cast("timestamp_ntz"))),
      "timestamp_us_tz" -> writeFixture(tmp, "timestamp_us_tz",
        base.withColumn("ts", timestamp_micros(col("ts")))))
  }

  test("Tables.events normalizes all three ts encodings to identical epoch micros") {
    val expected = rows.map(r => (r._1, r._3))
    fixtureDirs.foreach { case (enc, dir) =>
      val got = Tables.events(spark, dir)
      assert(got.schema("ts").dataType == LongType, s"$enc: ts must load as BIGINT micros")
      val vals = got.select("event_id", "ts").as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(vals == expected, s"$enc: normalized micros mismatch")
    }
  }

  test("an events file re-encoded in place from int64 nanos to int64 micros fails loudly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ts_reenc")
    try {
      val dir = writeFixture(tmp, "reenc", base.withColumn("ts", col("ts") * 1000L))
      val ok = Tables.events(spark, dir).select("event_id", "ts").as[(Long, Long)].collect()
      assert(ok.sortBy(_._1).toSeq == rows.map(r => (r._1, r._3)))
      // same path, same dtype, 1000x smaller values: only the magnitude
      // check tells them apart, so it must run again on the new file
      val events = java.nio.file.Paths.get(dir, "events.parquet")
      val mtime = events.toFile.lastModified
      val again = writeFixture(tmp, "reenc_stage", base)
      java.nio.file.Files.move(java.nio.file.Paths.get(again, "events.parquet"), events,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      events.toFile.setLastModified(mtime + 10000L)
      intercept[IllegalArgumentException](Tables.events(spark, dir))
    } finally new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
  }

  test("streaming drain is encoding-invariant (same windows, same totals)") {
    val drained = fixtureDirs.toSeq.map { case (enc, dir) =>
      enc -> graft.streaming.EventStreams.drainWindowedCounts(spark, dir)
        .select(unix_micros(col("window_start")).as("w"), col("event_type"),
          col("n"), col("total_value"))
        .as[(Long, String, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    }
    // 3 days x (click and/or purchase): the tumbling 1-day windows of the fixture
    assert(drained.head._2.nonEmpty, "drain produced no rows")
    drained.tail.foreach { case (enc, rows) =>
      assert(rows == drained.head._2,
        s"$enc drain differs from ${drained.head._1}")
    }
    // and the window starts are the actual fixture days, not 1000x-shrunk
    val days = drained.head._2.map(_._1 / dayUs).distinct.sorted
    assert(days == Seq(19723L, 19724L, 19725L), s"wrong window days: $days")
  }
}
