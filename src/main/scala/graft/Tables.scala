package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{col, expr, max, min, unix_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver's synthetic parquet tables (TESTDATA.md).
  *
  * Every query receives `sfDir` (e.g. /root/testdata/sf0.01) and reads the
  * tables it needs; Catalyst prunes columns/filters down to the parquet scan.
  */
object Tables {
  /** A scan of `<sfDir>/<name>.parquet`, read with its memoized footer schema. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(parquetSchema(spark, path)).parquet(path)
  }

  /** The session confs that change the schema Spark infers from a parquet
    * footer (int64 nanos as BIGINT, zone-less timestamps as TIMESTAMP_NTZ,
    * binary as STRING, INT96 as TIMESTAMP). */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp")

  /** The schema `read.options(opts).parquet(path)` infers, once per session.
    * Inference is a footer-reading Spark job per read (71 of them in one
    * construction of the 22 tpch_* entries, over 7 files). `path` is the
    * declared input, so a file rewritten in place is inferred again; `opts`
    * (e.g. `pathGlobFilter`) and the values of [[SchemaConfs]] at lookup
    * time are part of the identity, so a conf change is never served the
    * schema inferred under the old value. */
  def parquetSchema(s: SparkSession, path: String,
      opts: Map[String, String] = Map.empty): StructType =
    Memo.value(s, "parquet_schema", Seq(path), opts, SchemaConfs.map(s.conf.getOption))(
      s.read.options(opts).parquet(path).schema)

  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")

  /** events.ts has shipped under THREE physical encodings across driver data
    * generations: TIMESTAMP(NANOS) (readable only as int64 under
    * `spark.sql.legacy.parquet.nanosAsLong=true`), timestamp[us] without a
    * zone (loads as TIMESTAMP_NTZ), and zone-adjusted timestamp[us] (loads
    * as TIMESTAMP). Branch on the LOADED dtype and normalize every encoding
    * to the engine's canonical representation — epoch micros as BIGINT,
    * matching the oracles' `epoch_us(ts)` — so a future encoding drift fails
    * loudly in the default branch instead of silently mis-scaling every
    * timestamp (the round-7 regression: a pinned nanos assumption turned
    * fresh micros data into 1000x-shrunk event times). */
  def normalizeTsMicros(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType      => df.withColumn("ts", expr("ts div 1000")) // int64 nanos
      // int64 carries no unit: the div-1000 above ASSUMES nanos, and an
      // int64-MICROS generation would silently shrink every timestamp 1000x
      // — the exact regression class this loader exists to prevent. Callers
      // that know the source path run checkInt64Nanos first (events below);
      // the magnitude window there turns unit ambiguity into a loud failure.
    case TimestampType => df.withColumn("ts", unix_micros(col("ts")))
    case TimestampNTZType =>
      // the NTZ→TZ cast reads wall-clock time in the session zone; graft
      // session builders pin UTC, which is also how DuckDB's epoch_us(ts)
      // interprets a naive timestamp — same integer on both sides
      df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)))
    case other =>
      throw new IllegalStateException(
        s"events.ts: unhandled physical encoding $other — extend Tables.normalizeTsMicros")
  }

  /** One bounded min/max probe per (session, file content): the int64
    * branch of [[normalizeTsMicros]] assumes NANOS, and a fourth plausible
    * encoding — int64 MICROS — would pass the dtype branch and silently
    * shrink every timestamp 1000x. Epoch-nanos for any post-1973 / pre-2096
    * instant lies in [1e17, 4e18); epoch-MICROS data (~1.7e15) falls three
    * decades below the window and epoch-millis further still, so either
    * mis-encoding fails loudly here instead of corrupting every event-time
    * operator. Memoized with the file as declared input: one tiny agg job
    * per session, not one per query construction, and a file re-encoded in
    * place is checked again. */
  private def checkInt64Nanos(s: SparkSession, df: DataFrame, path: String): Unit =
    Memo.value(s, "events_ts_nanos", Seq(path)) {
      val r = df.agg(min(col("ts")), max(col("ts"))).head()
      if (!r.isNullAt(0)) {
        val (lo, hi) = (r.getLong(0), r.getLong(1))
        require(lo >= 100000000000000000L && hi < 4000000000000000000L,
          s"events.ts is int64 with range [$lo, $hi] — not plausible " +
            "epoch-NANOS (expected [1e17, 4e18) ~ years 1973-2096). A micros/" +
            "millis int64 encoding needs its own Tables.normalizeTsMicros branch.")
      }
    }

  def events(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => checkInt64Nanos(s, df, s"$d/events.parquet")
      case TimestampNTZType =>
        require(s.conf.get("spark.sql.session.timeZone", "") == "UTC",
          "events.ts is TIMESTAMP_NTZ: set spark.sql.session.timeZone=UTC at session " +
            "build so the epoch-micros normalization matches the oracle's epoch_us")
      case _ => ()
    }
    normalizeTsMicros(df)
  }

  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Parallelism floor for per-row-EXPENSIVE consumers of a small scan.
    *
    * The driver's testdata ships each table as ONE single-row-group parquet
    * file, so every scan is one unsplittable partition and everything fused
    * into the scan stage — codec round-trips, brute-force scoring,
    * tokenize passes, partial aggregation — runs on one core of the 32
    * (r16 stage profile: `sim_rrf_topk`'s scoring stage = 1.5 s on 1 task,
    * 31 cores idle; the whole bench showed near-flat core scaling). This is
    * the unsplittable-input case of the optimization guide (§2.5): fix by
    * repartitioning immediately after the read. Round-robin, so no skew by
    * construction, and `sortBeforeRepartition` (on by default) keeps the
    * row-to-partition assignment deterministic under task retry.
    *
    * SCALE SHAPE: the floor is `defaultParallelism` (the session's core
    * count — the driver benches at several core counts and a cluster run
    * inherits its own), and a scan that already has at least that many
    * splits — any realistically-sized input — passes through UNTOUCHED, so
    * at 100 TB this is a no-op gate, never an added shuffle. Apply ONLY
    * where the downstream per-row work dominates the one small exchange;
    * a cheap scan→filter→project query keeps its shuffle-free plan. */
  def widened(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    // PRECONDITION: pass a scan (or filtered/projected scan), nothing with
    // an exchange below — `df.rdd` on a multi-stage AQE plan eagerly runs
    // the upstream shuffle stages at construction time (real jobs, even
    // though construction is untimed). For a bare scan the probe is
    // plan-time only (no job). Checked on the physical plan, which planning
    // alone produces.
    exchanges(df.queryExecution.executedPlan).headOption.foreach { e =>
      throw new IllegalArgumentException(
        s"Tables.widened needs a scan, or a filtered/projected scan; its input plans " +
          s"${e.nodeName}, whose upstream stages would run at construction")
    }
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Exchanges of a physical plan, looking inside adaptive plans and their
    * query stages (`collect` descends into neither). A cached table's build
    * is not part of the plan that reads it. */
  private[graft] def exchanges(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: Exchange => e +: e.children.flatMap(exchanges)
    case _ => p.children.flatMap(exchanges)
  }
}
