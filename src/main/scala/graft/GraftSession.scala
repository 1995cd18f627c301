package graft

import org.apache.spark.sql.SparkSession

/** The one builder of every engine session — bench, verify, the CLIs, the
  * tools and the specs — so a planner setting cannot drift between what is
  * benched, verified and tested. An ad-hoc conf experiment needs no knob
  * here: `SparkConf` loads `spark.*` JVM system properties, so
  * `-Dspark.k=v` reaches the session (build.sbt's `javaOptions` rely on
  * this); a key this builder sets wins over a system property. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` if set, else every core the JVM sees. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cores: Int = GraftSession.cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      // events.parquet ts encodings: Tables.events branches on the loaded
      // dtype, and its NTZ branch throws by design without the UTC pin
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // InferFiltersFromGenerate copies an explode's array expression into a
      // size(...) > 0 pre-filter, and predicate pushdown then re-inlines it
      // BELOW the projection that materialized it — for shingle/gram arrays
      // whose lambdas index a split() column, that re-evaluates the split
      // per element, turning an O(n) doc pass into O(n^2) (measured 4.7 s
      // -> 1.8 s on dedup_ngram_jaccard at sf0.1). The rule only prunes
      // rows with empty/null source arrays, which our corpora don't have.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // the native functions, BandedRangeJoinRule and the WDI row rules: a
      // session without them plans a different program, or cannot plan the
      // WDI outputs at all
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // r17 examined-and-REVERTED: lowering AQE's coalescing floor
      // (spark.sql.adaptive.coalescePartitions.minPartitionSize 1m->16k)
      // parallelizes the compute-dense sub-MB post-shuffle stages (f10's
      // post-sort stage: 1 task 674 ms -> 32 tasks 274 ms wall), but the
      // family-level A/B read a wash-to-loss (relational micro 45.7 s at
      // the default vs 46.9 s at 16k) — the extra task launches across
      // ~100 trivial stages eat the few hot stages' win. Default kept.
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
