package graft.wdi

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The shared front half of all four reference pipelines: ingest → recode →
  * validity-run cleaning → all-vars gate → one row per (country, year) →
  * derived national accounts → region lookup
  * (detrendandstat_quad.R:4-130, dtrendandstat_dlog.R:12-77).
  *
  * The reference unpivots the wide-by-year extracts, cleans each (country,
  * series) in long form and pivots back. Here each extract row already is
  * one (country, series) vector of 60 years, so the cleaning runs on that
  * row, and after ONE shuffle by `Country Code` one aggregation gates the
  * countries ([[countries]]: one row of five vectors per country, what the
  * moments fold reads) and [[frontHalf]] emits their year rows. One Catalyst
  * plan from CSV scan to cleaned wide table, reading each extract once; the
  * region is a map lookup, so the table stays hash-partitioned by
  * `Country Code` for the per-country work after it.
  */
object WdiEtl {
  import WdiSchemas._

  /** S1: header CSV with RFC-4180 quoting; empty cells → null
    * (detrendandstat_quad.R:4-6). */
  def readWide(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", true).schema(wideSchema).csv(path)

  /** The three regional extracts, in union order. */
  val extracts: Seq[String] = Seq("GDP_SSA_WDI.csv", "GDP_ASIA_WDI.csv", "GDP_LA_WDI.csv")

  /** P2 + W1-W3 on one series, its cells in year order: the cells of its
    * maximal runs of >= MinConsecutiveRun consecutive valid years, every
    * other cell null; null when no cell survives
    * (detrendandstat_quad.R:85-98). Valid is non-null and `> 0` as Spark
    * compares doubles, where NaN is greater than every number. */
  private[wdi] def keepRuns(cells: Seq[java.lang.Double]): Seq[java.lang.Double] = {
    def valid(v: java.lang.Double) = v != null && (v.isNaN || v > 0)
    val out = new Array[java.lang.Double](cells.length)
    var kept = false
    var start = 0
    while (start < cells.length) {
      var end = start
      while (end < cells.length && valid(cells(end))) end += 1
      if (end - start >= MinConsecutiveRun) {
        kept = true
        (start until end).foreach(i => out(i) = cells(i))
      }
      start = end + 1
    }
    if (kept) out.toSeq else null
  }

  private val keepRunsUdf = udf(keepRuns _)

  /** The gated countries, one row each: `Country Code` and the cleaned
    * 60-year vector of each of [[WdiSchemas.variables]], in year order.
    *  - P4 + R1: per extract row, recode `Series Code` → Variable, drop the
    *    other series and clean the year cells ([[keepRuns]]); a series with
    *    no surviving cell counts for nothing below
    *    (detrendandstat_quad.R:8-98);
    *  - U1 + J1: per country, over the three extracts, the all-vars gate:
    *    five distinct variables survive (detrendandstat_quad.R:65, 103-110).
    * The rows are hash-partitioned by `Country Code`, so per-country work
    * over them ([[WdiPipelines]]'s moments) needs no shuffle of its own. */
  def countries(spark: SparkSession, dir: String): DataFrame = {
    val recode = seriesToVariable.foldLeft(lit(null).cast("string")) {
      case (acc, (code, v)) => when(col("Series Code") === code, v).otherwise(acc)
    }
    val series = extracts.map(f => readWide(spark, s"$dir/$f")).reduce(_ unionByName _)
      .select(col("Country Code"), recode.as("Variable"),
        keepRunsUdf(array(yearCols.map(col): _*)).as("cells"))
      .filter(col("Variable").isNotNull)
    // a series with no surviving cell has null cells, which the gate and
    // the pivot skip (a filter on them would run the cleaning twice)
    val kept = when(col("cells").isNotNull, col("Variable"))
    val cells = variables.map(v =>
      first(when(col("Variable") === v, col("cells")), ignoreNulls = true).as(v))
    series
      // spread over the cores at a fixed count: what runs per country on
      // this partitioning (the moments, the kernels) costs per series, not
      // per shuffled byte, and AQE would read the few bytes of thousands of
      // countries into one task
      .repartition(spark.sparkContext.defaultParallelism, col("Country Code"))
      .groupBy("Country Code")
      .agg(size(collect_set(kept)).as("nVars"), cells: _*)
      .filter(col("nVars") === variables.size)
      .select(col("Country Code") +: variables.map(col): _*)
  }

  /** The full shared front half: cleaned wide table with derived columns and
    * Region, one row per surviving (country, year).
    *  - [[countries]]: the cleaned, gated series of each country;
    *  - R2: the pivot — a row for each year where any variable survived,
    *    the other variables' cells null there (detrendandstat_quad.R:112-118);
    *  - P6 + J2: derive C,I,X,M,TB, attach Region by map lookup
    *    (detrendandstat_quad.R:120-130). */
  def frontHalf(spark: SparkSession, dir: String): DataFrame =
    countries(spark, dir)
      .select(col("Country Code"), inline(arrays_zip(
        sequence(lit(YearStart), lit(YearEnd)).as("Year") +: variables.map(col): _*)))
      .filter(coalesce(variables.map(col): _*).isNotNull)
      .withColumn("C", col("Y") * col("Cper") / 100)
      .withColumn("I", col("Y") * col("Iper") / 100)
      .withColumn("X", col("Y") * col("Xper") / 100)
      .withColumn("M", col("Y") * col("Mper") / 100)
      .withColumn("TB", (col("X") - col("M")) / col("Y"))
      // a map lookup in the plan, so no broadcast job per pass; an unknown
      // code gets a NULL region
      .withColumn("Region", try_element_at(typedLit(Regions.iso3ToRegion), col("Country Code")))
}
