package graft.wdi

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The shared front half of all four reference pipelines: ingest → recode →
  * unpivot → union → validity-run cleaning → all-vars gate → pivot →
  * derived national accounts → region lookup
  * (detrendandstat_quad.R:4-130, dtrendandstat_dlog.R:12-77).
  *
  * Everything is declarative DataFrame API: one Catalyst plan from CSV scan
  * to cleaned wide table, reading each extract once. The only shuffles are
  * the (country, variable) run window, the per-country all-vars window and
  * the pivot's (country, year) hash agg — the region dim is broadcast.
  */
object WdiEtl {
  import WdiSchemas._

  /** S1: header CSV with RFC-4180 quoting; empty cells → null
    * (detrendandstat_quad.R:4-6). */
  def readWide(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", true).schema(wideSchema).csv(path)

  /** P4 + R1 + P1: recode `Series Code` → Variable, unpivot the 60 year
    * columns (keeping null cells, like pivot_longer), project canonical long
    * form (detrendandstat_quad.R:8-63). */
  def toLong(wide: DataFrame): DataFrame = {
    val recode = seriesToVariable.foldLeft(lit(null).cast("string")) {
      case (acc, (code, v)) => when(col("Series Code") === code, v).otherwise(acc)
    }
    wide
      .withColumn("Variable", recode)
      .unpivot(
        Array(col("Country Code"), col("Variable")),
        yearCols.map(col).toArray,
        "Year", "Value")
      .withColumn("Year", col("Year").cast("int"))
      .select("Country Code", "Variable", "Year", "Value")
  }

  /** The three regional extracts, in union order. */
  val extracts: Seq[String] = Seq("GDP_SSA_WDI.csv", "GDP_ASIA_WDI.csv", "GDP_LA_WDI.csv")

  /** U1: the three regional extracts unioned by name
    * (detrendandstat_quad.R:65). */
  def unionLong(spark: SparkSession, dir: String): DataFrame =
    extracts.map(f => toLong(readWide(spark, s"$dir/$f"))).reduce(_ unionByName _)

  /** P2 + W1-W3 + P3: per (country, variable) series, keep only maximal runs
    * of >= MinConsecutiveRun consecutive valid (non-null, positive) years
    * (detrendandstat_quad.R:85-98).
    *
    * Run-length encoding with windows: a run starts where valid flips 0→1;
    * the running sum of starts ids the run; a count over (keys, run id)
    * broadcasts the run length onto every row.
    */
  def cleanRuns(long: DataFrame): DataFrame = {
    val series = Window.partitionBy("Country Code", "Variable").orderBy("Year")
    val cum = series.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    long
      .filter(col("Variable").isin(variables: _*))
      .withColumn("valid",
        when(col("Value").isNotNull && col("Value") > 0, 1).otherwise(0))
      .withColumn("runStart",
        when(lag(col("valid"), 1, 0).over(series) === 0 && col("valid") === 1, 1)
          .otherwise(0))
      .withColumn("runId", sum(col("runStart")).over(cum))
      .withColumn("validGroup",
        when(col("valid") === 1, col("runId")).otherwise(lit(null)))
      .withColumn("runLength",
        count(lit(1)).over(
          Window.partitionBy("Country Code", "Variable", "validGroup")))
      .filter(col("validGroup").isNotNull && col("runLength") >= MinConsecutiveRun)
      .select("Country Code", "Variable", "Year", "Value")
  }

  /** J1: countries having all five variables survive
    * (detrendandstat_quad.R:103-110). A window gate — the number of distinct
    * variables over the country's cleaned rows — instead of a semi-join of
    * the rows against their own aggregate, so the extracts are scanned
    * once; never a collect. */
  def allVarsOnly(cleaned: DataFrame): DataFrame =
    cleaned
      .withColumn("nVars",
        size(collect_set(col("Variable")).over(Window.partitionBy("Country Code"))))
      .filter(col("nVars") === variables.size)
      .drop("nVars")

  /** R2 + P6 + J2: pivot to wide with the explicit variable list, derive
    * C,I,X,M,TB, attach Region via broadcast lookup
    * (detrendandstat_quad.R:112-130). */
  def toWide(spark: SparkSession, cleanedAllVars: DataFrame): DataFrame =
    cleanedAllVars
      .groupBy("Country Code", "Year")
      .pivot("Variable", variables)
      .agg(first("Value"))
      .withColumn("C", col("Y") * col("Cper") / 100)
      .withColumn("I", col("Y") * col("Iper") / 100)
      .withColumn("X", col("Y") * col("Xper") / 100)
      .withColumn("M", col("Y") * col("Mper") / 100)
      .withColumn("TB", (col("X") - col("M")) / col("Y"))
      .join(Regions.dimension(spark), Seq("Country Code"), "left")

  /** The full shared front half: cleaned wide table with derived columns and
    * Region, one row per surviving (country, year). */
  def frontHalf(spark: SparkSession, dir: String): DataFrame =
    toWide(spark, allVarsOnly(cleanRuns(unionLong(spark, dir))))
}
