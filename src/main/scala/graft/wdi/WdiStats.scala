package graft.wdi

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** The shared back half: per-country moment statistics over the cycle
  * columns, then per-region mean/sd re-aggregation
  * (detrendandstat_quad.R:170-291, dtrendandstat_dlog.R:97-219).
  *
  * Generic over output column names so one implementation serves all four
  * variants (sd_Y vs sd_dlogY etc). Every per-country moment of a variant
  * comes out of ONE table — one lag window plus one (country, region)
  * aggregation — and every output file is a projection of that table
  * (country level) or of one region aggregation over it (level 2).
  */
object WdiStats {

  private val cycleCols = Seq("Y_cyc", "C_cyc", "I_cyc", "TB_cyc")

  private val corrPairs = Seq(
    ("Y_cyc", "C_cyc", "corr_Y_C"), ("Y_cyc", "I_cyc", "corr_Y_I"),
    ("Y_cyc", "TB_cyc", "corr_Y_TB"), ("C_cyc", "I_cyc", "corr_C_I"),
    ("C_cyc", "TB_cyc", "corr_C_TB"), ("I_cyc", "TB_cyc", "corr_I_TB"))

  /** Moment column names in golden header order. */
  val corrCols: Seq[String] = corrPairs.map(_._3)
  val acfCols: Seq[String] = Seq("acf_Y", "acf_C", "acf_I", "acf_TB")
  val ratioCols: Seq[String] = Seq("sdC_over_sdY", "sdI_over_sdY")

  /** Every per-country moment of one variant, one row per (country, region),
    * columns `Country Code, Region`, the sd names, [[ratioCols]],
    * [[corrCols]], [[acfCols]]:
    *  - A3 + A9: sd×100 of each cycle series (`sdNames` maps the four cycle
    *    columns to output names, Y, C, I first) and the consumption /
    *    investment volatility ratios;
    *  - A5: the six pairwise Pearson correlations (complete.obs ≡ Spark
    *    corr's null-pair skipping);
    *  - W4 + A6: the lag-1 autocorrelation of each series in year order.
    * Correlations use `null_safe_corr` (Spark's corr, but null rather than
    * a failed job on a zero-variance series) and the ratios `try_divide`,
    * so a constant series yields null moments — `NA` in the CSVs.
    * The four lags come from one projection over one year-ordered country
    * window, so the table costs one window pass and one aggregation.
    * `by` names leading key columns of a table that stacks several series
    * per country (e.g. `variant`): the window and the aggregation then run
    * per (`by`, country), and the keys lead the output. */
  def countryMoments(cycles: DataFrame, sdNames: Seq[(String, String)],
      by: Seq[String] = Nil): DataFrame = {
    GraftFunctions.registerCorr(cycles.sparkSession)
    def corrOrNull(x: String, y: String) = call_function("null_safe_corr", col(x), col(y))
    val w = Window.partitionBy((by :+ "Country Code").map(col): _*).orderBy("Year")
    val keys = (by ++ Seq("Country Code", "Region")).map(col)
    val lagged = cycles.select(keys ++ cycleCols.map(col) ++
      cycleCols.map(c => lag(col(c), 1).over(w).as(s"${c}_lag")): _*)
    val aggs =
      sdNames.map { case (c, out) => (stddev_samp(col(c)) * 100).as(out) } ++
        corrPairs.map { case (a, b, out) => corrOrNull(a, b).as(out) } ++
        cycleCols.zip(acfCols).map { case (c, out) => corrOrNull(c, s"${c}_lag").as(out) }
    val Seq(sdY, sdC, sdI, _) = sdNames.map(_._2)
    lagged
      .groupBy(keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(keys ++ sdNames.map(n => col(n._2)) ++
        Seq(try_divide(col(sdC), col(sdY)).as(ratioCols(0)),
          try_divide(col(sdI), col(sdY)).as(ratioCols(1))) ++
        (corrCols ++ acfCols).map(col): _*)
  }

  /** A4 + A3: region-level mean and sample sd of each country moment,
    * emitted as `<col>_mean`, `<col>_sd` pairs in input order. The countries
    * are summed in code order within each partition, so over a one-partition
    * table the sums — and so the cells — do not depend on the order the
    * table was built in (which follows the shuffle partition count). `by`
    * names leading key columns, as in [[countryMoments]]: the regions are
    * then aggregated per (`by`, `Region`), each group still in code order,
    * so every cell keeps the bits of a per-`by` aggregation. */
  def byRegion(countryStats: DataFrame, cols: Seq[String], by: Seq[String] = Nil): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(avg(col(c)).as(s"${c}_mean"), stddev_samp(col(c)).as(s"${c}_sd"))
    }
    countryStats.sortWithinPartitions("Country Code")
      .groupBy((by :+ "Region").map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
