package graft.wdi

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.Memo

/** The four reference pipelines end-to-end: front half → detrend variant →
  * one per-country moments table → the seven outputs each variant writes
  * (detrendandstat_quad.R, dtrendandstat_HP100.R, dtrendandstat_HP625.R,
  * dtrendandstat_dlog.R).
  */
object WdiPipelines {

  /** Output column names for the per-country volatility block, in golden
    * header order (dlog names its sd columns differently). */
  case class Variant(
      key: String,
      goldenSuffix: String,
      sdNames: Seq[(String, String)],
      makeCycles: DataFrame => DataFrame)

  val quad = Variant("quad", "logquad",
    Seq("Y_cyc" -> "sd_Y", "C_cyc" -> "sd_C", "I_cyc" -> "sd_I", "TB_cyc" -> "sd_TB"),
    WdiCycles.quad)
  val hp100 = Variant("hp100", "hp",
    Seq("Y_cyc" -> "sd_Y", "C_cyc" -> "sd_C", "I_cyc" -> "sd_I", "TB_cyc" -> "sd_TB"),
    WdiCycles.hp(_, lambda = 100.0))
  val hp625 = Variant("hp625", "hp625",
    Seq("Y_cyc" -> "sd_Y", "C_cyc" -> "sd_C", "I_cyc" -> "sd_I", "TB_cyc" -> "sd_TB"),
    WdiCycles.hp(_, lambda = 6.25))
  val dlog = Variant("dlog", "dlog",
    Seq("Y_cyc" -> "sd_dlogY", "C_cyc" -> "sd_dlogC", "I_cyc" -> "sd_dlogI",
      "TB_cyc" -> "sd_TB"),
    WdiCycles.dlog)

  val variants: Seq[Variant] = Seq(quad, hp100, hp625, dlog)

  /** The declared inputs of every table below: the three extracts. */
  private def extracts(dir: String): Seq[String] = WdiEtl.extracts.map(f => s"$dir/$f")

  /** The cleaned wide table, persisted per (session, extracts) and shared by
    * the four variants: their outputs — and the driver's Verify/Bench loops
    * — reuse one materialization of the front half + kernel pass + moments
    * instead of re-running the pipeline per output. */
  private def frontHalfCached(spark: SparkSession, dir: String): DataFrame =
    Memo.frame(spark, "wdi_front_half", extracts(dir))(WdiEtl.frontHalf(spark, dir))

  /** The variant's cycle table over the cached front half (not persisted:
    * only the moments derived from it are). */
  def cycles(spark: SparkSession, dir: String, v: Variant): DataFrame =
    v.makeCycles(frontHalfCached(spark, dir))

  /** The variant's [[WdiStats.countryMoments]], persisted as ONE partition.
    * `repartition(1)` shuffles after the aggregate, so the lag window and
    * the aggregation above it keep their parallelism (`coalesce(1)` would
    * pull them into one task), and every output's sort and region
    * aggregation then plans over a single partition with no Exchange: each
    * output is one job once the table is cached. */
  private[graft] def moments(spark: SparkSession, dir: String, v: Variant): DataFrame =
    Memo.frame(spark, "wdi_moments", extracts(dir), v.key)(
      WdiStats.countryMoments(cycles(spark, dir, v), v.sdNames).repartition(1))

  /** All seven outputs of one variant, keyed by golden file stem. */
  def outputs(spark: SparkSession, dir: String, v: Variant): Map[String, DataFrame] = {
    import WdiStats.{acfCols, byRegion, corrCols, ratioCols}
    val m = moments(spark, dir, v)
    val sd = v.sdNames.map(_._2)
    def country(cols: Seq[String]) = m.select(("Country Code" +: "Region" +: cols).map(col): _*)
    val s = v.goldenSuffix
    Map(
      s"sd_by_country_$s" -> country(sd ++ ratioCols),
      s"sd_by_region_$s" -> byRegion(m, sd),
      s"sd_ratio_by_region_$s" -> byRegion(m, ratioCols),
      s"corr_by_country_$s" -> country(corrCols),
      s"corr_by_region_$s" -> byRegion(m, corrCols),
      s"acf_by_country_$s" -> country(acfCols),
      s"acf_by_region_$s" -> byRegion(m, acfCols))
  }
}
