package graft.wdi

import org.apache.spark.sql.{DataFrame, PlanFrames, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import graft.Memo

/** The four reference pipelines end-to-end: front half → the four detrend
  * variants in one fused pass → one per-country moments table for all of
  * them → its rows and one region aggregate of them, collected to the
  * driver once per (session, extracts) → the seven outputs each variant
  * writes, each a view of those rows that collects with no Spark job
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
    * the fused cycles below and by [[cycles]]. */
  private def frontHalfCached(spark: SparkSession, dir: String): DataFrame =
    Memo.frame(spark, "wdi_front_half", extracts(dir))(WdiEtl.frontHalf(spark, dir))

  /** The variant's cycle table over the cached front half (not persisted:
    * the outputs read the moments of [[WdiCycles.all]] instead). */
  def cycles(spark: SparkSession, dir: String, v: Variant): DataFrame =
    v.makeCycles(frontHalfCached(spark, dir))

  /** The sd columns of the fused moments table; each variant renames them
    * to its own `sdNames`. */
  private val fusedSdNames = quad.sdNames

  /** Every moment column of the fused tables, in golden header order. */
  private val statCols: Seq[String] = {
    import WdiStats.{acfCols, corrCols, ratioCols}
    fusedSdNames.map(_._2) ++ ratioCols ++ corrCols ++ acfCols
  }

  /** [[WdiStats.countryMoments]] of all four variants at once, keyed by
    * `variant`: one kernel shuffle ([[WdiCycles.all]]), one window and one
    * aggregation serve every variant, and the table is persisted once per
    * (session, extracts), for the two jobs of [[rows]]. `repartition(1)`
    * shuffles after the aggregate, so the window and the aggregation keep
    * their parallelism (`coalesce(1)` would pull them into one task), and
    * the region aggregate over it sums each region's countries in code
    * order in one partition, with no Exchange. */
  private[graft] def momentsAll(spark: SparkSession, dir: String): DataFrame =
    Memo.frame(spark, "wdi_moments_all", extracts(dir))(
      WdiStats.countryMoments(
        WdiCycles.all(frontHalfCached(spark, dir)), fusedSdNames, by = Seq("variant"))
        .repartition(1))

  /** The two levels of driver-local rows ([[WdiRows]]). */
  private val Country = "country"
  private val Region = "region"

  /** A level's static schema: `variant`, its keys, then its cells — every
    * moment at country level, every moment's `_mean`, `_sd` pair at region
    * level. */
  private def schema(level: String): StructType = {
    val (keys, cells) =
      if (level == Country) (Seq("Country Code", "Region"), statCols)
      else (Seq("Region"), statCols.flatMap(c => Seq(s"${c}_mean", s"${c}_sd")))
    StructType(("variant" +: keys).map(StructField(_, StringType)) ++
      cells.map(StructField(_, DoubleType)))
  }

  /** `level`'s rows of the extracts in `dir`, in [[schema]] order: the
    * collected moments table, and one region aggregate of all four variants
    * over it ([[WdiStats.byRegion]] keyed by `variant`, in code order in one
    * partition, so every cell has the bits of a per-variant aggregate). Both
    * are built together, once per (session, extracts) — two jobs per pass —
    * and rebuilt when an extract's fingerprint moves. */
  private[wdi] def rows(spark: SparkSession, dir: String, level: String): Seq[InternalRow] = {
    val (country, region) = Memo.value(spark, "wdi_rows", extracts(dir)) {
      val m = momentsAll(spark, dir)
      (collected(m, Country), collected(WdiStats.byRegion(m, statCols, by = Seq("variant")), Region))
    }
    if (level == Country) country else region
  }

  private def collected(df: DataFrame, level: String): Seq[InternalRow] = {
    val s = schema(level)
    val out = df.select(s.fieldNames.toSeq.map(col): _*)
    require(out.schema.map(_.dataType) == s.map(_.dataType),
      s"WDI $level rows are ${out.schema.simpleString}, declared ${s.simpleString}")
    // compact rows: a third of the bytes of the converter's boxed cells
    val toRow = CatalystTypeConverters.createToCatalystConverter(s)
    val compact = UnsafeProjection.create(s)
    out.collect().toSeq.map(r => compact(toRow(r).asInstanceOf[InternalRow]).copy())
  }

  /** `level`'s rows of variant `v`: the level's keys, then each of `stats`
    * under the variant's own name — at region level as its `_mean`, `_sd`
    * pair. A filter and a projection over a [[WdiRows]] marker, so
    * constructing it runs nothing and executing it runs no job once the
    * rows are built. */
  private def view(spark: SparkSession, dir: String, level: String, v: Variant,
      stats: Seq[String]): DataFrame = {
    val fused = v.sdNames.map(_._2).zip(fusedSdNames.map(_._2)).toMap.withDefault(identity)
    val (keys, cells) =
      if (level == Country) (Seq("Country Code", "Region"), stats.map(c => col(fused(c)).as(c)))
      else (Seq("Region"),
        stats.flatMap(c => Seq("_mean", "_sd").map(x => col(fused(c) + x).as(c + x))))
    PlanFrames.of(spark, WdiRows(dir, level, DataTypeUtils.toAttributes(schema(level)))(spark))
      .filter(col("variant") === v.key)
      .select(keys.map(col) ++ cells: _*)
  }

  /** The variant's per-country moments, with its own sd column names. */
  private[graft] def moments(spark: SparkSession, dir: String, v: Variant): DataFrame = {
    import WdiStats.{acfCols, corrCols, ratioCols}
    view(spark, dir, Country, v, v.sdNames.map(_._2) ++ ratioCols ++ corrCols ++ acfCols)
  }

  /** All seven outputs of one variant, keyed by golden file stem. */
  def outputs(spark: SparkSession, dir: String, v: Variant): Map[String, DataFrame] = {
    import WdiStats.{acfCols, corrCols, ratioCols}
    val sd = v.sdNames.map(_._2)
    def country(cols: Seq[String]) = view(spark, dir, Country, v, cols)
    def region(cols: Seq[String]) = view(spark, dir, Region, v, cols)
    val s = v.goldenSuffix
    Map(
      s"sd_by_country_$s" -> country(sd ++ ratioCols),
      s"sd_by_region_$s" -> region(sd),
      s"sd_ratio_by_region_$s" -> region(ratioCols),
      s"corr_by_country_$s" -> country(corrCols),
      s"corr_by_region_$s" -> region(corrCols),
      s"acf_by_country_$s" -> country(acfCols),
      s"acf_by_region_$s" -> region(acfCols))
  }

  /** An output in `WdiMain`'s order: per-country outputs by `Country Code`,
    * regional ones by `Region`. */
  def ordered(stem: String, df: DataFrame): DataFrame =
    df.orderBy(col(if (stem.contains("by_country")) "Country Code" else "Region"))
}
