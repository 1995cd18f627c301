package graft.wdi

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, PlanFrames, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import graft.Memo

/** The four reference pipelines end-to-end: the gated countries of the
  * front half → per country, the four detrend variants and every moment of
  * each, on executors ([[WdiStats]]) → those rows, collected to the driver
  * once per (session, extracts), and their per-region mean/sd, folded on
  * the driver → the seven outputs each variant writes, each a view of those
  * rows that collects with no Spark job (detrendandstat_quad.R,
  * dtrendandstat_HP100.R, dtrendandstat_HP625.R, dtrendandstat_dlog.R).
  * From the CSV scan to the moments the rows are shuffled by country once,
  * and a cold pass runs two Spark jobs: that shuffle's map stage and the
  * collect. Nothing is persisted.
  */
object WdiPipelines {

  /** Output column names for the per-country volatility block, in golden
    * header order (dlog names its sd columns differently). `makeCycles` is
    * the variant's DataFrame operator over the front half, `detrend` the
    * same cycles of one country on arrays, which the outputs read. */
  case class Variant(
      key: String,
      goldenSuffix: String,
      sdNames: Seq[(String, String)],
      makeCycles: DataFrame => DataFrame,
      detrend: WdiStats.Country => Seq[WdiStats.Cells])

  /** The sd column names of every variant but dlog, and of the rows: each
    * variant renames them to its own `sdNames`. */
  private val levelSd = Seq("Y_cyc" -> "sd_Y", "C_cyc" -> "sd_C", "I_cyc" -> "sd_I",
    "TB_cyc" -> "sd_TB")

  val quad = Variant("quad", "logquad", levelSd, WdiCycles.quad, WdiStats.quadCycles)
  val hp100 = Variant("hp100", "hp", levelSd,
    WdiCycles.hp(_, lambda = 100.0), WdiStats.hpCycles(_, lambda = 100.0))
  val hp625 = Variant("hp625", "hp625", levelSd,
    WdiCycles.hp(_, lambda = 6.25), WdiStats.hpCycles(_, lambda = 6.25))
  val dlog = Variant("dlog", "dlog",
    Seq("Y_cyc" -> "sd_dlogY", "C_cyc" -> "sd_dlogC", "I_cyc" -> "sd_dlogI",
      "TB_cyc" -> "sd_TB"),
    WdiCycles.dlog, WdiStats.dlogCycles)

  val variants: Seq[Variant] = Seq(quad, hp100, hp625, dlog)

  /** The declared inputs of every table below: the three extracts. */
  private def extracts(dir: String): Seq[String] = WdiEtl.extracts.map(f => s"$dir/$f")

  /** The variant's cycle table over the front half, by its DataFrame
    * operator (the outputs do not read it). */
  def cycles(spark: SparkSession, dir: String, v: Variant): DataFrame =
    v.makeCycles(WdiEtl.frontHalf(spark, dir))

  /** Every moment column of the rows, in golden header order. */
  private val statCols: Seq[String] = {
    import WdiStats.{acfCols, corrCols, ratioCols}
    levelSd.map(_._2) ++ ratioCols ++ corrCols ++ acfCols
  }

  /** The two levels of driver-local rows ([[WdiRows]]), each split by
    * variant. */
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

  /** Every per-country moment of the four variants, one row per (variant,
    * country) in [[schema]] order: over the gated countries, which the front
    * half's one shuffle leaves partitioned by country, each task folds its
    * countries into one row per variant ([[WdiStats.moments]] of the
    * variant's `detrend`). */
  private[wdi] def countryRows(spark: SparkSession, dir: String): Dataset[Row] =
    Memo.declared(extracts(dir))(WdiEtl.countries(spark, dir))
      .flatMap { r =>
        val c = WdiStats.Country(r)
        variants.map(v =>
          Row.fromSeq(Seq(v.key, c.code, c.region) ++ WdiStats.moments(v.detrend(c))))
      }(Encoders.row(schema(Country)))

  /** Variant `variant`'s rows at `level` of the extracts in `dir`, in
    * [[schema]] order: the collected [[countryRows]], and
    * [[WdiStats.byRegion]] of them, folded on the driver. Every level and
    * variant is built together, once per (session, extracts), by one Spark
    * query, and rebuilt when an extract's fingerprint moves. */
  private[wdi] def rows(spark: SparkSession, dir: String, level: String,
      variant: String): Seq[InternalRow] =
    Memo.value(spark, "wdi_rows", extracts(dir)) {
      val perCountry = countryRows(spark, dir).collect().toSeq
      def split(rows: Seq[Row], level: String) =
        compact(rows, level).groupBy(_.getUTF8String(0).toString).map {
          case (v, rs) => (level, v) -> rs
        }
      split(perCountry, Country) ++ split(WdiStats.byRegion(perCountry), Region)
    }.getOrElse((level, variant), Nil)

  /** `rows` as compact rows of `level`'s schema: a third of the bytes of
    * the converter's boxed cells. */
  private def compact(rows: Seq[Row], level: String): Seq[InternalRow] = {
    val s = schema(level)
    val toRow = CatalystTypeConverters.createToCatalystConverter(s)
    val project = UnsafeProjection.create(s)
    rows.map(r => project(toRow(r).asInstanceOf[InternalRow]).copy())
  }

  /** `level`'s rows of variant `v`: the level's keys, then each of `stats`
    * under the variant's own name — at region level as its `_mean`, `_sd`
    * pair. A projection over the variant's [[WdiRows]] marker, so
    * constructing it runs nothing and executing it runs no job once the
    * rows are built. */
  private def view(spark: SparkSession, dir: String, level: String, v: Variant,
      stats: Seq[String]): DataFrame = {
    val fused = v.sdNames.map(_._2).zip(levelSd.map(_._2)).toMap.withDefault(identity)
    def cell(in: String, out: String) = if (in == out) col(in) else col(in).as(out)
    val (keys, cells) =
      if (level == Country) (Seq("Country Code", "Region"), stats.map(c => cell(fused(c), c)))
      else (Seq("Region"),
        stats.flatMap(c => Seq("_mean", "_sd").map(x => cell(fused(c) + x, c + x))))
    val marker = WdiRows(dir, level, v.key, DataTypeUtils.toAttributes(schema(level)))(spark)
    PlanFrames.of(spark, marker).select(keys.map(col) ++ cells: _*)
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
