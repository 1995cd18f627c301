package graft.wdi

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The fused moments table and the window gate against the per-statistic
  * expressions they replaced, on [[WdiFixture]]'s extracts (no reference
  * data needed). The oracle below is the earlier code: an all-vars
  * semi-join of the cleaned rows against their own aggregate, and one
  * aggregation per statistic family over the cycles. Per-country cells must
  * be bit-identical; per-region cells may differ by summation order only
  * (relative 1e-12).
  */
class WdiParitySpec extends SparkSpec {

  private object Oracle {
    def allVarsOnly(cleaned: DataFrame): DataFrame = {
      val complete = cleaned
        .select("Country Code", "Variable").distinct()
        .groupBy("Country Code").agg(count(lit(1)).as("n"))
        .filter(col("n") === WdiSchemas.variables.size)
        .select("Country Code")
      cleaned.join(broadcast(complete), Seq("Country Code"), "left_semi")
    }

    def frontHalf(spark: SparkSession, dir: String): DataFrame =
      WdiEtl.toWide(spark, allVarsOnly(WdiEtl.cleanRuns(WdiEtl.unionLong(spark, dir))))

    def sdByCountry(cycles: DataFrame, names: Seq[(String, String)]): DataFrame = {
      val aggs = names.map { case (c, out) => (stddev_samp(col(c)) * 100).as(out) }
      cycles
        .groupBy(col("Country Code"), col("Region"))
        .agg(aggs.head, aggs.tail: _*)
        .withColumn("sdC_over_sdY", col(names(1)._2) / col(names.head._2))
        .withColumn("sdI_over_sdY", col(names(2)._2) / col(names.head._2))
    }

    def corrByCountry(cycles: DataFrame): DataFrame = {
      val pairs = Seq(
        ("Y_cyc", "C_cyc", "corr_Y_C"), ("Y_cyc", "I_cyc", "corr_Y_I"),
        ("Y_cyc", "TB_cyc", "corr_Y_TB"), ("C_cyc", "I_cyc", "corr_C_I"),
        ("C_cyc", "TB_cyc", "corr_C_TB"), ("I_cyc", "TB_cyc", "corr_I_TB"))
      val aggs = pairs.map { case (a, b, out) => corr(col(a), col(b)).as(out) }
      cycles.groupBy(col("Country Code"), col("Region")).agg(aggs.head, aggs.tail: _*)
    }

    def acfByCountry(cycles: DataFrame): DataFrame = {
      val w = Window.partitionBy("Country Code").orderBy("Year")
      val cols = Seq("Y_cyc" -> "acf_Y", "C_cyc" -> "acf_C",
        "I_cyc" -> "acf_I", "TB_cyc" -> "acf_TB")
      val lagged = cols.foldLeft(cycles) { case (df, (c, _)) =>
        df.withColumn(s"${c}_lag", lag(col(c), 1).over(w))
      }
      val aggs = cols.map { case (c, out) => corr(col(c), col(s"${c}_lag")).as(out) }
      lagged.groupBy(col("Country Code"), col("Region")).agg(aggs.head, aggs.tail: _*)
    }

    def outputs(spark: SparkSession, dir: String,
        v: WdiPipelines.Variant): Map[String, DataFrame] = {
      import WdiStats.{acfCols, byRegion, corrCols, ratioCols}
      val cyc = v.makeCycles(frontHalf(spark, dir))
      val sd = sdByCountry(cyc, v.sdNames)
      val corrs = corrByCountry(cyc)
      val acfs = acfByCountry(cyc)
      val s = v.goldenSuffix
      Map(
        s"sd_by_country_$s" -> sd,
        s"sd_by_region_$s" -> byRegion(sd, v.sdNames.map(_._2)),
        s"sd_ratio_by_region_$s" -> byRegion(sd, ratioCols),
        s"corr_by_country_$s" -> corrs,
        s"corr_by_region_$s" -> byRegion(corrs, corrCols),
        s"acf_by_country_$s" -> acfs,
        s"acf_by_region_$s" -> byRegion(acfs, acfCols))
    }
  }

  private lazy val dir = WdiFixture.write()

  private def keyed(df: DataFrame, nKeys: Int): Map[Seq[String], Row] =
    df.collect().map(r => (0 until nKeys).map(r.getString) -> r).toMap

  test("the window gate keeps exactly the semi-join's survivors") {
    val cleaned = WdiEtl.cleanRuns(WdiEtl.unionLong(spark, dir))
    def survivors(df: DataFrame) =
      df.select("Country Code").distinct().collect().map(_.getString(0)).toSet
    val gated = survivors(WdiEtl.allVarsOnly(cleaned))
    assert(gated == survivors(Oracle.allVarsOnly(cleaned)))
    assert(gated == WdiFixture.countries.toSet -- WdiFixture.Dropped)
    // the gate drops whole countries and keeps every row of the survivors
    assert(WdiEtl.allVarsOnly(cleaned).count() ==
      cleaned.filter(!col("Country Code").isin(WdiFixture.Dropped.toSeq: _*)).count())
  }

  /** The oracle's `corr` and ratio divisions fail on a zero-variance series
    * under ANSI mode; with ANSI off they give null, as the fused table does
    * in any mode. So the oracle is planned and run with ANSI off. */
  private def ansiOff[T](body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val was = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, was)
  }

  WdiPipelines.variants.foreach { v =>
    test(s"${v.key}: fused outputs equal the per-statistic oracle") {
      def nKeys(stem: String) = if (stem.contains("by_country")) 2 else 1
      val want = ansiOff(Oracle.outputs(spark, dir, v).map { case (stem, df) =>
        stem -> (df.columns.toSeq, keyed(df, nKeys(stem)))
      })
      val got = WdiPipelines.outputs(spark, dir, v)
      assert(got.keySet == want.keySet)
      got.foreach { case (stem, df) =>
        val perCountry = stem.contains("by_country")
        val (wantCols, w) = want(stem)
        assert(df.columns.toSeq == wantCols, s"$stem header")
        val g = keyed(df, nKeys(stem))
        assert(g.keySet == w.keySet, s"$stem keys")
        for ((k, gr) <- g; i <- nKeys(stem) until df.columns.length) {
          val (a, b) = (gr.get(i), w(k).get(i))
          val where = s"$stem ${k.mkString("|")}.${df.columns(i)}: $a vs $b"
          if (a == null || b == null) assert(a == b, where)
          else {
            val (x, y) = (a.asInstanceOf[Double], b.asInstanceOf[Double])
            if (perCountry)
              assert(java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y), where)
            else
              assert(x.isNaN == y.isNaN &&
                (x.isNaN || math.abs(x - y) <= 1e-12 * math.max(math.abs(x), math.abs(y))), where)
          }
        }
      }
    }
  }

  test("the fixture reaches the planted edges") {
    val m = keyed(WdiPipelines.moments(spark, dir, WdiPipelines.quad), 2)
    def row(code: String) = m.collectFirst { case (k, r) if k.head == code => r }
      .getOrElse(fail(s"$code missing"))
    // exactly MinDetrendObs Y points still fit
    assert(!row("ZAF").isNullAt(row("ZAF").fieldIndex("sd_Y")))
    // constant TB: zero sd; its correlations are null, not a failed job
    val kor = row("KOR")
    assert(kor.getAs[Double]("sd_TB") == 0.0)
    assert(Seq("corr_Y_TB", "corr_C_TB", "corr_I_TB", "acf_TB").forall(c => kor.isNullAt(kor.fieldIndex(c))))
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    // codes outside the region table carry a null Region into every level
    assert(row("ZZA").isNullAt(1) && row("ZZB").isNullAt(1))
    val regions = WdiPipelines.outputs(spark, dir, WdiPipelines.quad)("sd_by_region_logquad")
      .collect().map(_.getString(0)).toSet
    assert(regions == Set(Regions.SSA, Regions.EAP, Regions.LAC, null))
  }
}
