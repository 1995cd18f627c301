package graft.wdi

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The wide-form front half, the fused moments table and the country gate
  * against the formulations they replaced, on [[WdiFixture]]'s extracts
  * (no reference data needed). The oracle below is the earlier code: the
  * reference's long-form front half (unpivot, union, run windows over
  * (country, variable), an all-vars semi-join of the cleaned rows against
  * their own aggregate, pivot), and one aggregation per statistic family
  * over the cycles. The front half and per-country cells must be
  * bit-identical; per-region cells may differ by summation order only
  * (relative 1e-12).
  */
class WdiParitySpec extends SparkSpec {

  private object Oracle {
    import WdiSchemas._

    /** Recode `Series Code` → Variable, unpivot the 60 year columns
      * (keeping null cells, like pivot_longer), project the canonical long
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

    /** The three extracts unioned by name (detrendandstat_quad.R:65). */
    def unionLong(spark: SparkSession, dir: String): DataFrame =
      WdiEtl.extracts.map(f => toLong(WdiEtl.readWide(spark, s"$dir/$f"))).reduce(_ unionByName _)

    /** Per (country, variable) series, keep only maximal runs of >=
      * MinConsecutiveRun consecutive valid (non-null, positive) years
      * (detrendandstat_quad.R:85-98), by run-length encoding with windows:
      * a run starts where valid flips 0→1; the running sum of starts ids
      * the run; a count over (keys, run id) gives its length. */
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

    def allVarsOnly(cleaned: DataFrame): DataFrame = {
      val complete = cleaned
        .select("Country Code", "Variable").distinct()
        .groupBy("Country Code").agg(count(lit(1)).as("n"))
        .filter(col("n") === variables.size)
        .select("Country Code")
      cleaned.join(broadcast(complete), Seq("Country Code"), "left_semi")
    }

    /** Pivot to wide with the explicit variable list, derive C,I,X,M,TB,
      * attach Region (detrendandstat_quad.R:112-130). */
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
        .join(broadcast(spark.createDataFrame(Regions.iso3ToRegion.toSeq.sorted)
          .toDF("Country Code", "Region")), Seq("Country Code"), "left")

    def frontHalf(spark: SparkSession, dir: String): DataFrame =
      toWide(spark, allVarsOnly(cleanRuns(unionLong(spark, dir))))

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

    /** Region-level mean and sample sd of each country moment, as
      * `<col>_mean`, `<col>_sd` pairs, the countries summed in code order. */
    def byRegion(countryStats: DataFrame, cols: Seq[String]): DataFrame = {
      val aggs = cols.flatMap { c =>
        Seq(avg(col(c)).as(s"${c}_mean"), stddev_samp(col(c)).as(s"${c}_sd"))
      }
      countryStats.sortWithinPartitions("Country Code")
        .groupBy(col("Region")).agg(aggs.head, aggs.tail: _*)
    }

    def outputs(spark: SparkSession, dir: String,
        v: WdiPipelines.Variant): Map[String, DataFrame] = {
      import WdiStats.{acfCols, corrCols, ratioCols}
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

  test("the country gate keeps exactly the semi-join's survivors") {
    def survivors(df: DataFrame) =
      df.select("Country Code").distinct().collect().map(_.getString(0)).toSet
    val gated = survivors(WdiEtl.frontHalf(spark, dir))
    assert(gated == survivors(Oracle.frontHalf(spark, dir)))
    assert(gated == WdiFixture.countries.toSet -- WdiFixture.Dropped)
  }

  test("the wide front half equals the long-form oracle bit for bit") {
    val got = WdiEtl.frontHalf(spark, dir)
    val want = Oracle.frontHalf(spark, dir)
    assert(got.schema == want.schema)
    def cells(df: DataFrame): Map[(String, Int), Seq[Any]] =
      df.collect().map { r =>
        (r.getString(0), r.getInt(1)) -> r.toSeq.map {
          case d: Double => java.lang.Double.doubleToRawLongBits(d)
          case v => v
        }
      }.toMap
    val (g, w) = (cells(got), cells(want))
    assert(g.size == got.count(), "a (country, year) row repeats")
    assert(g.keySet == w.keySet, "the (country, year) rows differ")
    g.foreach { case (k, row) => assert(row == w(k), k) }
    // the fixture's edges reach the cells: a run of exactly
    // MinConsecutiveRun years is kept and the one after it dropped; a NaN
    // cell is valid and survives
    val sen = (0 until 60).map(i => g(("SEN", WdiSchemas.YearStart + i))(3))
    assert(sen.count(_ != null) == WdiSchemas.MinConsecutiveRun)
    val tha = g(("THA", WdiSchemas.YearStart + WdiSchemas.MinConsecutiveRun - 1))(6)
    assert(java.lang.Double.isNaN(java.lang.Double.longBitsToDouble(tha.asInstanceOf[Long])))
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
