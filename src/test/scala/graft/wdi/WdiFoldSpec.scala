package graft.wdi

import graft.SparkSpec
import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructField, StructType}

/** The array folds of [[WdiStats]] against the Spark aggregates they stand
  * for, bit for bit (`doubleToLongBits`): each series is one group of one
  * partition, its rows in order, so Spark updates one buffer in row order
  * and merges it into the final aggregate's empty buffer, as it does per
  * country in the DataFrame form of the pipeline. The series reach the
  * edges: nulls, NaN, ±0.0, ±Inf, a constant series, n = 0, 1, 2, 3 and 60,
  * magnitudes from 1e-300 to 1e300.
  */
class WdiFoldSpec extends SparkSpec {
  import WdiStats.Cells

  private def cells(xs: Any*): Cells = xs.map {
    case null => null
    case d: Double => java.lang.Double.valueOf(d)
    case i: Int => java.lang.Double.valueOf(i.toDouble)
  }.toArray

  private val series: Seq[(String, Cells)] = {
    val rng = new java.util.SplittableRandom(15)
    val sixty = Array.tabulate[java.lang.Double](60)(t =>
      math.exp(7 + 0.02 * t + 1e-4 * t * t) * (1 + (rng.nextDouble() - 0.5) * 0.08))
    def scaled(k: Double) = sixty.map(x => java.lang.Double.valueOf(x * k))
    val (inf, nan) = (Double.PositiveInfinity, Double.NaN)
    Seq(
      "n = 0" -> cells(null, null, null),
      "n = 1" -> cells(null, 3.5, null),
      "n = 2" -> cells(1.25, null, -2.5),
      "n = 3" -> cells(0.1, 0.2, 0.7),
      "n = 60" -> sixty,
      "nulls" -> sixty.zipWithIndex.map { case (x, t) => if (t % 7 == 3) null else x },
      "constant" -> Array.fill[java.lang.Double](40)(25.0),
      "constant after nulls" -> cells(null, null, 0.3, 0.3, 0.3),
      "NaN" -> cells(1.0, nan, 3.0, 4.5),
      "NaN first" -> cells(nan, 1.0, 2.0),
      "+Inf" -> cells(1.0, inf, 2.0),
      "-Inf" -> cells(-inf, 1.0, 2.0),
      "+Inf and -Inf" -> cells(inf, -inf),
      "+Inf only" -> cells(inf, inf, inf),
      "±0.0" -> cells(0.0, -0.0, 0.0, -0.0),
      "-0.0 only" -> cells(-0.0, -0.0, -0.0),
      "1e-300" -> scaled(1e-300 / 1e3),
      "1e300" -> scaled(1e300 / 1e3),
      "1e-300 to 1e300" -> Array.tabulate[java.lang.Double](61)(t =>
        (if (t % 2 == 0) 1.0 else -1.0) * math.pow(10, -300 + 10 * t)),
      "alternating" -> Array.tabulate[java.lang.Double](60)(t => if (t % 2 == 0) 1.0 else -1.0))
  }

  /** Pairs for the correlation: each series against a second one with its
    * own nulls, zero variance and non-finite values. */
  private val pairs: Seq[(String, Cells, Cells)] = {
    val byName = series.toMap
    val sixty = byName("n = 60")
    val wiggle = Array.tabulate[java.lang.Double](60)(t => math.sin(t * 0.7) * 1e3)
    series.map { case (name, xs) =>
      (s"$name / reversed", xs, xs.reverse)
    } ++ Seq(
      ("n = 60 / wiggle", sixty, wiggle),
      ("n = 60 / constant", sixty, Array.fill[java.lang.Double](60)(2.5)),
      ("nulls / wiggle", byName("nulls"), wiggle.zipWithIndex.map {
        case (y, t) => if (t % 5 == 1) null else y }),
      ("1e300 / 1e-300", byName("1e300"), byName("1e-300")),
      ("n = 60 / NaN", sixty, wiggle.zipWithIndex.map {
        case (y, t) => if (t == 30) java.lang.Double.valueOf(Double.NaN) else y }),
      ("n = 60 / Inf", sixty, wiggle.zipWithIndex.map {
        case (y, t) => if (t == 30) java.lang.Double.valueOf(Double.PositiveInfinity) else y }),
      ("no common row", cells(1.0, null, 2.0, null), cells(null, 1.0, null, 2.0)),
      ("±0.0 / n = 3", cells(0.0, -0.0, 0.0), cells(0.1, 0.2, 0.7)))
  }

  /** One row per (group, position): group `g`, position `i`, `x`, `y`, all
    * in one partition in group and position order. */
  private def frame(groups: Seq[(Cells, Cells)]): DataFrame = {
    val rows = groups.zipWithIndex.flatMap { case ((xs, ys), g) =>
      xs.indices.map(i => Row(g, i, xs(i), ys(i)))
    }
    val schema = StructType(Seq(StructField("g", IntegerType), StructField("i", IntegerType),
      StructField("x", DoubleType), StructField("y", DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** `agg` per group of `frame(groups)`, in group order. */
  private def perGroup(groups: Seq[(Cells, Cells)])(agg: DataFrame => DataFrame)
      : Seq[java.lang.Double] = {
    val got = agg(frame(groups)).collect().map(r => r.getInt(0) -> r.getAs[java.lang.Double](1)).toMap
    assert(got.size == groups.size)
    groups.indices.map(got)
  }

  private def bits(x: java.lang.Double): Option[Long] =
    Option(x).map(java.lang.Double.doubleToLongBits(_))

  private def same(names: Seq[String], got: Seq[java.lang.Double],
      want: Seq[java.lang.Double]): Unit =
    names.indices.foreach { k =>
      assert(bits(got(k)) == bits(want(k)), s"${names(k)}: fold ${got(k)}, Spark ${want(k)}")
    }

  test("sd×100 is stddev_samp(x) * 100 bit for bit") {
    val want = perGroup(series.map(s => (s._2, s._2)))(
      _.groupBy("g").agg(stddev_samp(col("x")) * 100))
    same(series.map(_._1), series.map(s => WdiStats.sd100(s._2)), want)
  }

  test("the correlation is null_safe_corr bit for bit") {
    GraftFunctions.registerCorr(spark)
    val want = perGroup(pairs.map(p => (p._2, p._3)))(
      _.groupBy("g").agg(call_function("null_safe_corr", col("x"), col("y"))))
    same(pairs.map(_._1), pairs.map(p => WdiStats.corr(p._2, p._3)), want)
  }

  test("the autocorrelation is null_safe_corr over lag bit for bit") {
    GraftFunctions.registerCorr(spark)
    val w = Window.partitionBy("g").orderBy("i")
    val want = perGroup(series.map(s => (s._2, s._2)))(
      _.withColumn("l", lag(col("x"), 1).over(w))
        .groupBy("g").agg(call_function("null_safe_corr", col("x"), col("l"))))
    same(series.map(_._1), series.map(s => WdiStats.corr(s._2, WdiStats.lag(s._2))), want)
  }

  test("the mean is avg bit for bit") {
    val want = perGroup(series.map(s => (s._2, s._2)))(_.groupBy("g").agg(avg(col("x"))))
    same(series.map(_._1), series.map(s => WdiStats.avg(s._2)), want)
  }

  test("the ratio is try_divide bit for bit") {
    val values = cells(null, 0.0, -0.0, 1.0, -2.5, 1e-300, 1e300, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity)
    val both = for (a <- values; b <- values) yield (a, b)
    val want = frame(Seq((both.map(_._1), both.map(_._2))))
      .orderBy("i").select(try_divide(col("x"), col("y"))).collect()
      .map(_.getAs[java.lang.Double](0)).toSeq
    same(both.map(p => s"${p._1} / ${p._2}").toSeq,
      both.map { case (a, b) => WdiStats.tryDivide(a, b) }.toSeq, want)
  }

  test("the region fold is avg and stddev_samp over the countries in code order") {
    // codes out of order, a null code, non-ASCII codes that UTF-16 and
    // Spark's UTF-8 byte order sort apart (U+FF21 before U+1F600 in
    // UTF-8), a null region, and cells whose sums depend on the order
    val codes = Seq("MEX", null, "\uD83D\uDE00", "BRA", "AAA", "CHL", "ZZB", "Bra", "\uFF21",
      "ÅLA")
    val lac = Regions.LAC
    val regions = Seq(lac, null, lac, lac, null, lac, null, lac, lac, lac)
    val a = cells(1e16, 3.0, -1e16, 1.0, null, 0.1, Double.NaN, -0.0, 1e16, 0.7)
    val b = cells(0.3, 1e-300, 0.7, 1e300, -1e300, 2.0, 0.5, 0.2, 3.1, 1e-3)
    val countries = Seq("quad", "dlog").flatMap { v =>
      codes.indices.map(k => Row(v, codes(k), regions(k), a(k), b(k)))
    }
    val schema = StructType(Seq("variant", "Country Code", "Region").map(
      StructField(_, StringType)) ++ Seq("a", "b").map(StructField(_, DoubleType)))
    val want = spark.createDataFrame(spark.sparkContext.parallelize(countries, 1), schema)
      .sortWithinPartitions("Country Code")
      .groupBy("variant", "Region")
      .agg(avg("a"), stddev_samp("a"), avg("b"), stddev_samp("b"))
      .collect().map(r => (r.getString(0), Option(r.getString(1))) -> r).toMap
    val got = WdiStats.byRegion(countries)
    assert(got.map(r => (r.getString(0), Option(r.getString(1)))).toSet == want.keySet)
    got.foreach { r =>
      val w = want((r.getString(0), Option(r.getString(1))))
      same((2 until 6).map(j => s"${r.getString(0)} ${r.getString(1)} cell $j"),
        (2 until 6).map(r.getAs[java.lang.Double]), (2 until 6).map(w.getAs[java.lang.Double]))
    }
  }
}
