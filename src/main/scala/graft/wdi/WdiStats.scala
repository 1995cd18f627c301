package graft.wdi

import org.apache.spark.sql.Row
import org.apache.spark.unsafe.types.UTF8String
import graft.ts.Kernels

/** The shared back half on plain arrays, one gated country at a time: its
  * national accounts, the four detrends of its series and their moment
  * statistics; then, over the countries, the per-region mean/sd of each
  * moment (detrendandstat_quad.R:120-291, dtrendandstat_HP100.R:136-164,
  * dtrendandstat_dlog.R:77-219).
  *
  * Every cell mirrors the Spark expressions the DataFrame form of the
  * pipeline evaluates — the front half's derived columns, [[WdiCycles]]'
  * operators, and the aggregates `stddev_samp`, `null_safe_corr`, `avg`
  * with `lag` and `try_divide` — operation for operation, so it has their
  * bits. An aggregate runs its update over the rows in year order (in code
  * order for the region level), then the one merge of that buffer into an
  * empty one that Spark's final aggregate performs. A cell is a
  * `java.lang.Double`: null is SQL NULL, kept apart from NaN.
  */
object WdiStats {
  import WdiSchemas.{MinDetrendObs, YearStart}

  /** One column of a country's kept years; null is SQL NULL. */
  type Cells = Array[java.lang.Double]

  /** Moment column names in golden header order. */
  val ratioCols: Seq[String] = Seq("sdC_over_sdY", "sdI_over_sdY")
  val corrCols: Seq[String] =
    Seq("corr_Y_C", "corr_Y_I", "corr_Y_TB", "corr_C_I", "corr_C_TB", "corr_I_TB")
  val acfCols: Seq[String] = Seq("acf_Y", "acf_C", "acf_I", "acf_TB")

  /** The (i, j) cycle indices (Y, C, I, TB) of each of [[corrCols]]. */
  private val corrPairs = Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3))

  /** One gated country over its kept years — those where any variable
    * survived cleaning, in year order, the rows `WdiEtl.frontHalf` emits for
    * it: the year and the accounts the detrends read
    * (detrendandstat_quad.R:112-130). `Region` is null for a code outside
    * [[Regions.iso3ToRegion]]. */
  final class Country(val code: String, val region: String, val year: Array[Double],
      val y: Cells, val c: Cells, val i: Cells, val tb: Cells)

  object Country {

    /** From a row of `WdiEtl.countries`: `Country Code`, then the 60-year
      * vectors of Y, Cper, Iper, Xper, Mper. C, I, X, M are the shares times
      * Y over 100, TB is (X - M) / Y; Y is never 0 after cleaning. */
    def apply(r: Row): Country = {
      val vars = (1 to 5).map(r.getSeq[java.lang.Double](_).toArray)
      val kept = vars.head.indices.filter(t => vars.exists(_(t) != null)).toArray
      val Seq(y, cper, iper, xper, mper) = vars.map(v => kept.map(v(_)))
      def share(s: Cells) = zip(y, s)((a, b) => a * b / 100)
      val (x, m) = (share(xper), share(mper))
      new Country(r.getString(0), Regions.iso3ToRegion.get(r.getString(0)).orNull,
        kept.map(t => (YearStart + t).toDouble), y, share(cper), share(iper),
        zip(zip(x, m)(_ - _), y)(_ / _))
    }
  }

  private def map(xs: Cells)(f: Double => java.lang.Double): Cells =
    xs.map(x => if (x == null) null else f(x))

  private def zip(xs: Cells, ys: Cells)(f: (Double, Double) => Double): Cells =
    Array.tabulate(xs.length)(t =>
      if (xs(t) == null || ys(t) == null) null else java.lang.Double.valueOf(f(xs(t), ys(t))))

  /** Spark's `log`: null at or below 0, NaN stays NaN. */
  private def log(x: Double): java.lang.Double = if (x <= 0) null else StrictMath.log(x)

  /** The log of a finite-or-infinite positive cell, else null
    * (detrendandstat_quad.R:154-156). */
  private def logIfPos(x: Double): java.lang.Double = if (x.isNaN) null else log(x)

  /** The kernel `k` over the logs of Y, C, I and over TB in levels
    * (detrendandstat_quad.R:142-168): a cell that is not finite is missing
    * to the kernel, and a NaN out of it is null. */
  private def kernelCycles(c: Country)(k: Array[Double] => Array[Double]): Seq[Cells] =
    Seq(map(c.y)(logIfPos), map(c.c)(logIfPos), map(c.i)(logIfPos), c.tb).map { s =>
      k(s.map(x => if (x == null) Double.NaN else x.doubleValue)).map(v =>
        if (v.isNaN) null else java.lang.Double.valueOf(v))
    }

  /** K1: the quadratic detrend's cycles Y, C, I, TB ([[WdiCycles.quad]]). */
  def quadCycles(c: Country): Seq[Cells] =
    kernelCycles(c)(Kernels.quadResiduals(c.year, _, MinDetrendObs))

  /** K2: the HP cycles at `lambda` ([[WdiCycles.hp]]). */
  def hpCycles(c: Country, lambda: Double): Seq[Cells] =
    kernelCycles(c)(Kernels.hpCycle(_, lambda, MinDetrendObs))

  /** K3: the log differences of Y, C, I over the previous kept year, TB in
    * levels ([[WdiCycles.dlog]]). */
  def dlogCycles(c: Country): Seq[Cells] = {
    def d(s: Cells): Cells = Array.tabulate(s.length) { t =>
      val now = s(t)
      val before = if (t == 0 || s(t - 1) == null) null else log(s(t - 1))
      if (now == null || now.isNaN || !(now > 0) || before == null) null
      else StrictMath.log(now) - before
    }
    Seq(d(c.y), d(c.c), d(c.i), c.tb)
  }

  /** A3 + A9 + A5 + W4/A6: the 16 moments of one variant's cycles Y, C, I,
    * TB in golden header order — sd×100 of each, the C and I volatility
    * ratios, the six pairwise correlations (complete.obs), the lag-1
    * autocorrelation of each (detrendandstat_quad.R:170-291). A constant
    * series has null correlations and ratios, `NA` in the CSVs. */
  def moments(cycles: Seq[Cells]): Cells = {
    val sd = cycles.map(sd100)
    (sd ++ Seq(tryDivide(sd(1), sd(0)), tryDivide(sd(2), sd(0))) ++
      corrPairs.map { case (a, b) => corr(cycles(a), cycles(b)) } ++
      cycles.map(s => corr(s, lag(s)))).toArray
  }

  /** `stddev_samp(x) * 100`. */
  private[wdi] def sd100(xs: Cells): java.lang.Double = {
    val sd = stddevSamp(xs)
    if (sd == null) null else sd * 100.0
  }

  /** `lag(x, 1)` over the rows in order. */
  private[wdi] def lag(xs: Cells): Cells =
    Array.tabulate(xs.length)(t => if (t == 0) null else xs(t - 1))

  /** `try_divide(a, b)`: null on a null side or a zero divisor. */
  private[wdi] def tryDivide(a: java.lang.Double, b: java.lang.Double): java.lang.Double =
    if (a == null || b == null || b == 0.0) null else a / b

  /** `stddev_samp` (Spark's `CentralMomentAgg`): null below two values. */
  private[wdi] def stddevSamp(xs: Cells): java.lang.Double = {
    var n, avg, m2 = 0.0
    xs.foreach { x =>
      if (x != null) {
        val newN = n + 1.0
        val delta = x - avg
        val deltaN = delta / newN
        avg = avg + deltaN
        m2 = m2 + delta * (delta - deltaN)
        n = newN
      }
    }
    // the final aggregate merges the buffer into an empty one
    val delta = avg - 0.0
    val deltaN = if (0.0 + n == 0.0) 0.0 else delta / (0.0 + n)
    m2 = (0.0 + m2) + delta * deltaN * 0.0 * n
    n = 0.0 + n
    if (n <= 1.0) null else math.sqrt(m2 / (n - 1.0))
  }

  /** `null_safe_corr` (Spark's `PearsonCorrelation` over the rows where
    * both sides are non-null): null below two pairs or at zero variance. */
  private[wdi] def corr(xs: Cells, ys: Cells): java.lang.Double = {
    var n, xAvg, yAvg, ck, xMk, yMk = 0.0
    xs.indices.foreach { t =>
      if (xs(t) != null && ys(t) != null) {
        val (x, y) = (xs(t).doubleValue, ys(t).doubleValue)
        val newN = n + 1.0
        val dx = x - xAvg
        val dxN = dx / newN
        val dy = y - yAvg
        val dyN = dy / newN
        val newXAvg = xAvg + dxN
        val newYAvg = yAvg + dyN
        ck = ck + dx * (y - newYAvg)
        xMk = xMk + dx * (x - newXAvg)
        yMk = yMk + dy * (y - newYAvg)
        n = newN; xAvg = newXAvg; yAvg = newYAvg
      }
    }
    // the final aggregate merges the buffer into an empty one
    val (dx, dy) = (xAvg - 0.0, yAvg - 0.0)
    val dxN = if (0.0 + n == 0.0) 0.0 else dx / (0.0 + n)
    val dyN = if (0.0 + n == 0.0) 0.0 else dy / (0.0 + n)
    ck = (0.0 + ck) + dx * dyN * 0.0 * n
    xMk = (0.0 + xMk) + dx * dxN * 0.0 * n
    yMk = (0.0 + yMk) + dy * dyN * 0.0 * n
    n = 0.0 + n
    val norm = math.sqrt(xMk * yMk)
    if (n <= 1.0 || norm == 0.0) null else ck / norm
  }

  /** `avg` (Spark's `Average`): a null adds 0.0 to the sum and nothing to
    * the count; null over no value. */
  private[wdi] def avg(xs: Cells): java.lang.Double = {
    var sum = 0.0
    var count = 0L
    xs.foreach { x =>
      sum = sum + (if (x == null) 0.0 else x.doubleValue)
      if (x != null) count += 1
    }
    sum = 0.0 + sum
    if (count == 0) null else sum / count.toDouble
  }

  /** A4 + A3: per (`variant`, `Region`), the mean and sample sd of each
    * moment over the region's countries (detrendandstat_quad.R:181-291).
    * `countries` are rows of `variant`, `Country Code`, `Region`, then the
    * moments; the result's rows are `variant`, `Region`, then each moment's
    * mean and sd. The countries are summed in ascending code order as Spark
    * orders strings, nulls first — the order does not depend on how the
    * rows were built — and the groups come out by variant, then region. */
  def byRegion(countries: Seq[Row]): Seq[Row] = {
    val code = Ordering.Option(Ordering.fromLessThan[UTF8String](_.compareTo(_) < 0))
    val byKey = countries.sortBy(r => Option(r.getString(1)).map(UTF8String.fromString))(code)
      .groupBy(r => (r.getString(0), Option(r.getString(2))))
    byKey.keys.toSeq.sortBy { case (v, reg) => (v, reg) }.map { case k @ (v, reg) =>
      val rows = byKey(k)
      val cells = (3 until rows.head.length).flatMap { j =>
        val xs: Cells = rows.map(r => r.getAs[java.lang.Double](j)).toArray
        Seq(avg(xs), stddevSamp(xs))
      }
      Row.fromSeq(Seq(v, reg.orNull) ++ cells)
    }
  }
}
