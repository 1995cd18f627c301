package graft.wdi

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ts.{GroupKernels, Kernels}

/** The three detrending operators applied to the cleaned wide table —
  * each yields cycle columns Y_cyc, C_cyc, I_cyc, TB_cyc.
  *
  * Y, C, I are detrended in logs; TB (a ratio) in levels
  * (detrendandstat_quad.R:142-168, dtrendandstat_HP100.R:148-164,
  * dtrendandstat_dlog.R:83-92).
  */
object WdiCycles {
  import WdiSchemas.MinDetrendObs

  private val wCountry = Window.partitionBy("Country Code").orderBy("Year")

  /** Guarded log: ln(x) where finite and positive, else null
    * (detrendandstat_quad.R:154-156). */
  private def logIfPos(c: String) =
    when(col(c).isNotNull && !isnan(col(c)) && col(c) > 0, log(col(c)))
      .otherwise(lit(null).cast("double"))

  private def withLogs(wide: DataFrame): DataFrame =
    wide
      .withColumn("Y_log", logIfPos("Y"))
      .withColumn("C_log", logIfPos("C"))
      .withColumn("I_log", logIfPos("I"))

  private type Kernel = (Array[Double], Array[Double]) => Array[Double]

  private val quadKernel: Kernel = Kernels.quadResiduals(_, _, MinDetrendObs)
  private def hpKernel(lambda: Double): Kernel = (_, y) => Kernels.hpCycle(y, lambda, MinDetrendObs)

  private val kernelSpecs = Seq(
    "Y_log" -> "Y_cyc", "C_log" -> "C_cyc", "I_log" -> "I_cyc", "TB" -> "TB_cyc")

  /** Each kernel's cycles of the four series, in ONE `groupByKey` over the
    * countries; kernel `(prefix, k)` writes `<prefix>Y_cyc` … `<prefix>TB_cyc`. */
  private def detrend(wide: DataFrame, kernels: Seq[(String, Kernel)]): DataFrame =
    GroupKernels.withKernels(
      withLogs(wide), Seq("Country Code"), "Year",
      for ((prefix, k) <- kernels; (in, out) <- kernelSpecs) yield (in, prefix + out, k))
      .drop("Y_log", "C_log", "I_log")

  /** K1: per-country quadratic OLS residuals of the log series (level for
    * TB), fit only when >= MinDetrendObs finite obs
    * (detrendandstat_quad.R:132-168). The reference's t = Year-min(Year)+1
    * basis is an affine shift of Year — residuals are identical, so Year
    * itself is the regressor. */
  def quad(wide: DataFrame): DataFrame = detrend(wide, Seq("" -> quadKernel))

  /** K2: per-country Hodrick–Prescott cycle, λ=100 (annual) or 6.25
    * (dtrendandstat_HP100.R:136-164, dtrendandstat_HP625.R:136). */
  def hp(wide: DataFrame, lambda: Double): DataFrame = detrend(wide, Seq("" -> hpKernel(lambda)))

  /** K3: log-difference growth rates for Y, C, I; TB stays in levels
    * (dtrendandstat_dlog.R:83-92) — pure window built-ins, no kernel.
    * The reference guards only the current value; log(lag) of a null or
    * non-positive propagates null identically in Spark. */
  def dlog(wide: DataFrame): DataFrame = withDlog(wide, "")

  /** [[dlog]]'s cycles as `<prefix>Y_cyc` … `<prefix>TB_cyc`. */
  private def withDlog(wide: DataFrame, prefix: String): DataFrame = {
    def d(c: String) =
      when(col(c).isNotNull && !isnan(col(c)) && col(c) > 0,
        log(col(c)) - log(lag(col(c), 1).over(wCountry)))
        .otherwise(lit(null).cast("double"))
    wide
      .withColumn(s"${prefix}Y_cyc", d("Y"))
      .withColumn(s"${prefix}C_cyc", d("C"))
      .withColumn(s"${prefix}I_cyc", d("I"))
      .withColumn(s"${prefix}TB_cyc", col("TB"))
  }

  /** The cycles of all four variants, stacked long: one row per (variant,
    * country, year) — `Country Code`, `Region`, `Year`, `variant` (one of
    * `quad`, `hp100`, `hp625`, `dlog`) and the four cycle columns. The three
    * kernel variants share one [[GroupKernels.withKernels]] shuffle and dlog
    * runs its window on the rows it emits; each cell equals the one its
    * variant's own operator ([[quad]], [[hp]], [[dlog]]) computes. */
  def all(wide: DataFrame): DataFrame = {
    val kernels = Seq("quad" -> quadKernel, "hp100" -> hpKernel(100.0), "hp625" -> hpKernel(6.25))
    val cycles = withDlog(detrend(wide, kernels.map { case (v, k) => s"${v}_" -> k }), "dlog_")
    val perVariant = (kernels.map(_._1) :+ "dlog").map(v =>
      struct(lit(v).as("variant") +: kernelSpecs.map { case (_, c) => col(s"${v}_$c").as(c) }: _*))
    cycles.select(col("Country Code"), col("Region"), col("Year"), inline(array(perVariant: _*)))
  }
}
