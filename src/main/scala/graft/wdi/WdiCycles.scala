package graft.wdi

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ts.{GroupKernels, Kernels}

/** The three detrending operators applied to the cleaned wide table —
  * each yields cycle columns Y_cyc, C_cyc, I_cyc, TB_cyc. The pipeline's
  * outputs compute the same cycles per country on plain arrays
  * ([[WdiStats]]); these operators are the DataFrame form they are
  * checked against.
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

  private val kernelSpecs = Seq(
    "Y_log" -> "Y_cyc", "C_log" -> "C_cyc", "I_log" -> "I_cyc", "TB" -> "TB_cyc")

  /** The kernel's cycles of the four series, in one grouping by country. */
  private def detrend(wide: DataFrame,
      kernel: (Array[Double], Array[Double]) => Array[Double]): DataFrame =
    GroupKernels.withKernel(withLogs(wide), Seq("Country Code"), "Year", kernelSpecs, kernel)
      .drop("Y_log", "C_log", "I_log")

  /** K1: per-country quadratic OLS residuals of the log series (level for
    * TB), fit only when >= MinDetrendObs finite obs
    * (detrendandstat_quad.R:132-168). The reference's t = Year-min(Year)+1
    * basis is an affine shift of Year — residuals are identical, so Year
    * itself is the regressor. */
  def quad(wide: DataFrame): DataFrame =
    detrend(wide, Kernels.quadResiduals(_, _, MinDetrendObs))

  /** K2: per-country Hodrick–Prescott cycle, λ=100 (annual) or 6.25
    * (dtrendandstat_HP100.R:136-164, dtrendandstat_HP625.R:136). */
  def hp(wide: DataFrame, lambda: Double): DataFrame =
    detrend(wide, (_, y) => Kernels.hpCycle(y, lambda, MinDetrendObs))

  /** K3: log-difference growth rates for Y, C, I; TB stays in levels
    * (dtrendandstat_dlog.R:83-92) — pure window built-ins, no kernel.
    * The reference guards only the current value; log(lag) of a null or
    * non-positive propagates null identically in Spark. */
  def dlog(wide: DataFrame): DataFrame = {
    def d(c: String) =
      when(col(c).isNotNull && !isnan(col(c)) && col(c) > 0,
        log(col(c)) - log(lag(col(c), 1).over(wCountry)))
        .otherwise(lit(null).cast("double"))
    wide
      .withColumn("Y_cyc", d("Y"))
      .withColumn("C_cyc", d("C"))
      .withColumn("I_cyc", d("I"))
      .withColumn("TB_cyc", col("TB"))
  }
}
