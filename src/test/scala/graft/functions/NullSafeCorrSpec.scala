package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** `null_safe_corr` is Spark's `corr` bit for bit, on the codegen and the
  * interpreted path, except that a zero-variance group gives null where
  * `corr` fails the query under ANSI mode. */
class NullSafeCorrSpec extends SparkSpec {

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val was = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally was.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("equals corr bitwise per group, with and without codegen") {
    GraftFunctions.registerCorr(spark)
    // 40 groups of 1..60 rows with nulls on either side; group 0 has one row
    val df = spark.range(1200).select(
      (col("id") % 40).as("g"),
      when(col("id") % 7 === 3, lit(null)).otherwise(sin(col("id")) * 1e3).as("x"),
      when(col("id") % 11 === 5, lit(null)).otherwise(cos(col("id") * 3) + col("id") * 1e-4).as("y"))
      .filter(col("g") =!= 0 || col("id") === 0)
    def run() = df.groupBy("g")
      .agg(corr("x", "y").as("c"), call_function("null_safe_corr", col("x"), col("y")).as("n"))
      .collect()
    Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").foreach { case (mode, wholeStage) =>
      val rows = withConf("spark.sql.codegen.factoryMode" -> mode,
        "spark.sql.codegen.wholeStage" -> wholeStage)(run())
      assert(rows.length == 40)
      rows.foreach { r =>
        val (c, n) = (r.get(1), r.get(2))
        assert(c == n || java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(2)), s"$mode group ${r.get(0)}: $c vs $n")
      }
    }
  }

  test("a zero-variance series gives null instead of failing under ANSI") {
    GraftFunctions.registerCorr(spark)
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val df = spark.range(30).select(col("id").cast("double").as("x"), lit(2.5).as("y"))
    val r = df.agg(call_function("null_safe_corr", col("x"), col("y"))).head()
    assert(r.isNullAt(0))
    intercept[Exception](df.agg(corr("x", "y")).collect())
  }
}
