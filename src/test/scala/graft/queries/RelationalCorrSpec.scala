package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The registry's correlation entries under ANSI mode (Spark 4's default):
  * a constant group has no correlation, so its cell is NULL — as R's `cor`
  * reports NA — where Spark's `corr` fails the whole query with
  * DIVIDE_BY_ZERO. */
class RelationalCorrSpec extends SparkSpec {

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("corr-groups").toString
    // flag A: constant quantity; flag N: quantity and price move together
    spark.range(20).select(
      when(col("id") < 10, "A").otherwise("N").as("l_returnflag"),
      when(col("id") < 10, lit(5.0)).otherwise(col("id").cast("double")).as("l_quantity"),
      (col("id") * 3 + 1).cast("double").as("l_extendedprice"))
      .write.parquet(s"$d/lineitem.parquet")
    // user 1: a constant value; user 2: a varying one
    spark.range(20).select(
      col("id").as("event_id"),
      timestamp_seconds(col("id") * 60).as("ts"),
      when(col("id") < 10, 1L).otherwise(2L).as("user_id"),
      when(col("id") < 10, lit(2.5)).otherwise(sin(col("id"))).as("value"))
      .write.parquet(s"$d/events.parquet")
    d
  }

  private def cells(entry: String): Map[String, Option[Double]] =
    Relational.queries(entry)(spark, dir).collect()
      .map(r => r.get(0).toString -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap

  test("a5_corr and a6_autocorr give NULL for a constant group, not a failed job") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val a5 = cells("a5_corr")
    assert(a5("A").isEmpty && a5("N").contains(1.0), a5)
    val a6 = cells("a6_autocorr")
    assert(a6("1").isEmpty && a6("2").nonEmpty, a6)
  }
}
