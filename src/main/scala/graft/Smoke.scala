package graft

/** Local smoke-run of the driver's flagship-entry check: rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val df = SparkEntry.entry(spark)
    df.show(10, truncate = false)
    println("ENTRY_ROWS=" + df.count())
    spark.stop()
  }
}
