package graft.tools

/** Run a registered entry against any dataset dir and PRINT its rows —
  * the fixture-certificate runner (TimeEntry times, this one shows). Used
  * for gate rows whose evidence lives on the Zipf fixtures, where the
  * driver's oracle board never looks: e.g. `sim_rrf_swap_sampled_gate` on
  * the 400k corpus, whose one row IS the swap's at-scale certificate.
  *
  * Usage: ShowEntry <dir> <name[,name...]> [maxRows]
  */
object ShowEntry {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val names = args(1).split(',').toSeq
    val maxRows = if (args.length > 2) args(2).toInt else 20
    val spark = graft.GraftSession()
    for (n <- names) {
      val t0 = System.nanoTime()
      val rows = graft.SparkEntry.queries(n)(spark, d).limit(maxRows).collect()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"ENTRY $n ${sec}%.3f s")
      rows.foreach(r => println(s"ROW $n ${r.toSeq.mkString(", ")}"))
    }
    spark.stop()
  }
}
