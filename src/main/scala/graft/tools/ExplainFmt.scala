package graft.tools

/** Formatted-plan dump for the optimization-round evidence files:
  * writes `<outDir>/<name>_<tag>.txt` with the `.explain("formatted")`
  * output of each named registry entry (the judge checks plan claims
  * against these files — graft.tools.ExplainFmt <sfDir> <outDir> <tag>
  * <name,name,...>). The session is Bench's, so the dumped plan is the
  * plan the bench actually executes. */
object ExplainFmt {
  def main(a: Array[String]): Unit = {
    val sfDir = a(0)
    val outDir = a(1)
    val tag = a(2)
    val names = a(3).split(',').toSeq
    val s = graft.GraftSession()
    new java.io.File(outDir).mkdirs()
    for (n <- names) {
      val df = graft.SparkEntry.queries(n)(s, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${n}_$tag.txt"),
        txt.getBytes("UTF-8"))
      println(s"[explain] wrote $outDir/${n}_$tag.txt (${txt.length} chars)")
    }
    s.stop()
  }
}
