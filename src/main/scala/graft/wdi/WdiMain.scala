package graft.wdi

/** CLI: run all four detrend pipelines and write the 28 output CSVs with
  * R-compatible formatting — the full equivalent of running the reference's
  * four Rscript entry points.
  *
  * Usage: graft.wdi.WdiMain [inputDir] [outputDir]
  */
object WdiMain {
  def main(args: Array[String]): Unit = {
    val inDir = if (args.length > 0) args(0) else "/root/reference"
    val outDir = if (args.length > 1) args(1) else "wdi_out"
    val spark = graft.GraftSession()
    WdiPipelines.variants.foreach { v =>
      WdiPipelines.outputs(spark, inDir, v).foreach { case (stem, df) =>
        RCsv.write(WdiPipelines.ordered(stem, df), s"$outDir/$stem.csv")
        println(s"wrote $outDir/$stem.csv")
      }
    }
    spark.stop()
  }
}
