package graft.wdi

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.functions.col

/** Plan-shape regression net for the WDI pass, on [[WdiFixture]]'s
  * extracts: once a variant's moments table is cached, every output —
  * sorted the way `WdiMain` sorts it and written by [[RCsv.write]] — is ONE
  * Spark job with no Exchange; and the front half scans each extract once.
  */
class WdiPlanSpec extends SparkSpec {

  private lazy val dir = WdiFixture.write()

  private def sortedAsWdiMain(stem: String, df: DataFrame): DataFrame =
    if (stem.contains("by_country")) df.orderBy(col("Country Code")) else df.orderBy(col("Region"))

  test("with its moments cached, each output is one job with no Exchange") {
    val out = java.nio.file.Files.createTempDirectory("wdi-plan").toString
    Seq(WdiPipelines.quad, WdiPipelines.dlog).foreach { v =>
      WdiPipelines.moments(spark, dir, v).count()
      WdiPipelines.outputs(spark, dir, v).foreach { case (stem, df) =>
        val sorted = sortedAsWdiMain(stem, df)
        val n = jobsOf(RCsv.write(sorted, s"$out/$stem.csv"))
        assert(n == 1, s"$stem ran $n jobs")
        val plan = sorted.queryExecution.executedPlan
        assert(graft.Tables.exchanges(plan).isEmpty, s"$stem plans an Exchange:\n$plan")
      }
    }
  }

  test("the front half scans each of the three extracts once") {
    // a directory of its own: the pipeline cache holds `dir`'s front half,
    // and a cached plan would hide the scans
    val scans = WdiEtl.frontHalf(spark, WdiFixture.write()).queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 3 && scans.forall(_.relation.fileFormat.isInstanceOf[CSVFileFormat]),
      scans.mkString("\n"))
    assert(scans.map(_.relation.location.rootPaths.head.getName).toSet ==
      Set("GDP_SSA_WDI.csv", "GDP_ASIA_WDI.csv", "GDP_LA_WDI.csv"))
  }
}
