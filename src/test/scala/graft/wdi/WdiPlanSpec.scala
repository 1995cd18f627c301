package graft.wdi

import graft.SparkSpec
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.execution.{FileSourceScanExec, MapGroupsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.functions.col

/** Plan-shape regression net for the WDI pass, on [[WdiFixture]]'s
  * extracts: once the moments table is cached, every output — sorted the
  * way `WdiMain` sorts it and written by [[RCsv.write]] — is ONE Spark job
  * with no Exchange; the four variants share one cached moments table built
  * by one kernel shuffle and one aggregate; a cold 28-output pass stays
  * within its job budget; the 28 files do not depend on the shuffle
  * partition count; and the front half scans each extract once.
  */
class WdiPlanSpec extends SparkSpec {

  private lazy val dir = WdiFixture.write()

  private def sortedAsWdiMain(stem: String, df: DataFrame): DataFrame =
    if (stem.contains("by_country")) df.orderBy(col("Country Code")) else df.orderBy(col("Region"))

  /** Every node of an executed plan, through adaptive plans and their stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case o => o +: o.children.flatMap(nodes)
  }

  /** Writes the 28 outputs the way `WdiMain` does; returns their stems. */
  private def writeAll(in: String, out: String): Seq[String] =
    WdiPipelines.variants.flatMap { v =>
      WdiPipelines.outputs(spark, in, v).map { case (stem, df) =>
        RCsv.write(sortedAsWdiMain(stem, df), s"$out/$stem.csv")
        stem
      }
    }

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

  test("one kernel shuffle and one moments aggregate serve all four variants") {
    val cached = WdiPipelines.variants.map { v =>
      val m = WdiPipelines.moments(spark, dir, v)
      m.count()
      m.queryExecution.withCachedData.collect { case r: InMemoryRelation => r.cacheBuilder }
    }
    assert(cached.forall(_.size == 1) && cached.flatten.distinct.size == 1,
      s"the variants read ${cached.flatten.distinct.size} cached tables")
    val plan = nodes(cached.head.head.cachedPlan)
    val kernels = plan.collect { case g: MapGroupsExec => g }
    assert(kernels.size == 1, s"${kernels.size} kernel groupByKeys:\n${plan.head}")
    val aggs = plan.collect {
      case h: HashAggregateExec if h.aggregateExpressions.exists(_.mode == Final) => h
    }
    assert(aggs.size == 1 && aggs.head.groupingExpressions.map(_.references.head.name) ==
      Seq("variant", "Country Code", "Region"), s"moments aggregates:\n${aggs.mkString("\n")}")
  }

  test("a cold 28-output pass over fresh extracts runs at most 36 jobs") {
    val out = Files.createTempDirectory("wdi-pass").toString
    var stems = Seq.empty[String]
    val n = jobsOf { stems = writeAll(WdiFixture.write(), out) }
    assert(stems.size == 28 && stems.distinct.size == 28)
    // 28 one-job outputs, plus 8 that build the front half and the fused
    // moments table (four per-variant tables took 18, 46 in all)
    assert(n <= 28 + 8, s"cold pass ran $n jobs")
  }

  test("the 28 files are byte-identical at 1, 2 and 4 shuffle partitions") {
    val key = "spark.sql.shuffle.partitions"
    val was = spark.conf.get(key)
    val in = WdiFixture.write()
    val files = try Seq(1, 2, 4).map { p =>
      spark.conf.set(key, p.toString)
      // a fresh copy of the extracts per setting: the cached tables are
      // keyed by the input files, so each setting builds its own
      val copy = Files.createTempDirectory(s"wdi-parts$p")
      WdiEtl.extracts.foreach(f => Files.copy(Paths.get(in, f), copy.resolve(f)))
      val out = Files.createTempDirectory(s"wdi-out$p").toString
      writeAll(copy.toString, out).map(stem =>
        stem -> Files.readAllBytes(Paths.get(out, s"$stem.csv")).toSeq).toMap
    } finally spark.conf.set(key, was)
    files.tail.foreach { f =>
      assert(f.keySet == files.head.keySet)
      f.foreach { case (stem, bytes) => assert(bytes == files.head(stem), stem) }
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
