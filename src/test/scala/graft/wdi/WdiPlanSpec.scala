package graft.wdi

import graft.{Memo, SparkSpec}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, MapGroupsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-shape regression net for the WDI pass, on [[WdiFixture]]'s
  * extracts: constructing the 28 outputs runs nothing; once the moments
  * table is cached, a pass runs two jobs and no query plans an Exchange;
  * once the driver-local rows are built, every output — sorted the way `WdiMain`
  * sorts it and written by [[RCsv.write]] — runs no Spark job and plans as
  * a bare `LocalTableScanExec`; an output persisted over one extract
  * directory never serves another's; the four variants share one cached
  * moments table built by one kernel shuffle and one aggregate; a cold
  * 28-output pass stays within its job budget; the 28 files do not depend
  * on the shuffle partition count; and the front half scans each extract
  * once.
  */
class WdiPlanSpec extends SparkSpec {

  private lazy val dir = WdiFixture.write()

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
        RCsv.write(WdiPipelines.ordered(stem, df), s"$out/$stem.csv")
        stem
      }
    }

  test("constructing the 28 outputs over fresh extracts runs no job and builds nothing") {
    val in = WdiFixture.write()
    val entries = Memo.size
    var n = 0
    val jobs = jobsOf { n = WdiPipelines.variants.map(WdiPipelines.outputs(spark, in, _).size).sum }
    assert(n == 28 && jobs == 0, s"constructing $n outputs ran $jobs jobs")
    assert(Memo.size == entries, "construction built a memo entry")
  }

  test("with its rows built, each output runs no job and plans as a LocalTableScanExec") {
    val out = Files.createTempDirectory("wdi-plan").toString
    WdiPipelines.moments(spark, dir, WdiPipelines.quad).collect()
    WdiPipelines.variants.foreach { v =>
      WdiPipelines.outputs(spark, dir, v).foreach { case (stem, df) =>
        val sorted = WdiPipelines.ordered(stem, df)
        val n = jobsOf(RCsv.write(sorted, s"$out/$stem.csv"))
        assert(n == 0, s"$stem ran $n jobs")
        val plan = sorted.queryExecution.executedPlan
        assert(plan.isInstanceOf[LocalTableScanExec], s"$stem plans more than a local scan:\n$plan")
      }
    }
  }

  test("with its moments cached, each output is one job with no Exchange") {
    // fresh extracts: the moments table is built and cached here, the rows
    // are not, so the outputs below also pay for collecting them
    val in = WdiFixture.write()
    WdiPipelines.momentsAll(spark, in).count()
    val out = Files.createTempDirectory("wdi-cached").toString
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    var stems = Seq.empty[String]
    spark.listenerManager.register(l)
    val n = try jobsOf { stems = writeAll(in, out) } finally spark.listenerManager.unregister(l)
    assert(stems.size == 28 && stems.distinct.size == 28)
    // the first output collects the cached moments and their region
    // aggregate, one job each; the 28 outputs themselves run none
    assert(n == 2, s"28 outputs over cached moments ran $n jobs")
    assert(plans.size == 28 + 2, s"${plans.size} queries ran")
    plans.forEach { p =>
      assert(graft.Tables.exchanges(p).isEmpty, s"a query plans an Exchange:\n$p")
    }
  }

  test("an output persisted over one extract directory never serves another's") {
    val (a, b) = (WdiFixture.write(), WdiFixture.write())
    val stem = "sd_by_region_logquad"
    def out(d: String) =
      WdiPipelines.ordered(stem, WdiPipelines.outputs(spark, d, WdiPipelines.quad)(stem))
    def cached(df: DataFrame) =
      df.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }.nonEmpty
    val want = out(a).collect().toSeq
    val p = out(a).persist()
    try {
      assert(p.collect().toSeq == want)
      assert(cached(out(a)), "the same output over the same extracts misses the cache")
      assert(!cached(out(b)), "an output over other extracts matched the cache")
      assert(out(b).collect().toSeq == want, "the fixture is seeded: both dirs hold the same rows")
      out(b).foreachPartition((_: Iterator[Row]) => ())
    } finally p.unpersist(blocking = true)
  }

  test("one kernel shuffle and one moments aggregate serve all four variants") {
    val markers = WdiPipelines.variants.flatMap { v =>
      val m = WdiPipelines.moments(spark, dir, v)
      m.collect()
      m.queryExecution.analyzed.collect { case r: WdiRows => r.canonicalized }
    }
    assert(markers.size == 4 && markers.distinct.size == 1,
      s"the variants read ${markers.distinct.size} row sets")
    val cached = WdiPipelines.momentsAll(spark, dir).queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cacheBuilder
    }
    assert(cached.size == 1, s"the moments table reads ${cached.size} cached tables")
    val plan = nodes(cached.head.cachedPlan)
    val kernels = plan.collect { case g: MapGroupsExec => g }
    assert(kernels.size == 1, s"${kernels.size} kernel groupByKeys:\n${plan.head}")
    val aggs = plan.collect {
      case h: HashAggregateExec if h.aggregateExpressions.exists(_.mode == Final) => h
    }
    assert(aggs.size == 1 && aggs.head.groupingExpressions.map(_.references.head.name) ==
      Seq("variant", "Country Code", "Region"), s"moments aggregates:\n${aggs.mkString("\n")}")
  }

  test("a cold 28-output pass over fresh extracts runs at most 10 jobs") {
    val out = Files.createTempDirectory("wdi-pass").toString
    var stems = Seq.empty[String]
    val n = jobsOf { stems = writeAll(WdiFixture.write(), out) }
    assert(stems.size == 28 && stems.distinct.size == 28)
    // 8 build the front half and the fused moments table, 2 collect its rows
    // and its region aggregate; the outputs run none (one job each took 36)
    assert(n <= 8 + 2, s"cold pass ran $n jobs")
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
