package graft.wdi

import graft.{Memo, SparkSpec}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, MapGroupsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Plan-shape regression net for the WDI pass, on [[WdiFixture]]'s
  * extracts: constructing the 28 outputs runs nothing; a cold pass runs
  * one query that builds the rows beside 28 outputs that plan no Exchange;
  * once the driver-local rows are built, every output — sorted the way `WdiMain`
  * sorts it and written by [[RCsv.write]] — runs no Spark job and plans as
  * a bare `LocalTableScanExec`; an output persisted over one extract
  * directory never serves another's; the four variants share one set of
  * rows, built by one query with no window, kernel grouping or cache, which
  * shuffles once, by country; a cold 28-output pass stays within its job
  * budget and leaves nothing persisted; the 28 files do not depend on the
  * shuffle partition count; and the front half scans each extract once.
  */
class WdiPlanSpec extends SparkSpec {

  private lazy val dir = WdiFixture.write()

  /** Every node of an executed plan, through adaptive plans and their stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case o => o +: o.children.flatMap(nodes)
  }

  /** The RDDs persisted on the shared context. A table is matched to its
    * cache by plan, and a freshly built rows query never matches (its fold
    * is a new closure), so "nothing stays persisted" is checked on the
    * context itself. */
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

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

  test("a cold pass runs one rows query; its 28 outputs plan no Exchange") {
    // fresh extracts: the first output builds the rows, in one query that
    // scans the extracts; the outputs read driver-local rows
    val in = WdiFixture.write()
    val idle = persisted
    val out = Files.createTempDirectory("wdi-cold").toString
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val stems = try writeAll(in, out) finally spark.listenerManager.unregister(l)
    assert(stems.size == 28 && stems.distinct.size == 28)
    assert(plans.size == 28 + 1, s"${plans.size} queries ran")
    val (build, outputs) = plans.asScala.partition(p =>
      nodes(p).exists(_.isInstanceOf[FileSourceScanExec]))
    assert(build.size == 1, s"${build.size} queries scan the extracts")
    outputs.foreach { p =>
      assert(graft.Tables.exchanges(p).isEmpty, s"an output plans an Exchange:\n$p")
    }
    assert(persisted == idle, "the rows build left a table persisted")
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

  test("one rows query serves all four variants: no window, kernel grouping or cache") {
    val idle = persisted
    // each variant reads its own marker over the same rows: once the first
    // has built them, the other three run no job
    val read = WdiPipelines.variants.map { v =>
      val m = WdiPipelines.moments(spark, dir, v)
      val jobs = jobsOf(m.collect())
      (m.queryExecution.analyzed.collect { case r: WdiRows => (r.dir, r.level, r.variant) }, jobs)
    }
    val markers = read.flatMap(_._1)
    assert(markers.map(m => (m._1, m._2)).distinct.size == 1 &&
      markers.map(_._3) == WdiPipelines.variants.map(_.key), s"markers: $markers")
    assert(read.tail.forall(_._2 == 0), s"jobs per variant: ${read.map(_._2)}")
    assert(persisted == idle, "the rows build left a table persisted")
    // the detrends and the moments run per country inside the tasks that
    // read the front half's shuffle: no window, kernel grouping or
    // aggregate of their own, and nothing cached between them
    val rows = WdiPipelines.countryRows(spark, dir)
    assert(rows.collect().length == 4 * (WdiFixture.countries.size - WdiFixture.Dropped.size))
    val plan = nodes(rows.queryExecution.executedPlan)
    val banned = plan.collect {
      case w: WindowExec => w
      case g: MapGroupsExec => g
      case c: InMemoryTableScanExec => c
    }
    assert(banned.isEmpty, s"the rows query plans:\n${banned.mkString("\n")}")
    assert(rows.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }.isEmpty)
  }

  test("the rows query shuffles once, by country") {
    val rows = WdiPipelines.countryRows(spark, WdiFixture.write())
    rows.collect()
    val plan = nodes(rows.queryExecution.executedPlan)
    // the region is a map lookup in the plan, not a broadcast join
    assert(!plan.exists(_.isInstanceOf[BroadcastExchangeExec]),
      s"the rows query broadcasts:\n${rows.queryExecution.executedPlan}")
    val shuffles = plan.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)).mkString(", ")
        case SinglePartition => "single partition"
        case p => p.toString
      }
    }
    assert(shuffles == Seq("Country Code"),
      s"shuffles: ${shuffles.mkString("; ")}\n${rows.queryExecution.executedPlan}")
  }

  test("a cold 28-output pass over fresh extracts runs at most 2 jobs") {
    val in = WdiFixture.write()
    val idle = persisted
    val out = Files.createTempDirectory("wdi-pass").toString
    var stems = Seq.empty[String]
    val n = jobsOf { stems = writeAll(in, out) }
    assert(stems.size == 28 && stems.distinct.size == 28)
    // the rows query: the country shuffle's map stage, then the stage that
    // folds the countries and collects them; the outputs run none (one job
    // each took 36)
    assert(n <= 2, s"cold pass ran $n jobs")
    // nothing the pass built stays persisted: the rows are driver-local
    assert(persisted == idle, s"a pass left RDDs persisted: ${persisted -- idle}")
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
    val scans = WdiEtl.frontHalf(spark, dir).queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 3 && scans.forall(_.relation.fileFormat.isInstanceOf[CSVFileFormat]),
      scans.mkString("\n"))
    assert(scans.map(_.relation.location.rootPaths.head.getName).toSet ==
      Set("GDP_SSA_WDI.csv", "GDP_ASIA_WDI.csv", "GDP_LA_WDI.csv"))
  }
}
