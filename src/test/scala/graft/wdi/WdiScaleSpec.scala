package graft.wdi

import graft.SparkSpec
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Scale-shape check: the WDI pipeline on ~100x the reference's country
  * count (5,000 synthetic countries x 5 variables x 60 years = 1.5M cells,
  * written as the three wide-by-year extracts). Verifies the plan completes
  * with per-group kernels distributed across partitions and produces
  * exactly one cycle row per (country, year) — the property that must hold
  * when countries no longer fit one executor — and that the moment fold
  * runs in executor tasks and emits one row per (variant, country). */
class WdiScaleSpec extends SparkSpec {

  private val nCountries = 5000

  /** The extracts: 5,000 countries, every one of which survives the gate. */
  private lazy val dir = {
    // deterministic synthetic series, one row per (country, series):
    // positive, trending, with a leading invalid run for every 7th country
    // (exercises the run-length gate)
    val codes = WdiSchemas.seriesToVariable.map(_._1)
    val row = col("id")
    val country = (row / 5).cast("int")
    val cells = WdiSchemas.yearCols.indices.map { t =>
      val v = lit(100.0) + t * 1.5 + pmod((row * 60 + t) * 2654435761L, lit(97)).cast("double")
      // a 25-year hole in every 7th country: its run of 35 still survives
      if (t < 25) when(country % 7 =!= 0, v) else v
    }
    val wide = spark.range(nCountries.toLong * 5).select(Seq(
      lit("Country").as("Country Name"),
      concat(lit("C"), format_string("%04d", country)).as("Country Code"),
      lit("Series").as("Series Name"),
      element_at(array(codes.map(lit): _*), (row % 5 + 1).cast("int")).as("Series Code"),
      country.as("k")) ++
      cells.zip(WdiSchemas.yearCols).map { case (c, y) => c.as(y) }: _*)
    val dir = java.nio.file.Files.createTempDirectory("wdi-scale").toString
    WdiEtl.extracts.zipWithIndex.foreach { case (f, i) =>
      wide.filter(col("k") % 3 === i).drop("k")
        .write.option("header", true).csv(s"$dir/$f")
    }
    dir
  }

  test("front half + quad/HP kernels at 5,000 countries") {
    val front = WdiEtl.frontHalf(spark, dir)
    val quad = WdiCycles.quad(front)
    val n = quad.count()
    // every 7th country keeps only its 35-year run; the rest keep 60 years
    val holey = (0 until nCountries).count(_ % 7 == 0)
    val expect = (nCountries - holey) * 60L + holey * 35L
    assert(n == expect, s"quad cycle rows $n != $expect")
    val hpRows = WdiCycles.hp(front, 100.0)
      .filter(col("Y_cyc").isNotNull).count()
    assert(hpRows == expect, s"hp cycle rows $hpRows != $expect")
    // kernels ran across >1 partition (distributed, not driver-collected)
    assert(quad.rdd.getNumPartitions > 1)
  }

  test("the moment fold runs in executor tasks at 5,000 countries") {
    val foldTasks = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      // the fold runs in the collect's result stage, after the shuffle
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ResultTask") foldTasks.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(l)
    val rows = try {
      val r = WdiPipelines.countryRows(spark, dir).collect()
      ListenerBusDrain.drain(sc)
      r
    } finally sc.removeSparkListener(l)
    assert(foldTasks.get > 1, s"the fold ran in ${foldTasks.get} task")
    val surviving = WdiEtl.countries(spark, dir).count()
    assert(surviving == nCountries)
    assert(rows.length == 4 * surviving, s"${rows.length} rows for $surviving countries")
  }
}
