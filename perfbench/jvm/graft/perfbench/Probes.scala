package graft.perfbench

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ts.Kernels
import graft.wdi.{RCsv, WdiEtl, WdiPipelines, WdiSchemas}

/** Per-layer probes of the WDI stack, timed from outside through each
  * layer's public functions on the seeded extracts:
  * front half alone, each detrend over a persisted wide table, the kernels
  * called directly, the log-quadratic variant's seven statistics over the
  * pipeline's cached cycles, the R-CSV sink writing those seven outputs once
  * they are persisted, and the sink's number formatter.
  * Each returns (value, samples): a Spark-side probe is one timed call (the
  * traced run's time budget allows no more), a direct JVM probe is the
  * median of three samples of many calls each. The tracing overhead is
  * measured here too, on the front half, so a traced run needs no
  * listener-off pass. */
final class Probes(spark: SparkSession, dir: String, out: String,
    spans: Spans, listener: LayerListener) {
  private val microReps = 3
  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
  private def median(xs: Seq[Double]) = {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }
  private def timed(name: String)(body: => Unit): Double = spans(name) {
    val t0 = System.nanoTime(); body; secs(t0)
  }
  private def run(df: DataFrame): Long = RowHash.materialise(spark, df)._1
  private val results = scala.collection.mutable.LinkedHashMap[String, (Double, Int)]()
  /** Kernel and formatter results land here so the calls cannot be elided. */
  @volatile private var blackhole = 0.0
  private def put(k: String, xs: Seq[Double]): Unit = results(k) = (median(xs), xs.size)
  private def once(k: String, v: Double): Unit = results(k) = (v, 1)

  /** Runs every probe; attaches `listener` (the caller detaches it). */
  def runAll(): Map[String, (Double, Int)] = {
    // The front half runs four times: a warm-up, then untraced, traced,
    // untraced. The traced call over the faster untraced call around it is
    // the run's tracing overhead (JIT warming is steep over the first calls
    // when a run has not executed the WDI code yet); the traced call gives
    // time, CSV records scanned and wide rows.
    val sc = spark.sparkContext
    def frontHalf(name: String): Double = timed(name)(run(WdiEtl.frontHalf(spark, dir)))
    frontHalf("probe wdi.etl (warm-up)")
    val before = frontHalf("probe wdi.etl (untraced)")
    sc.addSparkListener(listener)
    listener.reset()
    var rowsOut = 0L
    val traced = timed("probe wdi.etl") { rowsOut = run(WdiEtl.frontHalf(spark, dir)) }
    BusDrain.drain(sc)
    sc.removeSparkListener(listener)
    once("wdi.etl.s", traced)
    once("wdi.etl.rows_in", listener.snapshot().scanRecords.toDouble)
    once("wdi.etl.rows_out", rowsOut.toDouble)
    val after = frontHalf("probe wdi.etl (untraced)")
    once("trace.overhead", traced / math.min(before, after))
    sc.addSparkListener(listener)

    val wide = WdiEtl.frontHalf(spark, dir).persist()
    run(wide)
    WdiPipelines.variants.foreach { v =>
      once(s"wdi.cycles.${v.key}_s", timed(s"probe wdi.cycles.${v.key}")(run(v.makeCycles(wide))))
    }

    kernels(wide)

    // the program's own cached cycles for this input, then its seven outputs
    val quad = WdiPipelines.quad
    run(WdiPipelines.cycles(spark, dir, quad))
    val stats = WdiPipelines.outputs(spark, dir, quad).toSeq.sortBy(_._1)
    once("wdi.stats.s", timed("probe wdi.stats")(stats.foreach(o => run(o._2))))

    val outputs = stats.map { case (stem, df) =>
      val p = WdiWorkload.ordered(stem, df).persist(); run(p); stem -> p
    }
    once("wdi.sink.s", timed("probe wdi.sink")(outputs.foreach { case (stem, df) =>
      RCsv.write(df, s"$out/$stem.csv")
    }))
    once("wdi.sink.bytes", outputs.map { case (stem, _) =>
      java.nio.file.Files.size(java.nio.file.Paths.get(s"$out/$stem.csv"))
    }.sum.toDouble)

    (outputs.map(_._2) :+ wide).foreach(_.unpersist())
    results.toMap
  }

  /** Direct single-threaded kernel calls on the wide table's series, one
    * series per (country, detrended column), and the R number formatter
    * over every finite cell of those series. */
  private def kernels(wide: DataFrame): Unit = {
    val rows = wide.select(col("Country Code"), col("Year").cast("double"),
      col("Y"), col("C"), col("I"), col("TB")).collect()
    def num(v: Any) = if (v == null) Double.NaN else v.asInstanceOf[Double]
    def logOrNaN(v: Double) = if (v > 0) math.log(v) else Double.NaN
    val series = rows.groupBy(_.getString(0)).values.toSeq.map(_.sortBy(_.getDouble(1)))
      .flatMap { rs =>
        val t = rs.map(_.getDouble(1))
        Seq(2, 3, 4).map(i => t -> rs.map(r => logOrNaN(num(r.get(i))))) :+
          (t -> rs.map(r => num(r.get(5))))
      }
    val n = series.size.toDouble
    // enough repetitions that one sample spans tens of milliseconds
    val loops = math.max(1, 50000 / math.max(1, series.size))
    def nsPer(name: String)(f: ((Array[Double], Array[Double])) => Unit): Seq[Double] =
      (1 to microReps).map { _ =>
        spans(name) {
          val t0 = System.nanoTime()
          var l = 0
          while (l < loops) { series.foreach(f); l += 1 }
          (System.nanoTime() - t0) / (n * loops)
        }
      }
    put("ts.kernels.quad_ns_per_series", nsPer("probe ts.kernels.quad") { case (t, y) =>
      blackhole += Kernels.quadResiduals(t, y, WdiSchemas.MinDetrendObs)(0)
    })
    put("ts.kernels.hp_ns_per_series", nsPer("probe ts.kernels.hp") { case (_, y) =>
      blackhole += Kernels.hpCycle(y, 100.0, WdiSchemas.MinDetrendObs)(0)
    })
    val cells = series.flatMap(_._2).filterNot(_.isNaN).toArray
    put("wdi.sink.format_ns_per_cell", (1 to microReps).map { _ =>
      spans("probe wdi.sink.format") {
        val t0 = System.nanoTime()
        var i = 0
        while (i < cells.length) { blackhole += RCsv.formatDouble(cells(i)).length; i += 1 }
        (System.nanoTime() - t0).toDouble / cells.length
      }
    })
  }
}
