package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession

import graft.Bench

/** The benchmark's JVM side: one workload, one process, one closed-loop
  * client. Set up the session several times, construct several times, run
  * a cold first pass, then as many timed passes as `--seconds` holds at the
  * workload's nominal pass time; in a traced run,
  * the timed passes carry the listeners and the WDI layers are probed.
  * Everything measured goes to `--out` as JSON; `run.py` checks and reports.
  *
  * Usage: graft.perfbench.Main --workload W --work DIR --out FILE
  *   --seconds S --trace 0|1 --seed N --cpus N --countries N --spans FILE
  *   [--tpch DIR] */
object Main {
  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** Generated classes Spark keeps compiled. Its default, 100, is smaller
    * than one pass needs (188 classes on wdi_e2e, about 320 on
    * tpch_sf0.01): with it every pass compiles them all again, the JIT never
    * settles, and passes take twice as long and spread with the host's load. */
  val CodegenCacheEntries = 1000

  /** The engine configuration `Bench` runs with, plus scratch dirs in `work`
    * and a codegen cache that holds a pass. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** (busy jiffies of the whole box, jiffies of this process, steal
    * jiffies) from /proc — the first two are the inputs of
    * [[Bench.externalCores]] (whose busy count includes steal); -1 each
    * where unreadable. */
  private def cpuTicks(): (Long, Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      val busy = f.take(8).sum - f(3) - f(4)
      val self = Files.readString(Paths.get("/proc/self/stat"))
      val rest = self.substring(self.lastIndexOf(')') + 2).split(" ")
      (busy, rest(11).toLong + rest(12).toLong, f(7))
    } catch { case scala.util.control.NonFatal(_) => (-1L, -1L, -1L) }

  /** Milliseconds the JIT compiler threads have spent compiling. */
  private def jitMillis(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** One pass: wall and process CPU seconds, JIT compile seconds and
    * codegen compilations inside it, contention readings, cached bytes after
    * it, its operations, and the engine-layer counters when traced. */
  final case class PassResult(index: Int, kind: String, traced: Boolean, wall: Double,
      cpu: Double, jit: Double, compiles: Long, extCores: Double, stealCores: Double,
      gcShare: Double, cacheBytes: Long, queries: Seq[QueryRun], layers: Option[LayerCounts])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val seed = opt("seed").toLong
    val cpus = opt("cpus").toInt
    // a traced run reports no set-up or construction time: it does each once
    val nSetups = if (trace) 1 else 3
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainAt = System.currentTimeMillis()
    val spans = new Spans
    spans.enabled = trace

    // WDI extracts: the wdi workload's input, and the layer probes' input
    val wdiDir = s"$work/wdi_gen"
    val needWdi = workload == "wdi_e2e" || trace
    val tGen = System.nanoTime()
    val wdiRows =
      if (needWdi) spans("generate wdi")(WdiGen.generate(wdiDir, seed, opt("countries").toInt))
      else 0L
    val genSeconds = secs(tGen)

    val wl: Workload = workload match {
      case "wdi_e2e" => new WdiWorkload(wdiDir, work)
      case w if w.startsWith("tpch_") => new RegistryWorkload("tpch_", opt("tpch"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // set-up, several times: a fresh session plus the warm-up
    var spark: SparkSession = null
    val setups = (1 to nSetups).map { i =>
      spans(s"setup $i") {
        val t0 = System.nanoTime()
        if (spark != null) spark.stop()
        spark = session(cpus, work)
        wl.warmUp(spark)
        secs(t0)
      }
    }
    val sc = spark.sparkContext
    val listener = new LayerListener(spans)
    // construction, several times: the last one's DataFrames are used
    val builds = (1 to (if (trace) 1 else wl.constructions)).map { _ =>
      val rec = new PassRecorder(spark, spans)
      wl.construct(spark, rec)
      rec.buildSeconds
    }

    def cacheBytes(): (Long, Long, Long) = {
      val infos = sc.getRDDStorageInfo
      (infos.map(_.numCachedPartitions.toLong).sum, infos.map(_.memSize).sum, infos.map(_.diskSize).sum)
    }

    def runPass(p: Int, kind: String, traced: Boolean): PassResult = {
      wl.prepare(p)
      if (traced) {
        BusDrain.drain(sc)
        listener.reset()
        sc.addSparkListener(listener)
        spark.listenerManager.register(listener)
      }
      val rec = new PassRecorder(spark, spans)
      val (busy0, self0, steal0) = cpuTicks()
      val gc0 = gcMillis()
      val jit0 = jitMillis()
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      spans(s"pass $p ($kind${if (traced) ", traced" else ""})")(wl.pass(spark, p, rec))
      val wall = secs(t0)
      val (busy1, self1, steal1) = cpuTicks()
      val ext = Bench.externalCores(busy0, self0, busy1, self1, wall)
      val steal = if (steal0 < 0 || steal1 < steal0) 0.0 else (steal1 - steal0) / 100.0 / wall
      val gc = Bench.gcShare(gc0, gcMillis(), wall)
      val jit = (jitMillis() - jit0) / 1e3
      val cg = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
      val layers =
        if (!traced) None
        else {
          BusDrain.drain(sc)
          spark.listenerManager.unregister(listener)
          sc.removeSparkListener(listener)
          Some(listener.snapshot())
        }
      val cpu = if (self0 < 0 || self1 < self0) 0.0 else (self1 - self0) / 100.0
      PassResult(p, kind, traced, wall, cpu, jit, cg, ext, steal, gc, cacheBytes()._2,
        rec.queries.toSeq, layers)
    }

    val passes = scala.collection.mutable.ArrayBuffer[PassResult]()
    passes += runPass(0, "first", traced = false)
    // A fixed number of timed passes, as many as fill the window at the
    // workload's nominal pass time: every run times the same passes, so the
    // JIT has reached the same point in each, however loaded the host is.
    val nTimed = math.max(1, math.round(seconds / wl.nominalPassSeconds).toInt)
    val tTimed = System.nanoTime()
    for (p <- 1 to nTimed) passes += runPass(p, "timed", traced = trace)
    val timedSeconds = secs(tTimed)
    val (blocks, memBytes, diskBytes) = cacheBytes()

    val probes =
      if (!trace) Map.empty[String, (Double, Int)]
      else {
        val dir = s"$work/wdi_in/probe"
        WdiWorkload.copy(wdiDir, dir)
        try new Probes(spark, dir, s"$work/probe_out", spans, listener).runAll()
        finally { BusDrain.drain(sc); sc.removeSparkListener(listener) }
      }
    spark.stop()

    if (trace) Files.writeString(Paths.get(opt("spans")), spans.json)
    val result = J.obj(
      "workload" -> workload,
      "cpus" -> cpus,
      "jvm_start_s" -> (mainAt - jvmStart) / 1e3,
      "gen_s" -> genSeconds,
      "wdi_rows" -> wdiRows,
      "setups_s" -> setups,
      "builds_s" -> builds,
      "timed_s" -> timedSeconds,
      "cache" -> J.obj("blocks" -> blocks, "mem_bytes" -> memBytes, "disk_bytes" -> diskBytes),
      "passes" -> passes.map { r =>
        J.obj("index" -> r.index, "kind" -> r.kind, "traced" -> r.traced, "wall_s" -> r.wall,
          "process_cpu_s" -> r.cpu, "jit_s" -> r.jit,
          "codegen_compiles" -> r.compiles, "external_cores" -> r.extCores,
          "steal_cores" -> r.stealCores,
          "gc_share" -> r.gcShare,
          "cache_bytes" -> r.cacheBytes,
          "queries" -> r.queries.map(q => J.obj("name" -> q.name, "s" -> q.seconds,
            "rows" -> q.rows, "hash" -> java.lang.Long.toUnsignedString(q.hash), "error" -> q.error)),
          "layers" -> r.layers.map(l => J.obj(
            "plan_ms" -> l.planMs, "jobs" -> l.jobs, "stages" -> l.stages, "tasks" -> l.tasks,
            "run_ms" -> l.runMs, "cpu_ns" -> l.cpuNs, "gc_ms" -> l.gcMs,
            "shuffle_write" -> l.shuffleWrite, "shuffle_read" -> l.shuffleRead,
            "spill_bytes" -> l.spillBytes,
            "peak_mem" -> l.peakMem, "scan_bytes" -> l.scanBytes,
            "scan_records" -> l.scanRecords, "stage_busy_ms" -> l.stageBusyMs)).orNull)
      },
      "probes" -> probes.map { case (k, (v, n)) => k -> J.obj("value" -> v, "samples" -> n) },
      "workload_info" -> wl.describe)
    Files.writeString(Paths.get(opt("out")), result.json)
  }
}

/** Just enough JSON for the result file. */
object J {
  final case class Raw(json: String)

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${graft.Json.str(k)}:${of(v)}" }.mkString("{", ",", "}"))

  def of(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => of(x)
    case Raw(json) => json
    case s: String => graft.Json.str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).json
    case s: Iterable[_] => s.map(of).mkString("[", ",", "]")
    case o => graft.Json.str(o.toString)
  }
}
