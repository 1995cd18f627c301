package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans (name, start, end, parent), written out when the run ends.
  * Times are nanoseconds since the run's origin; Spark's epoch-millisecond
  * event times are mapped onto the same origin. */
final class Spans {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private final case class Span(id: Int, name: String, start: Long, var end: Long, parent: Int)
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  @volatile var enabled = false

  def now: Long = System.nanoTime() - originNs
  def fromEpochMs(ms: Long): Long = (ms - originMs) * 1000000L
  def current: Int = stack.headOption.getOrElse(-1)

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = add(name, now, -1L, current)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        synchronized(spans(id).end = now)
      }
    }

  def add(name: String, start: Long, end: Long, parent: Int): Int = synchronized {
    spans += Span(spans.size, name, start, end, parent)
    spans.size - 1
  }

  def close(id: Int, end: Long): Unit = synchronized(spans(id).end = end)

  def json: String = synchronized {
    spans.map { s =>
      s"""{"id":${s.id},"name":${graft.Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Engine-layer counters for one traced pass, read from Spark's own task and
  * stage metrics plus Catalyst's phase tracker. */
final case class LayerCounts(
    planMs: Long, jobs: Long, stages: Long, tasks: Long,
    runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long,
    spillBytes: Long, peakMem: Long, scanBytes: Long, scanRecords: Long,
    stageBusyMs: Long)

/** Attached only to a traced run's timed passes and probes: counts jobs,
  * stages and tasks, sums task metrics, records stage intervals (for the
  * driver-overhead figure) and emits job/stage spans under the span that
  * launched them. */
final class LayerListener(spans: Spans) extends SparkListener with QueryExecutionListener {
  private val planMs, jobs, stageCount, tasks = new AtomicLong
  private val runMs, cpuNs, gcMs, shW, shR, spill, inBytes, inRecs = new AtomicLong
  private val peakMem = new AtomicLong
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()
  private val jobSpan = mutable.Map[Int, Int]()
  private val stageJob = mutable.Map[Int, Int]()

  def reset(): Unit = synchronized {
    Seq(planMs, jobs, stageCount, tasks, runMs, cpuNs, gcMs, shW, shR,
      spill, inBytes, inRecs, peakMem).foreach(_.set(0))
    intervals.clear()
  }

  /** Length of the union of the recorded stage intervals, in ms. */
  private def busyMs: Long = synchronized {
    var covered = 0L
    var reach = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) covered += e - from
      reach = math.max(reach, e)
    }
    covered
  }

  def snapshot(): LayerCounts = LayerCounts(
    planMs.get, jobs.get, stageCount.get, tasks.get, runMs.get, cpuNs.get, gcMs.get,
    shW.get, shR.get, spill.get, peakMem.get, inBytes.get, inRecs.get,
    busyMs)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val parent = Option(e.properties)
      .flatMap(p => Option(p.getProperty(LayerListener.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    val id = spans.add(s"job ${e.jobId}", spans.fromEpochMs(e.time), -1L, parent)
    synchronized {
      jobSpan(e.jobId) = id
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(jobSpan.remove(e.jobId)).foreach(spans.close(_, spans.fromEpochMs(e.time)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    stageCount.incrementAndGet()
    for (s <- info.submissionTime; c <- info.completionTime) {
      val parent = synchronized {
        stageJob.get(info.stageId).flatMap(jobSpan.get).getOrElse(-1)
      }
      spans.add(s"stage ${info.stageId} (${info.numTasks} tasks)",
        spans.fromEpochMs(s), spans.fromEpochMs(c), parent)
      synchronized(intervals += ((s, c)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
      inBytes.addAndGet(m.inputMetrics.bytesRead)
      inRecs.addAndGet(m.inputMetrics.recordsRead)
      peakMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    planMs.addAndGet(Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object LayerListener {
  /** Job-group local property carrying the span id that launched a job. */
  val SpanProperty = "perfbench.span"
}
