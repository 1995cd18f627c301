package graft.tools

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage wall/CPU breakdown for one registered entry — the local
  * substitute for the Spark UI's stage table (the bench runs with the UI
  * off). Prints one line per completed stage: wall span, summed task time,
  * task count, shuffle read/write bytes — so "where does this entry's
  * wall-clock go" is answerable without guessing. Args: sfDir, name[,name].
  * Runs each entry twice (run 1 absorbs codegen warm-up; read run 2). */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').toSeq
    val spark = graft.GraftSession()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {
          t0 <- si.submissionTime; t1 <- si.completionTime
        } yield t1 - t0).getOrElse(-1L)
        val m = si.taskMetrics
        stages.add(f"STAGE ${si.stageId}%4d wall=${wall}%5d ms tasks=${si.numTasks}%3d " +
          f"run=${m.executorRunTime}%6d ms cpu=${m.executorCpuTime / 1000000}%6d ms " +
          f"gc=${m.jvmGCTime}%4d ms srd=${m.shuffleReadMetrics.totalBytesRead}%9d " +
          f"swr=${m.shuffleWriteMetrics.bytesWritten}%9d  ${si.name.take(60)}")
      }
    })
    spark.range(1000000).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    for (n <- names) {
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      (1 to 2).foreach { run =>
        stages.clear()
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        // drain the async listener bus BEFORE snapshotting: a fixed sleep
        // raced late stage-completed events into the next run's bucket
        ListenerBusDrain.drain(spark.sparkContext)
        println(s"===== $n run$run total ${f"$sec%.2f"} s =====")
        stages.forEach(l => println(l))
      }
    }
    spark.stop()
  }
}
