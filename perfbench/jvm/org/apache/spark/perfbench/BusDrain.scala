package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a traced pass reads its counters
  * only after every event it caused has been delivered. The bus drain is
  * package-private to Spark, hence this one-method bridge. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
