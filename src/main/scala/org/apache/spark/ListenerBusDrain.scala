package org.apache.spark

/** Listener events arrive asynchronously; a caller that counts them reads
  * its counters only after every event it caused has been delivered. The
  * bus drain is package-private to Spark, hence this one-method bridge. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
