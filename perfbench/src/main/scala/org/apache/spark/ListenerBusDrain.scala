package org.apache.spark

/** The listener bus is private to Spark; a traced run must see every
  * queued event before it assembles its spans. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
