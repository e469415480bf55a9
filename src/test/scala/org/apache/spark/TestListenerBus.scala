package org.apache.spark

/** The listener bus is private to Spark; a spec that counts events with
  * a listener must see every event queued before it reads the count. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
