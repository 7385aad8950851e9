package org.apache.spark

/** The listener bus is private to Spark; the traced run must wait for
  * it to deliver every event before it reads the counters.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
