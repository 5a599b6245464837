package org.apache.spark

/** The listener bus drains asynchronously; per-layer counters are read only
  * after every event of the traced operations has been delivered. */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
