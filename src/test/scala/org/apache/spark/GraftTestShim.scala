package org.apache.spark

/** The listener bus drains asynchronously: specs that count jobs through
  * `statusTracker` or a listener wait for every event first. */
object GraftTestShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
