package org.apache.spark

/** The listener bus is package-private; the benchmark drains it before
  * reading its listener's counters, so no job event is still queued. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
