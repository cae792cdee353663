package org.apache.spark

/** Main-source bridge into the private[spark] listener bus — the
  * measurement-tool analog of the test-only GraftListenerBridge. A fixed
  * sleep between profiled runs let a late job/stage event from the
  * previous run land after the counters reset under load (the same
  * async-delivery race class fixed in LlmFunctionsSpec); draining the
  * bus makes the isolation deterministic. Used only by graft.Bench's
  * per-query profile; never on a query path. */
object GraftBusBridge {
  def waitUntilListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
