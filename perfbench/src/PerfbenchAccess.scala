package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; the tracer needs to wait
  * until every queued listener event has been delivered before it reads
  * its counters.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
