package org.apache.spark

/** Access to Spark's `private[spark]` listener bus so the benchmark can
 * wait until every queued listener event has been delivered before it
 * reads its counters. Lives in `org.apache.spark` purely for access. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
