package org.apache.spark

/** Waits until every queued listener event has been delivered, so an
  * op's counters are complete before they are read. The listener bus
  * is `private[spark]`; this is the benchmark's only code inside the
  * Spark namespace. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
