package org.apache.spark

/** Access to the package-private listener bus, so the harness can wait
  * until every event of a finished call has been delivered: before the
  * traced run attributes counters to that call, and before a heap sample
  * (queued events still reference the last query's plan). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
