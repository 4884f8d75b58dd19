package org.apache.spark

/** Test access to the listener bus, whose wait is package-private: a
  * listener's count is complete only once every event posted before it
  * has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
