package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so the
  * job counters are complete before they are read. */
object PerfbenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
