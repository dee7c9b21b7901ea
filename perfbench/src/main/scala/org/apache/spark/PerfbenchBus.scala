package org.apache.spark

/** Lets the traced run wait until every listener has seen the events of
  * the operation that just ended, so per-operation attribution is exact.
  * Called only between operations, outside any timed window. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
