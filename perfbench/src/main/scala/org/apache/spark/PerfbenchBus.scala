package org.apache.spark

/** Waits until every listener queue of a context has delivered its
  * events, so listener-derived numbers are complete when read. The
  * context's bus is package-private, hence this accessor's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
