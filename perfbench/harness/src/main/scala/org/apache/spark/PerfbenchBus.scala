package org.apache.spark

/** Waits until every listener has received the events posted so far, so a
  * listener's totals are complete when the benchmark reads them. Lives in
  * this package because the listener bus is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
