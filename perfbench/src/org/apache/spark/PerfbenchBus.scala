package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * the counters of one traced op are complete before the next op starts.
  * Lives in this package because the listener bus is `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
