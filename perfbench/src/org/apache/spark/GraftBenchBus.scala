package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * listener can be removed without dropping the events of the work it
  * observed (the bus is only reachable from inside this package).
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
