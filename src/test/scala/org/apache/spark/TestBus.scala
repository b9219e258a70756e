package org.apache.spark

/** Waits until every queued listener event has been delivered, so a spec's
  * listener has seen all events of the work that just ran. (The listener
  * bus is package-private to Spark.)
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
