package org.apache.spark

/** Waits until every queued listener event is delivered, so counts read
  * from a listener after an action are complete. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
