package org.apache.spark

/** Waits until every queued listener event has been delivered, so task
  * metrics read right after an action are complete. The listener bus is
  * package-private to Spark, hence this file's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
