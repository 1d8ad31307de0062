package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * listener's view of finished jobs is complete. The bus is internal to
  * Spark; this accessor is the only reason the file sits in Spark's
  * package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
