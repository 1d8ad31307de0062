package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * spec's listener has seen every finished job. The bus is internal to
  * Spark; this accessor is the only reason the file sits in Spark's
  * package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
