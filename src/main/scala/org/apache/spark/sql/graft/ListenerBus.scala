package org.apache.spark.sql.graft

/** Spark's listener bus is `private[spark]`; the measurement main waits on
  * it from inside Spark's namespace, the way [[ColumnBridge]] converts
  * columns.
  */
object ListenerBus {
  /** Block until every queued listener event has been delivered. */
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
