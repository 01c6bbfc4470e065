package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * traced run reads complete job and task tallies. The bus is internal
  * to Spark; this bridge is the only reason the file sits in Spark's
  * package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
