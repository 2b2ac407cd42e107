package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's listener sums are complete before they are read. The
  * listener bus is private to Spark, hence this one-line shim.
  */
object CdiBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
