package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * traced run's ledger is complete before it is read. The listener bus
  * is package-private to Spark, hence this one-method shim.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
