package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * traced counters are complete when an operation's ledger is read. The
  * listener bus is package-private to Spark, hence this one-line bridge.
  */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
