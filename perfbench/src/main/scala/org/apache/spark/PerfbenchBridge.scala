package org.apache.spark

/** Access to the one `private[spark]` call the benchmark needs: waiting
  * until every queued listener event has been delivered, so the ledger is
  * complete before it is read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
