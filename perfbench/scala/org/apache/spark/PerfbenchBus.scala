package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's ledger is complete before it is read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
