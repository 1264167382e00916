package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * pass's counters are complete before they are read. The bus's drain is
  * package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = { sc.listenerBus.waitUntilEmpty(60000L); () }
}
