package org.apache.spark

/** Blocks until every event already posted to the listener bus has been
  * delivered, so a listener's counters are complete when read. The bus is
  * package-private to Spark; this is its one use outside Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
