package org.apache.spark

/** Blocks until every event already posted to the listener bus has been
  * delivered, so [[graft.Measure]]'s view of a block is complete when read.
  * The bus is package-private to Spark, hence this file's package.
  */
object MeasureBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
