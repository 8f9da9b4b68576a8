package org.apache.spark

/** Blocks until every event already posted to the listener bus has been
  * delivered, so a test listener's view is complete when read. The bus is
  * package-private to Spark, hence this file's package.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
