package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered, so job counts read after a run are complete. The bus is
  * package-private to Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
