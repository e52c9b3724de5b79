package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Spark's listener bus (`SparkContext.listenerBus` is `private[spark]`;
  * this package is inside it).
  */
object ListenerShim {
  /** Blocks until every event posted so far has reached the listeners,
    * so the status tracker knows every job that already started.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
