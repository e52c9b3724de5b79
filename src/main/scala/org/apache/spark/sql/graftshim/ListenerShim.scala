package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.classic.StreamingQueryManager
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQuery

/** Spark's listener bus (`SparkContext.listenerBus` is `private[spark]`;
  * this package is inside it).
  */
object ListenerShim {
  /** Blocks until every event posted so far has reached the listeners,
    * so the status tracker knows every job that already started.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Detach a terminated query's session clone from its context's
    * listener bus. Spark runs each streaming query on a clone of the
    * session that started it, and the clone's query manager registers
    * its own query-listener bus on the context's bus for good, so every
    * query left one more receiver of every later event behind. The
    * manager keeps that bus in a private field.
    */
  def releaseQuerySession(q: StreamingQuery): Unit = q match {
    case w: StreamingQueryWrapper =>
      val streams = w.streamingQuery.sparkSessionForStream.streams
      val bus = classOf[StreamingQueryManager].getDeclaredField("listenerBus")
      bus.setAccessible(true)
      w.streamingQuery.sparkSessionForStream.sparkContext.listenerBus
        .removeListener(bus.get(streams).asInstanceOf[SparkListenerInterface])
    case _ => ()
  }
}
