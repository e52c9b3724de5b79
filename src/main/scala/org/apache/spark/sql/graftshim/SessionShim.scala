package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** Child sessions (`cloneSession` is `private[sql]`; this package is
  * inside it).
  */
object SessionShim {
  // idle children, per caller session. A session's first streaming
  // query registers that session's query-listener bus on the
  // SparkContext's shared listener bus, and nothing ever removes it, so
  // a fresh clone per call would leave one more listener (and one more
  // receiver of every later streaming event) behind each call. Pooled,
  // the children number at most the caller's peak concurrent calls.
  private val idle =
    new java.util.WeakHashMap[SparkSession, java.util.ArrayDeque[ClassicSession]]()

  /** Run `f` on a child of `spark` whose conf is the caller's as it
    * stands now with `overrides` applied to the child alone. Work that
    * needs a different setting runs on the child, so the caller's
    * session, which concurrent work shares, never changes. The child's
    * temp views and functions are the caller's as of the child's
    * creation; `f` should leave none of its own behind. A child whose
    * `f` threw is dropped, not reused.
    */
  def withChild[T](spark: SparkSession, overrides: (String, String)*)(
      f: SparkSession => T): T = {
    val caller = spark.asInstanceOf[ClassicSession]
    val child = idle.synchronized(
      Option(idle.get(spark)).flatMap(q => Option(q.poll())))
      .getOrElse(caller.cloneSession())
    val conf = child.sessionState.conf
    conf.clear()
    caller.sessionState.conf.getAllConfs.foreach { case (k, v) =>
      conf.setConfString(k, v)
    }
    overrides.foreach { case (k, v) => conf.setConfString(k, v) }
    val out = f(child)
    idle.synchronized(idle.computeIfAbsent(spark,
      _ => new java.util.ArrayDeque[ClassicSession]()).push(child))
    out
  }
}
