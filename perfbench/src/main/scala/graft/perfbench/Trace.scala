package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** One timed call into a layer: name, interval, the span that caused it and
  * the request it belongs to.
  */
final case class Span(id: Long, parent: Long, name: String, request: Long,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Records spans around the benchmark's calls into the program's public
  * functions. Spans live in memory and are written out when the run ends.
  * While a span is open its name is the thread's Spark local property
  * [[JobStats.SpanProp]], so [[JobStats]] can charge the Spark jobs the call
  * submits to it. A disabled tracer runs the body and records nothing.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](name: String, request: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      val prevProp = sc.getLocalProperty(JobStats.SpanProp)
      sc.setLocalProperty(JobStats.SpanProp, name)
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, stack.headOption.getOrElse(0L), name, request, t0,
          System.nanoTime()))
        open.set(stack)
        sc.setLocalProperty(JobStats.SpanProp, prevProp)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
}

object Tracer {
  /** Per span name: (calls, self ms, total ms). */
  def selfTimes(spans: Seq[Span]): Map[String, (Long, Double, Double)] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      val self = ss.iterator.map { s =>
        Stats.selfTime(s.startNs, s.endNs,
          kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
      }.sum
      name -> (ss.size.toLong, self / 1e6, ss.iterator.map(_.durNs).sum / 1e6)
    }
  }

  def toJson(spans: Seq[Span]): String =
    spans.sortBy(_.startNs).iterator.map { s =>
      Json.render(Json.obj("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "request" -> s.request, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs))
    }.mkString("[\n", ",\n", "\n]\n")
}
