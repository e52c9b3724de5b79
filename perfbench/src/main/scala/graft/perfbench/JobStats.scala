package graft.perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._

/** Counts Spark jobs, tasks, task time, queueing and shuffle bytes per
  * layer. A job belongs to the facade's write pool or upkeep pool when it
  * runs there, else to the span open on the thread that submitted it, else
  * to "other"; see [[JobStats.attribute]].
  */
final class JobStats extends SparkListener {
  import JobStats._

  private val aggs = new ConcurrentHashMap[String, Agg]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private def agg(key: String): Agg = aggs.computeIfAbsent(key, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = attribute(e.properties)
    jobs.put(e.jobId, new JobRec(key, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    agg(key).jobs.incrementAndGet()
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
      .foreach(r => r.firstTask.accumulateAndGet(e.taskInfo.launchTime, math.min))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
      .foreach { r =>
        val a = agg(r.key)
        a.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          a.taskMs.addAndGet(m.executorRunTime)
          a.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { r =>
      stageJob.values().removeIf(_ == e.jobId)
      val a = agg(r.key)
      a.wallMs.addAndGet(e.time - r.submitMs)
      val first = r.firstTask.get
      if (first != Long.MaxValue) a.queueMs.addAndGet(math.max(0L, first - r.submitMs))
    }

  /** Totals for one attribution key (zeros when it never ran a job). */
  def get(key: String): Totals = {
    val a = Option(aggs.get(key)).getOrElse(new Agg)
    Totals(a.jobs.get, a.tasks.get, a.taskMs.get, a.wallMs.get, a.queueMs.get,
      a.shuffleBytes.get)
  }
}

object JobStats {
  /** Spark local property naming the span open on the submitting thread. */
  val SpanProp = "perfbench.span"
  val PinPool = "graft-writes"
  val FoldPool = "graft-upkeep"

  final case class Totals(jobs: Long, tasks: Long, taskMs: Long, wallMs: Long,
      queueMs: Long, shuffleBytes: Long)

  private final class Agg {
    val jobs, tasks, taskMs, wallMs, queueMs, shuffleBytes = new AtomicLong
  }
  private final class JobRec(val key: String, val submitMs: Long) {
    val firstTask = new AtomicLong(Long.MaxValue)
  }

  /** Spans whose call runs a background pool's work on the caller's own
    * thread: `HttpApi.compact()` runs the full fold synchronously, tagged
    * with the upkeep pool.
    */
  val SynchronousSpans: Map[String, String] = Map("api.compact" -> FoldPool)

  /** The layer a job is charged to. Background pools win over the span:
    * the facade's pin and fold threads inherit whatever local properties
    * the thread that created them held, so only the pool tag is reliable
    * there. The exception is a [[SynchronousSpans]] span tagged with its
    * own pool, whose jobs are the call's own work.
    */
  def attribute(props: Properties): String = {
    def prop(k: String) = Option(props).flatMap(p => Option(p.getProperty(k)))
    val span = prop(SpanProp)
    (span, prop("spark.scheduler.pool")) match {
      case (Some(s), Some(p)) if SynchronousSpans.get(s).contains(p) => s
      case (_, Some(PinPool)) => "api.pin"
      case (_, Some(FoldPool)) => "api.fold"
      case _ => span.getOrElse("other")
    }
  }
}
