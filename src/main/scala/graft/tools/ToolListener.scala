package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** The tools' one SparkListener. Per scheduler pool (taken from the
  * job's submitted properties) it sums job count, job wall and executor
  * run time: wall ≈ taskMs / slots means a pool's jobs are slow (CPU
  * contention), wall >> taskMs / slots means they are waiting (queued).
  * It also keeps the last 200 jobs over one second, and sums the spill
  * bytes of every task.
  */
final class ToolListener extends SparkListener {
  private final class PoolStat {
    val jobs = new AtomicLong; val wallMs = new AtomicLong
    val taskMs = new AtomicLong
  }
  private val pools = new ConcurrentHashMap[String, PoolStat]()
  private val slowJobs = new ConcurrentLinkedQueue[String]()
  val spillMem = new AtomicLong
  val spillDisk = new AtomicLong

  // (pool, start time, summed task ms) per running job, and its stages
  private val running = new ConcurrentHashMap[Int, (String, Long, AtomicLong)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val pool = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.scheduler.pool")))
      .getOrElse("default")
    running.put(e.jobId, (pool, e.time, new AtomicLong))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    Option(t.taskMetrics).foreach { m =>
      spillMem.addAndGet(m.memoryBytesSpilled)
      spillDisk.addAndGet(m.diskBytesSpilled)
      for (j <- Option(stageJob.get(t.stageId)); r <- Option(running.get(j)))
        r._3.addAndGet(m.executorRunTime)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    // an hour-long run must not keep every stage it ever ran
    stageJob.entrySet.removeIf(_.getValue == e.jobId)
    Option(running.remove(e.jobId)).foreach { case (pool, t0, task) =>
      val wall = e.time - t0
      val st = pools.computeIfAbsent(pool, _ => new PoolStat)
      st.jobs.incrementAndGet(); st.wallMs.addAndGet(wall)
      st.taskMs.addAndGet(task.get)
      if (wall > 1000) {
        slowJobs.add(s"job=${e.jobId} pool=$pool wall=${wall}ms " +
          s"task=${task.get}ms")
        while (slowJobs.size > 200) slowJobs.poll()
      }
    }
  }

  /** One line per pool, then the last 40 slow jobs. */
  def report(): Seq[String] =
    pools.asScala.toSeq.sortBy(_._1).map { case (pool, st) =>
      f"pool=$pool jobs=${st.jobs.get} wall=${st.wallMs.get / 1000.0}%.1fs " +
        f"task=${st.taskMs.get / 1000.0}%.1fs"
    } ++ slowJobs.asScala.toSeq.takeRight(40)
}
