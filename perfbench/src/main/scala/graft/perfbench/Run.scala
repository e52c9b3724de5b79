package graft.perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** What a workload gets: the session, its seed and measuring time, the
  * tracer (enabled only in a traced run) and the job listener.
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    tracer: Tracer, jobs: JobStats, work: Path, benchDir: Path) {
  def traced: Boolean = tracer.enabled
}

/** What a workload reports. `e2e` holds the values of the end-to-end
  * metrics; `details` goes to the artifact file only.
  */
final class Outcome {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val wrong = new AtomicLong
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val details = mutable.LinkedHashMap.empty[String, Any]
  val gauges = mutable.LinkedHashMap.empty[String, Double]
  private val problemLog = mutable.ArrayBuffer.empty[String]
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  val phases = mutable.LinkedHashMap.empty[String, Double]

  /** Seconds since the JVM started, recorded when a phase ends. */
  def phase(name: String): Unit =
    phases(name) = (System.currentTimeMillis() - jvmStartMs) / 1e3

  /** One operation attempted; `ok` false counts it failed. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted.incrementAndGet()
    if (!ok) { failed.incrementAndGet(); problem(what) }
  }

  /** One answer checked; `ok` false counts it wrong (and failed). */
  def check(ok: Boolean, what: => String): Unit = {
    attempted.incrementAndGet()
    if (!ok) { wrong.incrementAndGet(); failed.incrementAndGet(); problem(what) }
  }

  def problem(s: String): Unit = problemLog.synchronized {
    if (problemLog.size < 50) problemLog += s
  }
  def problems: Seq[String] = problemLog.synchronized(problemLog.toList)

  /** A latency series with its median, tail and sample count. */
  def timing(name: String, xs: Seq[Double], tailTarget: Double): Unit = {
    details(name) = Json.obj(
      "unit" -> "ms", "samples" -> xs.size,
      "p50" -> (if (xs.isEmpty) None else Some(Stats.median(xs))),
      "tail" -> Stats.tail(xs, tailTarget).map(t =>
        Json.obj("value" -> t.value, "percentile" -> t.percentile)),
      "max" -> (if (xs.isEmpty) None else Some(xs.max)))
  }
}

/** Latencies collected from several threads. */
final class Samples {
  private val buf = mutable.ArrayBuffer.empty[Double]
  def add(x: Double): Unit = synchronized(buf += x)
  def all: Seq[Double] = synchronized(buf.toList)
}

/** JSON in and out, through the Jackson mapper Spark ships with. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Serializes Scala maps (in their iteration order), sequences, options
    * (None is null), strings, booleans and numbers. Numbers keep every
    * digit and do not depend on the default locale.
    */
  def render(v: Any): String = mapper.writeValueAsString(v)

  def read(s: String): JsonNode = mapper.readTree(s)

  /** An insertion-ordered object. */
  def obj(kv: (String, Any)*): ListMap[String, Any] = ListMap(kv: _*)

  /** A measured value, or null when it is not a finite number. */
  def num(d: Double): Option[Double] = if (d.isFinite) Some(d) else None
}

/** Parsed `matrix`/`vector` result of the Prometheus query API. */
object PromResult {
  final case class Series(metric: Map[String, String], points: Seq[(Double, String)])

  def ok(body: String): Boolean =
    scala.util.Try(Json.read(body).path("status").asText == "success").getOrElse(false)

  def series(body: String): Seq[Series] =
    Json.read(body).path("data").path("result").elements.asScala.map { s =>
      val points = Option(s.get("values")).map(_.elements.asScala.toSeq)
        .getOrElse(Option(s.get("value")).toSeq)
      Series(s.path("metric").fields.asScala.map(e => e.getKey -> e.getValue.asText).toMap,
        points.map(p => (p.get(0).asDouble, p.get(1).asText)))
    }.toSeq
}
