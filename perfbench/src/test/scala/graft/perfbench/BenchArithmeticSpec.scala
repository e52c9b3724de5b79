package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.{Locale, Properties}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic: the tail rule, self time, due-time
  * latency, job attribution and the result format.
  */
class BenchArithmeticSpec extends AnyFunSuite {

  private def ramp(n: Int): Seq[Double] = (1 to n).map(_.toDouble).reverse

  test("tail is the target percentile when 10 samples lie beyond it") {
    assert(Stats.tail(ramp(1000), 0.99) == Some(Stats.Tail(990.0, 0.99, 1000)))
    assert(Stats.tail(ramp(100), 0.9) == Some(Stats.Tail(90.0, 0.9, 100)))
  }

  test("tail drops to the highest percentile with 10 samples beyond it") {
    val t = Stats.tail(ramp(50), 0.99).get
    assert(t.value == 40.0 && t.percentile == 0.8 && t.samples == 50)
    assert(ramp(50).count(_ > t.value) == Stats.TailSupport)
    assert(Stats.tail(ramp(11), 0.9).map(_.value) == Some(1.0))
  }

  test("no tail without more than 10 samples") {
    assert(Stats.tail(ramp(10), 0.5).isEmpty)
    assert(Stats.tail(Nil, 0.9).isEmpty)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time is the span minus the union of its children, clipped") {
    // parent [0, 100); children [10, 30) and [20, 40) overlap; [90, 120)
    // runs past the parent's end
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60)
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((0L, 100L), (50L, 60L))) == 0)
    assert(Stats.coveredLength(Seq((5L, 5L), (200L, 300L)), 0, 100) == 0)
  }

  test("per-name self times from recorded spans") {
    val spans = Seq(
      Span(1, 0, "request", 1, 0, 100), Span(2, 1, "parse", 1, 0, 10),
      Span(3, 1, "respond", 1, 10, 90), Span(4, 3, "inner", 1, 20, 50))
    val self = Tracer.selfTimes(spans)
    assert(self("request") == ((1L, 10 / 1e6, 100 / 1e6)))
    assert(self("respond") == ((1L, 50 / 1e6, 80 / 1e6)))
    assert(self("inner")._2 == 30 / 1e6)
  }

  test("open-loop latency counts from the due time, so a stall delays later requests") {
    val period = 10000000L // 10 ms
    // the sender stalls 50 ms on request 0; requests 1-4 are sent as soon
    // as it recovers and each takes 1 ms
    val due = (0 until 5).map(_ * period)
    var free = 0L
    val lat = due.map { d =>
      val sent = math.max(d, free)
      val done = sent + (if (d == 0) 50000000L else 1000000L)
      free = done
      (Stats.dueLatencyMs(d, done), Stats.latenessMs(d, sent))
    }
    assert(lat.map(_._1) == Seq(50.0, 41.0, 32.0, 23.0, 14.0))
    assert(lat.map(_._2) == Seq(0.0, 40.0, 31.0, 22.0, 13.0))
    assert(Stats.latenessMs(100, 50) == 0.0)
  }

  test("jobs go to the background pool, else to the open span") {
    def props(kv: (String, String)*) = {
      val p = new Properties(); kv.foreach { case (k, v) => p.setProperty(k, v) }; p
    }
    val span = JobStats.SpanProp
    assert(JobStats.attribute(props("spark.scheduler.pool" -> "graft-writes", span -> "api.write")) == "api.pin")
    assert(JobStats.attribute(props("spark.scheduler.pool" -> "graft-upkeep")) == "api.fold")
    assert(JobStats.attribute(props("spark.scheduler.pool" -> "graft-reads", span -> "api.respond")) == "api.respond")
    // a fold thread started inside a write span inherits that span
    assert(JobStats.attribute(props("spark.scheduler.pool" -> "graft-upkeep", span -> "api.write")) == "api.fold")
    // compact() runs the full fold on the caller's thread
    assert(JobStats.attribute(props("spark.scheduler.pool" -> "graft-upkeep", span -> "api.compact")) == "api.compact")
    assert(JobStats.attribute(props("spark.scheduler.pool" -> "graft-writes", span -> "api.compact")) == "api.pin")
    assert(JobStats.attribute(props(span -> "api.compact")) == "api.compact")
    assert(JobStats.attribute(props()) == "other")
    assert(JobStats.attribute(null) == "other")
  }

  test("the listener charges real jobs to the span or pool that submitted them") {
    val spark = SparkSession.builder().master("local[2]").appName("spec").getOrCreate()
    try {
      val sc = spark.sparkContext
      val jobs = new JobStats
      sc.addSparkListener(jobs)
      val tracer = new Tracer(true, sc)
      tracer.span("api.respond", 1)(spark.range(100).repartition(2).count())
      tracer.span("promql.compile", 1)(spark.range(100).toDF())
      sc.setLocalProperty("spark.scheduler.pool", "graft-writes")
      tracer.span("api.write", 2)(spark.range(10).count())
      sc.setLocalProperty("spark.scheduler.pool", null)
      org.apache.spark.ListenerDrain(sc)
      val r = jobs.get("api.respond")
      assert(r.jobs >= 1 && r.tasks >= 1 && r.shuffleBytes > 0)
      assert(jobs.get("promql.compile").jobs == 0)
      assert(jobs.get("api.pin").jobs >= 1)
      assert(jobs.get("api.write").jobs == 0)
      assert(sc.getLocalProperty(JobStats.SpanProp) == null)
    } finally spark.stop()
  }

  test("numbers render the same in every locale, with all their digits") {
    val before = Locale.getDefault
    try {
      Locale.setDefault(Locale.GERMANY)
      assert(Json.render(Json.obj("v" -> 1.2034567891234, "n" -> 3L, "s" -> Seq(0.5))) ==
        """{"v":1.2034567891234,"n":3,"s":[0.5]}""")
      assert(Json.render(Json.obj("v" -> Json.num(Double.NaN), "w" -> Json.num(2.5))) ==
        """{"v":null,"w":2.5}""")
    } finally Locale.setDefault(before)
  }

  test("query API results parse into series and points") {
    val body = """{"status":"success","data":{"resultType":"matrix","result":[""" +
      """{"metric":{"instance":"a"},"values":[[60,"1.5"],[120,"2"]]},""" +
      """{"metric":{"instance":"b"},"values":[[60,"3"]]}]}}"""
    assert(PromResult.ok(body) && !PromResult.ok("not json"))
    assert(PromResult.series(body) == Seq(
      PromResult.Series(Map("instance" -> "a"), Seq((60.0, "1.5"), (120.0, "2"))),
      PromResult.Series(Map("instance" -> "b"), Seq((60.0, "3")))))
    val vector = """{"status":"success","data":{"resultType":"vector","result":[""" +
      """{"metric":{},"value":[60,"7"]}]}}"""
    assert(PromResult.series(vector) == Seq(PromResult.Series(Map.empty, Seq((60.0, "7")))))
  }

  test("BENCHMARK.json names exactly the metrics the benchmark prints") {
    val f = Paths.get("..", "BENCHMARK.json")
    assume(Files.exists(f), "BENCHMARK.json sits at the repository root")
    val root = Json.read(new String(Files.readAllBytes(f), "UTF-8"))
    def block(key: String): Seq[(String, String)] =
      root.path(key).elements.asScala.map(m => m.path("name").asText -> m.path("unit").asText).toSeq
    assert(block("end_to_end") == Main.EndToEnd)
    assert(block("per_layer") == Main.PerLayer)
    assert(Main.PerLayer.size <= 128)
  }
}
