package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark entry point:
  * `Main --workload <scrape|dashboard|analytics> --seed <n> --seconds <s> --trace <0|1>`
  * run from the repository root. Prints one JSON line last on stdout
  * (`correct`, `attempted`, `failed`, `metrics`) and writes the full
  * artifact, and in a traced run the spans, under `perfbench/results/`.
  */
object Main {
  val Cores = 4

  /** End-to-end metrics, reported by every workload (see README.md for
    * what each means on each workload).
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rss_peak_mb" -> "MB", "op_p50_ms" -> "ms",
    "op_tail_ms" -> "ms", "aux_ms" -> "ms", "throughput_per_s" -> "1/s")

  val FacadeSpans: Seq[String] = Seq("streaming.decode", "api.write", "api.drain",
    "api.source", "promql.parse", "promql.compile", "api.respond",
    "api.remote_read", "api.compact")
  val Pools: Seq[String] = Seq("api.pin", "api.fold")
  val Gauges: Seq[(String, String)] = Seq("api.pending_batches_max" -> "count",
    "api.hot_depth_max" -> "count", "api.mids_max" -> "count",
    "store.cold_files" -> "count", "store.cold_bytes" -> "B",
    "gap.write_ms" -> "ms", "gap.query_ms" -> "ms")

  /** Per-layer metrics of a traced run, with units; every workload prints
    * all of them (0 where a layer does not run).
    */
  val PerLayer: Seq[(String, String)] =
    FacadeSpans.flatMap(s => Seq(s"$s.calls" -> "count", s"$s.self_ms" -> "ms",
      s"$s.jobs" -> "count", s"$s.task_ms" -> "ms")) ++
      Pools.flatMap(p => Seq(s"$p.jobs" -> "count", s"$p.wall_ms" -> "ms",
        s"$p.task_ms" -> "ms", s"$p.queue_ms" -> "ms", s"$p.shuffle_mb" -> "MB")) ++
      Gauges ++
      Analytics.Modules.flatMap(m => Seq(s"analytics.$m.wall_ms" -> "ms",
        s"analytics.$m.build_ms" -> "ms", s"analytics.$m.jobs" -> "count",
        s"analytics.$m.tasks" -> "count", s"analytics.$m.task_ms" -> "ms",
        s"analytics.$m.shuffle_mb" -> "MB", s"analytics.$m.slot_util" -> "ratio"))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    require(Set("scrape", "dashboard", "analytics")(workload), s"unknown workload $workload")
    val benchDir = Paths.get("perfbench").toAbsolutePath
    val work = Files.createDirectories(
      benchDir.resolve("work").resolve(s"$workload-$seed-${ProcessHandle.current.pid}"))
    val results = Files.createDirectories(benchDir.resolve("results"))
    val loadStart = loadAvg
    val nproc = Runtime.getRuntime.availableProcessors
    if (loadStart > nproc) System.err.println(
      s"[perfbench] load average $loadStart exceeds $nproc processors at start: compare this run with care")
    val facade = workload != "analytics"

    val t0 = System.nanoTime()
    val b = GraftSession.configure(SparkSession.builder().master(s"local[$Cores]")
      .appName("perfbench"))
      .config("spark.local.dir", work.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("graft.stage.dir", work.resolve("stage").toString)
    if (facade) b.config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", Facade.poolsFile(work).toString)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionSec = (System.nanoTime() - t0) / 1e9
    val jobs = new JobStats
    spark.sparkContext.addSparkListener(jobs)
    val tracer = new Tracer(trace, spark.sparkContext)
    val ctx = Ctx(spark, seed, seconds, tracer, jobs, work, benchDir)
    val out = new Outcome
    out.phase("session")

    val crash =
      try {
        workload match {
          case "scrape" => Scrape.run(ctx, out)
          case "dashboard" => Dashboard.run(ctx, out)
          case "analytics" => Analytics.run(ctx, out)
        }
        None
      } catch { case e: Throwable => e.printStackTrace(); Some(e.toString) }
    out.phase("workload")
    org.apache.spark.ListenerDrain(spark.sparkContext)
    out.e2e("rss_peak_mb") = rssPeakMb
    val loadEnd = loadAvg

    val attempted = out.attempted.get
    val failed = out.failed.get
    val e2e = EndToEnd.map { case (n, u) => (n, out.e2e.getOrElse(n, Double.NaN), u) }
    val layers = if (trace) perLayer(ctx, out) else Nil
    val shown = if (trace) layers else e2e
    val correct = crash.isEmpty && failed == 0 && shown.forall(_._2.isFinite)
    val tag = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    val artifact = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "wrong" -> out.wrong.get,
      "error_ratio" -> failed.toDouble / math.max(1L, attempted),
      "crash" -> crash, "problems" -> out.problems,
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(layers),
      "details" -> out.details,
      "run" -> Json.obj("nproc" -> nproc,
        "spark_cores" -> Cores, "load_avg_start" -> loadStart, "load_avg_end" -> loadEnd,
        "load_gate_exceeded" -> (loadStart > nproc),
        "commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"),
        "session_start_s" -> sessionSec, "phase_end_s" -> out.phases),
      "spans_file" -> (if (trace) Some(s"results/$tag.spans.json") else None))
    Files.write(results.resolve(s"$tag.json"), (Json.render(artifact) + "\n").getBytes("UTF-8"))
    if (trace) Files.write(results.resolve(s"$tag.spans.json"),
      Tracer.toJson(tracer.all).getBytes("UTF-8"))
    spark.stop()
    Facade.deleteTree(work)
    if (crash.isDefined) {
      System.err.println(s"[perfbench] $workload crashed: ${crash.get}")
      System.exit(1)
    }
    if (!correct) out.problems.foreach(p => System.err.println(s"[perfbench] $p"))
    println(Json.render(Json.obj("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics(shown))))
    System.out.flush()
  }

  /** (name, value, unit) triples as a JSON object of `{value, unit}`. */
  private def metrics(ms: Seq[(String, Double, String)]) =
    Json.obj(ms.map { case (n, v, u) => n -> Json.obj("value" -> Json.num(v), "unit" -> u) }: _*)

  private def perLayer(ctx: Ctx, out: Outcome): Seq[(String, Double, String)] = {
    val self = Tracer.selfTimes(ctx.tracer.all)
    val v = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    FacadeSpans.foreach { s =>
      val (calls, selfMs, _) = self.getOrElse(s, (0L, 0.0, 0.0))
      val j = ctx.jobs.get(s)
      v(s"$s.calls") = calls.toDouble; v(s"$s.self_ms") = selfMs
      v(s"$s.jobs") = j.jobs.toDouble; v(s"$s.task_ms") = j.taskMs.toDouble
    }
    Pools.foreach { p =>
      val j = ctx.jobs.get(p)
      v(s"$p.jobs") = j.jobs.toDouble; v(s"$p.wall_ms") = j.wallMs.toDouble
      v(s"$p.task_ms") = j.taskMs.toDouble; v(s"$p.queue_ms") = j.queueMs.toDouble
      v(s"$p.shuffle_mb") = j.shuffleBytes / 1e6
    }
    Gauges.foreach { case (g, _) => v(g) = out.gauges.getOrElse(g, 0.0) }
    Analytics.Modules.foreach { m =>
      val (_, _, wall) = self.getOrElse(s"analytics.$m", (0L, 0.0, 0.0))
      val (_, _, build) = self.getOrElse(s"analytics.$m.build", (0L, 0.0, 0.0))
      val a = ctx.jobs.get(s"analytics.$m")
      val bj = ctx.jobs.get(s"analytics.$m.build")
      val taskMs = (a.taskMs + bj.taskMs).toDouble
      v(s"analytics.$m.wall_ms") = wall; v(s"analytics.$m.build_ms") = build
      v(s"analytics.$m.jobs") = (a.jobs + bj.jobs).toDouble
      v(s"analytics.$m.tasks") = (a.tasks + bj.tasks).toDouble
      v(s"analytics.$m.task_ms") = taskMs
      v(s"analytics.$m.shuffle_mb") = (a.shuffleBytes + bj.shuffleBytes) / 1e6
      v(s"analytics.$m.slot_util") = if (wall > 0) taskMs / (wall * Cores) else 0.0
    }
    PerLayer.map { case (n, u) => (n, v(n), u) }
  }

  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Peak resident set of this JVM (VmHWM), in MB; NaN where unavailable. */
  private def rssPeakMb: Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) Double.NaN
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
    }
  }
}
