package graft.tools

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.api.HttpApi
import graft.streaming.Prompb

/** Scrape-soak with interleaved dashboard reads (VERDICT r11 #8): the
  * r11 group-commit numbers were write-only; this sustains 200-pt
  * scrape POSTs for minutes WITH concurrent query_range reads — each
  * read drains the flush queue first (read-your-writes), so reads pay
  * the pin latency the group commit defers — and reports:
  *
  *  - write throughput overall AND per 10 s bucket (stability: a
  *    degrading flusher shows up as bucket decay, not in the mean);
  *  - write p50/p99 POST latency;
  *  - read p50/p99 latency (the read-your-writes cost, measured);
  *  - max pendingBatches ever sampled (bounded queue = no growth);
  *  - a final drain + exact point-count check (every acknowledged
  *    point readable — the soak is also a correctness run).
  *
  * Reference workload shape: `tests/remote-storage-test2/main.go:31-40`
  * (concurrent writer/reader agents over the same facade).
  *
  * Env: SB_SECONDS (default 120), SB_WRITERS (4), SB_READ_EVERY_MS
  * (2000), SB_FLUSH_POSTS (8), SB_READ_STALENESS_SEC (0 = strict
  * read-your-writes), SPARK_GRAFT_CPUS (32). One JSON line to stdout
  * and SB_OUT (default SOAK_BENCH.json).
  */
object SoakBench {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val seconds = sys.env.getOrElse("SB_SECONDS", "120").toInt
    val writers = sys.env.getOrElse("SB_WRITERS", "4").toInt
    val readEveryMs = sys.env.getOrElse("SB_READ_EVERY_MS", "2000").toLong
    val flushPosts = sys.env.getOrElse("SB_FLUSH_POSTS", "8").toInt
    val compactEvery = sys.env.getOrElse("SB_COMPACT_EVERY", "16").toInt
    // > 0 switches the dashboard reader to bounded-staleness mode: every
    // read carries X-SquirrelDB-Max-Staleness and skips the
    // read-your-writes drain while the pinned view is fresh enough
    val readStaleSec =
      sys.env.getOrElse("SB_READ_STALENESS_SEC", "0").toDouble
    val perPost = 200
    // FAIR + an allocation file: the facade tags reads and pins into
    // separate pools; the graft-reads minShare GUARANTEES a pending read
    // task slots ahead of the write side's continuous pin stream
    // (measured: the same head-only read is 0.44 s quiesced but 13-15 s
    // under 43k pts/s ingest with plain 1:1 FAIR — read jobs alternate
    // short stages with driver-side planning, so without a minShare the
    // saturated write pool reclaims every slot at each stage boundary).
    // The share is half the run's slots (16 at local[32]), so it never
    // exceeds the slots a small box has
    val readShare = math.max(1, cpus.toInt / 2)
    val poolsXml = java.nio.file.Files.createTempFile("graft-pools", ".xml")
    java.nio.file.Files.write(poolsXml,
      s"""<?xml version="1.0"?>
        |<allocations>
        |  <pool name="graft-reads">
        |    <schedulingMode>FIFO</schedulingMode>
        |    <weight>8</weight><minShare>$readShare</minShare>
        |  </pool>
        |  <pool name="graft-writes">
        |    <schedulingMode>FIFO</schedulingMode>
        |    <weight>1</weight><minShare>0</minShare>
        |  </pool>
        |  <pool name="graft-upkeep">
        |    <schedulingMode>FIFO</schedulingMode>
        |    <weight>1</weight><minShare>0</minShare>
        |  </pool>
        |</allocations>""".stripMargin.getBytes("UTF-8"))
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.scheduler.allocation.file",
          poolsXml.toString)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // sustained-scrape tuning: at ~35 pins/s the default compactEvery=64
    // lets the read-side union grow ~86 deep between folds (r12 soak:
    // read p50 13.7 s); a 16-batch fold cadence keeps the union shallow
    // while the fold (one ~0.5 s background job) still amortizes

    // per-pool job attribution (graft-reads vs graft-writes vs upkeep)
    val jobs = new ToolListener
    spark.sparkContext.addSparkListener(jobs)

    // hour-scale configuration (VERDICT r13 #3): SB_DURABLE_PATH enables
    // the cold tier (folds spill points older than SB_HOT_RETAIN_SEC, so
    // hot memory is bounded over arbitrarily long runs); SB_STAGE_DIR
    // sets where the staged hot pins go (the directory whose growth the
    // timeline tracks; unset, they go to a JVM-lifetime temp dir)
    val durablePath = sys.env.get("SB_DURABLE_PATH")
    val hotRetainSec = sys.env.getOrElse("SB_HOT_RETAIN_SEC", "600").toLong
    val stageDir = sys.env.get("SB_STAGE_DIR")
    stageDir.foreach { d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      spark.conf.set("graft.stage.dir", d)
    }
    durablePath.foreach(d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    val api = new HttpApi(spark, flushEveryPosts = flushPosts,
      compactEvery = compactEvery, durablePath = durablePath,
      hotRetainMs = hotRetainSec * 1000L)
    val port = api.start(0)
    val t0ms = 1704067200000L

    val stop = new AtomicBoolean(false)
    val acked = new AtomicLong(0)
    val postSeq = new AtomicLong(0)
    val writeErrors = new AtomicLong(0)
    val readErrors = new AtomicLong(0)

    // SB_PREFILL_POSTS > 0: bulk-load that many writer-shaped posts
    // through api.write BEFORE the clock starts, then drain + compact —
    // a quiesced store of known size, so a writers=0 run isolates the
    // READ floor (the pure query cost over the pinned head, no
    // contention, no drain). Combine with SB_FLUSH_POSTS=512 so the
    // prefill pins in ~100-row-thousand batches instead of per-8.
    val prefill = sys.env.getOrElse("SB_PREFILL_POSTS", "0").toInt
    if (prefill > 0) {
      val t0 = System.nanoTime()
      (0 until prefill).foreach { _ =>
        val p = postSeq.getAndIncrement()
        api.write((0 until 20).map { s =>
          Prompb.PromSeries(
            Map("__name__" -> s"soak_metric_$s", "writer" -> "w0",
              "job" -> "soak"),
            (0 until 10).map(j =>
              (t0ms + p * 10000L + j * 1000L, (p * 10 + j).toDouble)))
        }, "default")
        acked.addAndGet(200L)
      }
      api.drainFlushes()
      api.compact()
      println(f"[soak] prefill: $prefill posts (${acked.get} pts) in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s, compacted")
    }
    // warm the read path's codegen BEFORE the clock: the first
    // query_range pays janino compilation of the whole eval plan
    // (~2 s) — a steady-state latency series should not count the
    // process's first-ever compile as a read observation (the write
    // side gets the same treatment implicitly via the prefill/first
    // pins). SB_WARMUP_READS=0 disables.
    locally {
      val warmups = sys.env.getOrElse("SB_WARMUP_READS", "2").toInt
      if (warmups > 0) {
        api.write(Seq(Prompb.PromSeries(
          Map("__name__" -> "soak_metric_1", "writer" -> "warm",
            "job" -> "soak"),
          Seq((t0ms, 0.0)))), "default")
        acked.addAndGet(1L) // the warmup point is in the store too
        val client = HttpClient.newHttpClient()
        val q = java.net.URLEncoder.encode(
          "sum by (writer) (soak_metric_1)", "UTF-8")
        (0 until warmups).foreach { _ =>
          client.send(HttpRequest.newBuilder(URI.create(
            s"http://127.0.0.1:$port/api/v1/query_range?query=$q" +
              s"&start=${t0ms / 1000}&end=${t0ms / 1000 + 3600}&step=60"))
            .GET().build(), HttpResponse.BodyHandlers.ofString())
        }
      }
    }

    val writeLatMs = new ConcurrentLinkedQueue[Double]()
    val readLatMs = new ConcurrentLinkedQueue[Double]()
    // per-sample-window read latencies, drained by the timeline monitor
    val windowReadLat = new ConcurrentLinkedQueue[Double]()
    val ackedPerBucket = new java.util.concurrent.ConcurrentHashMap[
      Long, AtomicLong]()
    val maxPending = new AtomicLong(0)
    val benchStart = System.nanoTime()

    def bucketOf(): Long = (System.nanoTime() - benchStart) / 10000000000L

    // one writer = one scrape agent: 20 series × 10 samples = 200 pts
    // per POST, monotonically advancing timestamps, unique (series, ts)
    // per post so the final count check is exact
    def writerLoop(w: Int): Unit = {
      val client = HttpClient.newHttpClient()
      while (!stop.get) {
        val p = postSeq.getAndIncrement()
        val series = (0 until 20).map { s =>
          Prompb.PromSeries(
            Map("__name__" -> s"soak_metric_$s", "writer" -> s"w$w",
              "job" -> "soak"),
            (0 until 10).map(j =>
              (t0ms + p * 10000L + j * 1000L, (p * 10 + j).toDouble)))
        }
        val body = Prompb.encodeSnappy(series)
        val t1 = System.nanoTime()
        val rc = client.send(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:$port/api/v1/write"))
          .header("Content-Type", "application/x-protobuf")
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
          HttpResponse.BodyHandlers.ofByteArray()).statusCode()
        val ms = (System.nanoTime() - t1) / 1e6
        if (rc != 204) {
          // count and continue — a soak whose agent threads die on the
          // first failure measures nothing after it (the r13 hour run
          // lost its reader 22 min in and silently became write-only)
          writeErrors.incrementAndGet()
          System.err.println(s"[soak] write error rc=$rc")
        } else {
          writeLatMs.add(ms)
          acked.addAndGet(perPost.toLong)
          ackedPerBucket.computeIfAbsent(bucketOf(), _ => new AtomicLong)
            .addAndGet(perPost.toLong)
        }
      }
    }

    // the dashboard: a sum-by query over the last minutes; each read
    // forces the flush-queue drain first (read-your-writes)
    val drainLatMs = new ConcurrentLinkedQueue[Double]()
    def readerLoop(): Unit = {
      val client = HttpClient.newHttpClient()
      val q = java.net.URLEncoder.encode(
        "sum by (writer) (soak_metric_1)", "UTF-8")
      while (!stop.get) {
        // attribution: how much of a read is the read-your-writes DRAIN
        // (waiting out the queued pins) vs the query itself. A
        // staleness-budgeted dashboard (SB_READ_STALENESS_SEC > 0) skips
        // the drain by design — that is the knob being measured.
        if (readStaleSec <= 0) {
          val d0 = System.nanoTime()
          api.drainFlushes()
          drainLatMs.add((System.nanoTime() - d0) / 1e6)
        }
        // dashboard shape: a FIXED-width trailing window (last hour of
        // event time), not the whole history — read cost stays constant
        // across the soak, so latency drift isolates the flusher
        val endSec = t0ms / 1000 + postSeq.get * 10 + 60
        val startSec = math.max(t0ms / 1000, endSec - 3600)
        val t1 = System.nanoTime()
        val rb = HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/api/v1/query_range?query=$q" +
            s"&start=$startSec&end=$endSec&step=60"))
        if (readStaleSec > 0)
          rb.header("X-SquirrelDB-Max-Staleness", readStaleSec.toString)
        val resp = client.send(
          rb.GET().build(), HttpResponse.BodyHandlers.ofString())
        val ms = (System.nanoTime() - t1) / 1e6
        if (resp.statusCode() != 200) {
          readErrors.incrementAndGet()
          System.err.println(
            s"[soak] read error: ${resp.body().take(300)}")
        } else {
          readLatMs.add(ms)
          windowReadLat.add(ms)
        }
        Thread.sleep(readEveryMs)
      }
    }

    // hour-scale timeline (VERDICT r13 #3): every SB_SAMPLE_SEC the
    // monitor snapshots the steady-state gauges — a leak (staging dir,
    // hot depth, pending queue, heap) shows up as monotonic growth in
    // the series, which a single end-of-run number cannot show
    val sampleSec = sys.env.getOrElse("SB_SAMPLE_SEC", "30").toLong
    val timeline = new ConcurrentLinkedQueue[String]()
    def dirBytes(p: String): Long = {
      val root = java.nio.file.Paths.get(p)
      if (!java.nio.file.Files.isDirectory(root)) return 0L
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(f => scala.util.Try(
          java.nio.file.Files.size(f)).getOrElse(0L)).sum()
      finally s.close()
    }
    def coldGens(): Int = durablePath.fold(0) { d =>
      val f = new java.io.File(d)
      Option(f.listFiles()).fold(0)(_.count(x =>
        x.isDirectory && x.getName.startsWith("g")))
    }
    // Cold-tier disk accounting under TWCS hardlink chains: clean days
    // carry between generations as hardlinks, so a naive per-entry walk
    // counts each shared inode once PER GENERATION that links it. The
    // honest footprint dedups by inode (fileKey); the (walk − unique)
    // gap is the live hardlink-sharing factor — growth in `unique` is
    // real disk, growth only in `walk` is just chain depth.
    def coldBytes(p: String): (Long, Long) = {
      val root = java.nio.file.Paths.get(p)
      if (!java.nio.file.Files.isDirectory(root)) return (0L, 0L)
      var walk = 0L
      val seen = new java.util.HashSet[Object]()
      var unique = 0L
      val s = java.nio.file.Files.walk(root)
      try {
        s.filter(java.nio.file.Files.isRegularFile(_)).forEach { f =>
          scala.util.Try {
            val sz = java.nio.file.Files.size(f)
            walk += sz
            val key = java.nio.file.Files
              .readAttributes(f, classOf[java.nio.file.attribute.BasicFileAttributes])
              .fileKey()
            if (key == null || seen.add(key)) unique += sz
          }
        }
      } finally s.close()
      (walk, unique)
    }
    // SB_COLD_COMPACT_EVERY_SEC > 0: rewrite the cold tier into its next
    // snapshot generation on a timer (the out-of-band maintenance job a
    // deployment would cron) — the hour soak watches generations retire
    // rather than accumulate
    val coldCompactEverySec =
      sys.env.getOrElse("SB_COLD_COMPACT_EVERY_SEC", "0").toLong
    val monitor = new Thread(() => {
      var lastSample = System.nanoTime()
      var lastAcked = 0L
      var lastColdCompact = System.nanoTime()
      while (!stop.get) {
        maxPending.updateAndGet(m => math.max(m, api.pendingBatches))
        if (coldCompactEverySec > 0 && durablePath.isDefined &&
          System.nanoTime() - lastColdCompact >=
            coldCompactEverySec * 1000000000L) {
          lastColdCompact = System.nanoTime()
          scala.util.Try(api.store.compactCold())
        }
        if (System.nanoTime() - lastSample >= sampleSec * 1000000000L) {
          lastSample = System.nanoTime()
          val wallS = (System.nanoTime() - benchStart) / 1e9
          val a = acked.get
          // drain this window's read latencies (poll() on the empty
          // queue unboxes to 0.0, and a real latency is never 0)
          val rl = scala.collection.mutable.ArrayBuffer.empty[Double]
          var x = windowReadLat.poll()
          while (x != 0.0) { rl += x; x = windowReadLat.poll() }
          val sortedRl = rl.toArray.sorted
          def wp(p: Double): Double =
            if (sortedRl.isEmpty) -1
            else sortedRl(math.min(sortedRl.length - 1,
              (p * sortedRl.length).toInt))
          val rt = java.lang.Runtime.getRuntime
          // incremental NDJSON dump: three r13 soak attempts died
          // mid-run and left NO artifact because the JSON only wrote at
          // the end — the timeline-so-far IS the evidence a death run
          // exists to produce
          def appendLine(l: String): Unit =
            java.nio.file.Files.write(
              java.nio.file.Paths.get(sys.env.getOrElse("SB_OUT",
                "SOAK_BENCH.json") + ".timeline"),
              (l + "\n").getBytes("UTF-8"),
              java.nio.file.StandardOpenOption.CREATE,
              java.nio.file.StandardOpenOption.APPEND)
          val line =
            f"""{"wall_s":$wallS%.0f,"pts_per_s":${(a - lastAcked) / sampleSec.toDouble}%.0f,""" +
              f""""read_p50_ms":${wp(0.5)}%.1f,"read_p99_ms":${wp(0.99)}%.1f,""" +
              s""""hot_depth":${api.hotDepth},"mids":${api.midCount},""" +
              s""""pending":${api.pendingBatches},""" +
              s""""stage_mb":${stageDir.fold(0L)(dirBytes) / 1048576},""" +
              s""""cold_gens":${coldGens()},""" + {
                val (w, u) = durablePath.fold((0L, 0L))(coldBytes)
                s""""cold_walk_mb":${w / 1048576},""" +
                  s""""cold_unique_mb":${u / 1048576},"""
              } +
              s""""heap_used_mb":${(rt.totalMemory - rt.freeMemory) / 1048576}}"""
          timeline.add(line)
          scala.util.Try(appendLine(line))
          lastAcked = a
        }
        Thread.sleep(250)
      }
    }, "pending-monitor")

    val threads = (0 until writers).map(w =>
      new Thread(() => writerLoop(w), s"writer-$w")) :+
      new Thread(() => readerLoop(), "reader") :+ monitor
    threads.foreach(_.start())
    Thread.sleep(seconds * 1000L)
    stop.set(true)
    threads.foreach(_.join(30000))
    val soakSec = (System.nanoTime() - benchStart) / 1e9

    // tier attribution BEFORE the final drain (which would route every
    // later read through the exact path): how many budgeted reads were
    // served without a drain at all, and of those how many from the
    // compacted head alone (constant scan depth)
    val (staleReads, staleHeadReads) = api.store.staleReadCounts

    // final correctness: drain and count — every acknowledged point
    // must be stored exactly once (unique (series, ts) by construction).
    // With a cold tier enabled the hot vector alone is not the store
    // (folds spill aged points), so count the full merged LWW view.
    val readBackN =
      if (durablePath.isDefined)
        api.source().map(_.points.count()).getOrElse(0L)
      else api.store.rawPoints.map(_.count()).getOrElse(0L)
    val countOk = readBackN == acked.get

    def pct(q: ConcurrentLinkedQueue[Double], p: Double): Double = {
      val a = q.toArray(Array.empty[java.lang.Double]).map(_.toDouble).sorted
      if (a.isEmpty) -1 else a(math.min(a.length - 1, (p * a.length).toInt))
    }
    import scala.jdk.CollectionConverters._
    // drop the partial last bucket: it biases stability downward
    val full = ackedPerBucket.asScala.toSeq.sortBy(_._1).dropRight(1)
      .map(_._2.get / 10.0)
    val (bMin, bMax, bMean) =
      if (full.isEmpty) (0.0, 0.0, 0.0)
      else (full.min, full.max, full.sum / full.size)

    jobs.report().foreach(l => println(s"[soak] $l"))

    api.stop()
    val json =
      s"""{"metric":"soak_pts_per_s","value":${acked.get / soakSec},""" +
        s""""unit":"pts/s","seconds":$soakSec,"writers":$writers,""" +
        s""""points":${acked.get},"posts":${postSeq.get},""" +
        s""""flush_every_posts":$flushPosts,""" +
        s""""write_p50_ms":${pct(writeLatMs, 0.5)},""" +
        s""""write_p99_ms":${pct(writeLatMs, 0.99)},""" +
        s""""reads":${readLatMs.size},""" +
        s""""read_staleness_sec":$readStaleSec,""" +
        s""""read_p50_ms":${pct(readLatMs, 0.5)},""" +
        s""""read_p99_ms":${pct(readLatMs, 0.99)},""" +
        s""""stale_reads":$staleReads,""" +
        s""""stale_head_reads":$staleHeadReads,""" +
        s""""drain_p50_ms":${pct(drainLatMs, 0.5)},""" +
        s""""drain_p99_ms":${pct(drainLatMs, 0.99)},""" +
        s""""bucket_pts_per_s_min":$bMin,"bucket_pts_per_s_max":$bMax,""" +
        s""""bucket_pts_per_s_mean":$bMean,"n_buckets":${full.size},""" +
        s""""max_pending_batches":${maxPending.get},""" +
        s""""readback_points":$readBackN,"count_ok":$countOk,""" +
        s""""write_errors":${writeErrors.get},""" +
        s""""read_errors":${readErrors.get},""" + {
          val (w, u) = durablePath.fold((0L, 0L))(coldBytes)
          s""""cold_walk_mb":${w / 1048576},""" +
            s""""cold_unique_mb":${u / 1048576},"""
        } +
        s""""sample_sec":$sampleSec,""" +
        s""""timeline":[${timeline.asScala.mkString(",")}]}"""
    println(json)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.env.getOrElse("SB_OUT", "SOAK_BENCH.json")),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
    if (!countOk) sys.exit(1)
  }
}
