package graft.perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicLongArray}

import org.apache.spark.sql.functions.{col, count, element_at, sum}

import graft.api.{HttpApi, PromJson, QueryService, RequestOptions}
import graft.promql.{EvalParams, Parser}
import graft.streaming.Prompb

/** `scrape`: open-loop remote-write at a fixed offered rate by 3 writer
  * connections, beside one closed-loop dashboard reader with strict
  * read-your-writes. Every POST is one agent scrape (20 series x 10
  * samples); agents are spread over tenants. The data stays in the hot
  * store.
  */
object Scrape {
  val Writers = 3
  val Tenants = 4
  val Agents = 24
  val SeriesPerPost = 20
  val SamplesPerSeries = 10
  val PointsPerPost: Int = SeriesPerPost * SamplesPerSeries
  /** Offered POSTs per second: about a third of the saturation measured
    * with 3 closed-loop writers on 4 cores. Also recorded in
    * BENCHMARK.json's `why` of this workload.
    */
  val OfferedPostsPerSec = 100.0
  /** Seconds of open-loop writes before the measured window, timed by
    * nothing: write latency falls for the first 3-4 s of a run while the
    * write path warms up. Their points are still acknowledged and checked.
    */
  val WarmupSeconds = 3
  val T0 = 1704067200000L
  val ReadQuery = "sum by (instance) (rate(m[1m]))"
  val ReadWindowMs = 3600000L
  val ReadStepMs = 60000L

  def tenantOf(agent: Int): String = s"tenant-${agent % Tenants}"
  def agentsOf(tenant: Int): Int = (0 until Agents).count(_ % Tenants == tenant)

  /** Scrape `k` of `agent`: series s, sample j at T0 + 10 s k + 1 s j with
    * an integer value, so the read-back sum is exact.
    */
  def scrape(seed: Long, agent: Int, k: Int): Seq[Prompb.PromSeries] =
    (0 until SeriesPerPost).map { s =>
      val base = math.floorMod(new java.util.Random(seed * 7919 + agent * 131 + s).nextInt(), 1000)
      Prompb.PromSeries(
        Map("__name__" -> "m", "instance" -> f"agent-$agent%02d",
          "series" -> s"s$s", "job" -> "scrape"),
        (0 until SamplesPerSeries).map(j =>
          (T0 + k * 10000L + j * 1000L, (base + k * 10 + j).toDouble)))
    }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val seed = ctx.seed
    val tracer = ctx.tracer
    val ackPts = new AtomicLongArray(Tenants)
    val ackSum = new AtomicLongArray(Tenants)
    val maxAckedTs = new AtomicLong(T0)
    def acked(agent: Int, posts: Seq[Prompb.PromSeries]): Unit = {
      val t = agent % Tenants
      ackPts.addAndGet(t, posts.map(_.samples.size).sum)
      ackSum.addAndGet(t, posts.flatMap(_.samples).map(_._2.toLong).sum)
      maxAckedTs.accumulateAndGet(posts.flatMap(_.samples).map(_._1).max, math.max)
    }

    // ---- set-up, three times: build, serve, one scrape per agent, one read
    def mkApi() = new HttpApi(ctx.spark, flushEveryPosts = 8, compactEvery = 16,
      hotRetainMs = Long.MaxValue / 4)
    val setups = (1 to 3).map { i =>
      Facade.startFacade(mkApi(), (_, c) => {
        for (a <- 0 until Agents) {
          val ss = scrape(seed, a, 0)
          require(c.write(ss, tenantOf(a)) == 204, "set-up write refused")
          if (i == 3) acked(a, ss)
        }
        val end = T0 + ReadStepMs
        val r = c.get(Facade.rangeQuery(ReadQuery, end - ReadWindowMs, end, ReadStepMs),
          tenantOf(0))
        require(r.status == 200, s"set-up read failed: ${r.text.take(200)}")
      })
    }
    setups.init.foreach(_._1.stop())
    val (api, port, _) = setups.last
    out.e2e("setup_s") = Stats.median(setups.map(_._3))
    out.details("setup_s_each") = setups.map(_._3)
    out.phase("setup")

    // ---- measured window
    val gauges = new Facade.Gauges(api)
    val nWarm = (WarmupSeconds * OfferedPostsPerSec).toInt
    val nPosts = nWarm + (ctx.seconds * OfferedPostsPerSec).toInt
    val periodNs = 1e9 / OfferedPostsPerSec
    val tStart = System.nanoTime() + 50000000L
    val measureStart = tStart + (nWarm * periodNs).toLong
    val writeLat, lateness, readLat = new Samples
    val measuredPts = new AtomicLong
    val lastAck = new AtomicLong(tStart)
    val reqIds = new AtomicLong
    val writersDone = new AtomicBoolean(false)

    def tracedWrite(body: Array[Byte], tenant: String): Unit = {
      val req = reqIds.incrementAndGet()
      ctx.spark.sparkContext.setLocalProperty("spark.scheduler.pool", FacadeQuery.ReadPool)
      tracer.span("request.write", req) {
        val series = tracer.span("streaming.decode", req)(Prompb.decodeSnappy(body))
        tracer.span("api.write", req)(api.write(series, tenant))
      }
    }

    val writers = (0 until Writers).map { w =>
      new Thread(() => {
        val client = new Facade.Client(port)
        var i = w
        while (i < nPosts) {
          val agent = i % Agents
          val ss = scrape(seed, agent, 1 + i / Agents)
          val body = Prompb.encodeSnappy(ss)
          val due = tStart + (i * periodNs).toLong
          var now = System.nanoTime()
          while (now < due) {
            Thread.sleep(math.max(0L, (due - now) / 1000000L), ((due - now) % 1000000L).toInt)
            now = System.nanoTime()
          }
          if (i >= nWarm) lateness.add(Stats.latenessMs(due, now))
          val ok =
            try {
              if (ctx.traced) { tracedWrite(body, tenantOf(agent)); true }
              else client.post("/api/v1/write", body, tenantOf(agent)).status == 204
            } catch { case e: Exception => out.problem(s"write: $e"); false }
          if (i >= nWarm) writeLat.add(Stats.dueLatencyMs(due, System.nanoTime()))
          out.op(ok, s"write $i refused")
          if (ok) {
            acked(agent, ss)
            if (i >= nWarm) measuredPts.addAndGet(PointsPerPost)
            lastAck.accumulateAndGet(System.nanoTime(), math.max)
          }
          i += Writers
        }
      }, s"perfbench-writer-$w")
    }

    val readerTenants = new java.util.Random(seed).nextInt(Tenants)
    val reader = new Thread(() => {
      val client = new Facade.Client(port)
      // the first read starts when the measured window opens, so every run
      // reads at the same points of the growing hot tier: a read of the
      // trailing hour slows as the tier grows, and a run holds about 3 reads
      val wait = measureStart - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      var r = 0
      while (!writersDone.get) {
        val t = (readerTenants + r) % Tenants
        val end = (maxAckedTs.get / ReadStepMs + 1) * ReadStepMs
        val t0 = System.nanoTime()
        val body =
          try {
            if (ctx.traced) Some(FacadeQuery.tracedRange(ctx, api, ReadQuery,
              s"tenant-$t", EvalParams(end - ReadWindowMs, end, ReadStepMs), reqIds.incrementAndGet()))
            else {
              val resp = client.get(Facade.rangeQuery(ReadQuery, end - ReadWindowMs, end, ReadStepMs),
                s"tenant-$t")
              if (resp.status == 200) Some(resp.text) else None
            }
          } catch { case e: Exception => out.problem(s"read: $e"); None }
        readLat.add((System.nanoTime() - t0) / 1e6)
        body.filter(PromResult.ok) match {
          case None => out.op(ok = false, s"read $r failed")
          case Some(b) =>
            val n = PromResult.series(b).size
            out.check(n == agentsOf(t), s"read $r of tenant-$t: $n series, expected ${agentsOf(t)}")
        }
        r += 1
      }
    }, "perfbench-reader")

    writers.foreach(_.start())
    reader.start()
    writers.foreach(_.join())
    writersDone.set(true)
    reader.join()
    val d0 = System.nanoTime()
    tracer.span("api.drain", reqIds.incrementAndGet())(api.drainFlushes())
    val drainMs = (System.nanoTime() - d0) / 1e6
    out.phase("measure")
    gauges.close()

    // ---- correctness: every acknowledged point read back exactly once
    val held = api.source().map(_.points
        .groupBy(element_at(col("labels"), FacadeQuery.TenantLabel))
        .agg(count("*"), sum("value")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap)
      .getOrElse(Map.empty)
    for (t <- 0 until Tenants) {
      val (n, s) = held.getOrElse(s"tenant-$t", (0L, 0.0))
      out.check(n == ackPts.get(t) && s == ackSum.get(t).toDouble,
        s"tenant-$t holds $n points summing to $s; acknowledged ${ackPts.get(t)} summing to ${ackSum.get(t)}")
    }
    out.phase("check")
    val ackedTotal = (0 until Tenants).map(ackPts.get).sum - Agents * PointsPerPost
    val ingestSec = (lastAck.get - measureStart) / 1e9
    val w = writeLat.all
    val rd = readLat.all
    out.e2e("op_p50_ms") = Stats.median(w)
    out.e2e("op_tail_ms") = Stats.tail(w, 0.9).map(_.value).getOrElse(w.max)
    out.e2e("aux_ms") = if (rd.isEmpty) Double.NaN else Stats.median(rd)
    out.e2e("throughput_per_s") = measuredPts.get / ingestSec
    out.timing("write_ms", w, 0.99)
    out.timing("read_ms", rd, 0.9)
    out.timing("generator_lateness_ms", lateness.all, 0.99)
    out.details("offered_posts_per_s") = OfferedPostsPerSec
    out.details("offered_pts_per_s") = OfferedPostsPerSec * PointsPerPost
    out.details("ingest_pts_per_s") = measuredPts.get / ingestSec
    out.details("acked_points") = ackedTotal
    out.details("final_drain_ms") = drainMs
    out.details("writer_connections") = Writers
    out.gauges("api.pending_batches_max") = gauges.pendingMax
    out.gauges("api.hot_depth_max") = gauges.hotDepthMax
    out.gauges("api.mids_max") = gauges.midsMax

    if (ctx.traced) {
      val k = new AtomicLong(100000)
      val client = new Facade.Client(port)
      FacadeQuery.gap(out, "gap.write_ms", 20)(() => {
        val a = (k.incrementAndGet() % Agents).toInt
        client.write(scrape(seed, a, k.get.toInt), tenantOf(a))
      })(() => {
        val a = (k.incrementAndGet() % Agents).toInt
        tracedWrite(Prompb.encodeSnappy(scrape(seed, a, k.get.toInt)), tenantOf(a))
      }, tracer, "request.write")
      val end = (maxAckedTs.get / ReadStepMs + 1) * ReadStepMs
      FacadeQuery.gap(out, "gap.query_ms", 6)(() =>
        client.get(Facade.rangeQuery(ReadQuery, end - ReadWindowMs, end, ReadStepMs), "tenant-0")
      )(() => FacadeQuery.tracedRange(ctx, api, ReadQuery, "tenant-0",
        EvalParams(end - ReadWindowMs, end, ReadStepMs), reqIds.incrementAndGet()),
        tracer, "request.query_range")
    }
    api.stop()
  }
}

/** The query path the HTTP handler runs, called function by function with a
  * span around each layer: drain, parse and bounds, source, compile, respond.
  */
object FacadeQuery {
  /** The facade's default tenant label (`HttpApi(tenantLabel = ...)`). */
  val TenantLabel = "__account_id"
  /** The scheduler pool the facade's request handler runs every request in. */
  val ReadPool = "graft-reads"

  def tracedRange(ctx: Ctx, api: HttpApi, q: String, tenant: String, p: EvalParams,
      req: Long, instant: Boolean = false): String = {
    val tr = ctx.tracer
    ctx.spark.sparkContext.setLocalProperty("spark.scheduler.pool", ReadPool)
    tr.span(if (instant) "request.query" else "request.query_range", req) {
      tr.span("api.drain", req)(api.drainFlushes())
      val (mint, maxt) = tr.span("promql.parse", req) {
        QueryService.timeBounds(Parser.parse(q), p)
      }
      val src = tr.span("api.source", req) {
        api.querySource(tenant, mint, maxt, p.stepMs >= api.PreAggResolutionMs)
      }
      src match {
        case None => PromJson.success("""{"resultType":"matrix","result":[]}""")
        case Some(s) =>
          val opts = RequestOptions(tenantLabel = Some((TenantLabel, tenant)),
            labelAliases = api.labelAliases)
          val df = tr.span("promql.compile", req)(QueryService.queryRange(q, s, p, opts))
          val labels = df.columns.filterNot(Set("eval_ms", "value")).toSeq
          tr.span("api.respond", req) {
            if (instant) PromJson.vector(df, labels) else PromJson.matrix(df, labels)
          }
      }
    }
  }

  /** The HTTP layer plus tracing: alternate `n` untraced HTTP calls with `n`
    * traced direct calls of the same kind, and report the median HTTP time
    * minus the median time the traced call spent inside its layer spans.
    */
  def gap(out: Outcome, name: String, n: Int)(http: () => Any)(traced: () => Any,
      tracer: Tracer, root: String): Unit = {
    val before = tracer.all.map(_.id).toSet
    val httpMs = (1 to n).map { _ =>
      val t0 = System.nanoTime(); http(); val ms = (System.nanoTime() - t0) / 1e6
      traced(); ms
    }
    val spans = tracer.all.filterNot(s => before(s.id))
    val kids = spans.groupBy(_.parent)
    val layerMs = spans.filter(_.name == root).map { r =>
      Stats.coveredLength(kids.getOrElse(r.id, Nil).map(c => (c.startNs, c.endNs)),
        r.startNs, r.endNs) / 1e6
    }
    out.gauges(name) = Stats.median(httpMs) - Stats.median(layerMs)
    out.details(name) = Json.obj("http_ms_p50" -> Stats.median(httpMs),
      "traced_layers_ms_p50" -> Stats.median(layerMs), "samples" -> n)
  }
}
