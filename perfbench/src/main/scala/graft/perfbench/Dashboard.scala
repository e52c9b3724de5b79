package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import graft.api.HttpApi
import graft.promql.EvalParams
import graft.streaming.Prompb
import graft.tsdb.MatchEq

/** `dashboard`: backfill several hours of 10 s history into the durable
  * cold tier, make it queryable (drain, then a full fold that spills and
  * pre-aggregates),
  * then two closed-loop clients run a fixed seed-drawn read mix whose
  * windows advance one step per request, like refreshing dashboards.
  */
object Dashboard {
  val Tenants = 2
  val Instances = 8
  val HistInstances = 2
  val Les: Seq[String] = Seq("0.1", "0.5", "1", "5", "+Inf")
  val Hours = 4
  val IntervalMs = 10000L
  val T0 = 1704067200000L
  val HistEnd: Long = T0 + Hours * 3600000L
  val ChunkMs = 900000L
  val BackfillWriters = 2
  val Clients = 2
  val SeriesPerTenant: Int = 2 * Instances + HistInstances * Les.size

  def inst(i: Int): String = f"node-$i%02d"
  def tenant(t: Int): String = s"tenant-$t"

  /** Seed-drawn generator parameters of one tenant. */
  final class Tenant(seed: Long, t: Int) {
    private val rnd = new java.util.Random(seed * 1000003L + t)
    /** Counter slope per instance, in increments per second. */
    val slope: IndexedSeq[Int] = (0 until Instances).map(_ => 1 + rnd.nextInt(9))
    /** Per-second increments of each (instance, bucket), cumulative in le. */
    val bucketSlope: IndexedSeq[IndexedSeq[Long]] = (0 until HistInstances).map { _ =>
      Les.indices.map(_ => 1L + rnd.nextInt(5)).scanLeft(0L)(_ + _).tail
    }
    val gaugeStart: IndexedSeq[Int] = (0 until Instances).map(_ => rnd.nextInt(1000))
    private val walkSeed = rnd.nextLong()

    /** Gauge value at sample n: a seed-drawn integer random walk. */
    def gauge(i: Int, from: Int, n: Int): IndexedSeq[Double] = {
      val r = new java.util.Random(walkSeed + i * 7919L)
      var v = gaugeStart(i).toLong
      (0 until from + n).map { _ => v += r.nextInt(21) - 10; v.toDouble }.drop(from)
    }

    /** All series of this tenant for samples [from, from + n). */
    def chunk(from: Int, n: Int): Seq[Prompb.PromSeries] = {
      val ts = (from until from + n).map(k => T0 + k * IntervalMs)
      val secs = ts.map(x => (x - T0) / 1000)
      val gauges = (0 until Instances).map(i => Prompb.PromSeries(
        Map("__name__" -> "g", "instance" -> inst(i), "job" -> "dash"),
        ts.zip(gauge(i, from, n))))
      val counters = (0 until Instances).map(i => Prompb.PromSeries(
        Map("__name__" -> "c", "instance" -> inst(i), "job" -> "dash"),
        ts.zip(secs.map(s => (slope(i) * s).toDouble))))
      val hists = for (i <- 0 until HistInstances; (le, b) <- Les.zipWithIndex) yield
        Prompb.PromSeries(
          Map("__name__" -> "h_bucket", "instance" -> inst(i), "le" -> le, "job" -> "dash"),
          ts.zip(secs.map(s => (bucketSlope(i)(b) * s).toDouble)))
      gauges ++ counters ++ hists
    }

    /** The 0.9 quantile the generator's constant bucket rates imply
      * (Prometheus linear interpolation inside the bucket).
      */
    def quantile90: Double = {
      val cum = Les.indices.map(b => bucketSlope.map(_(b)).sum.toDouble)
      val rank = 0.9 * cum.last
      val b = cum.indexWhere(_ >= rank)
      val upper = Les.map(l => if (l == "+Inf") Double.PositiveInfinity else l.toDouble)
      if (b == Les.size - 1) upper(b - 1)
      else {
        val lo = if (b == 0) 0.0 else upper(b - 1)
        val below = if (b == 0) 0.0 else cum(b - 1)
        lo + (upper(b) - lo) * (rank - below) / (cum(b) - below)
      }
    }
  }

  /** One kind of dashboard request. `stepMs` is also how far the window
    * moves per refresh; `refreshes` is how many distinct windows it cycles.
    */
  final case class Kind(name: String, stepMs: Long, refreshes: Int)
  val Rate = Kind("rate_1h", 15000L, 40)
  val HistQ = Kind("hist_quantile_3h", 60000L, 40)
  val AvgAll = Kind("avg_over_time_history", 600000L, 3)
  val TopK = Kind("topk_instant", 60000L, 40)
  val Series = Kind("series", 60000L, 40)
  val LabelValues = Kind("label_values", 60000L, 40)
  val RemoteRead = Kind("remote_read_hour", 3600000L, Hours)
  /** The fixed request mix, one request of each kind, in the order a client
    * cycles through it; the second client starts half way round. The seed
    * draws each request's tenant and where each client's windows start.
    */
  val Cycle: Seq[Kind] = Seq(Rate, HistQ, AvgAll, TopK, Series, LabelValues, RemoteRead)

  def run(ctx: Ctx, out: Outcome): Unit = {
    val seed = ctx.seed
    val tracer = ctx.tracer
    val gens = (0 until Tenants).map(new Tenant(seed, _))
    val reqIds = new AtomicLong
    // the last hour of history stays hot, older data spills to the cold tier
    val hotRetainMs = System.currentTimeMillis() - HistEnd + 3600000L

    // ---- set-up, three times: build on a fresh durable tier, serve, warm
    val setups = (1 to 3).map { i =>
      val dir = Facade.deleteAndCreate(ctx.work.resolve(s"dash$i"))
      Facade.startFacade(
        new HttpApi(ctx.spark, flushEveryPosts = 8, compactEvery = 16,
          durablePath = Some(dir.resolve("cold").toString), hotRetainMs = hotRetainMs),
        (_, c) => {
          require(c.write(gens(0).chunk(0, 2), "warm") == 204, "set-up write refused")
          val r = c.get(Facade.rangeQuery("sum(g)", T0, T0 + 60000L, 60000L), "warm")
          require(r.status == 200, s"set-up read failed: ${r.text.take(200)}")
        })
    }
    setups.init.foreach(_._1.stop())
    val (api, port, _) = setups.last
    val coldPrefix = ctx.work.resolve("dash3").resolve("cold")
    out.e2e("setup_s") = Stats.median(setups.map(_._3))
    out.details("setup_s_each") = setups.map(_._3)
    out.phase("setup")
    val gauges = new Facade.Gauges(api)

    // ---- backfill until queryable
    val perChunk = (ChunkMs / IntervalMs).toInt
    val chunks = for (c <- 0 until (Hours * 3600000L / ChunkMs).toInt; t <- 0 until Tenants)
      yield (t, c * perChunk)
    val postLat = new Samples
    val b0 = System.nanoTime()
    val backfill = (0 until BackfillWriters).map { w =>
      new Thread(() => {
        val client = new Facade.Client(port)
        chunks.zipWithIndex.filter(_._2 % BackfillWriters == w).foreach { case ((t, from), _) =>
          val body = Prompb.encodeSnappy(gens(t).chunk(from, perChunk))
          val t0 = System.nanoTime()
          val ok =
            try {
              if (ctx.traced) {
                val req = reqIds.incrementAndGet()
                ctx.spark.sparkContext.setLocalProperty("spark.scheduler.pool", FacadeQuery.ReadPool)
                tracer.span("request.write", req) {
                  val ss = tracer.span("streaming.decode", req)(Prompb.decodeSnappy(body))
                  tracer.span("api.write", req)(api.write(ss, tenant(t)))
                }
                true
              } else client.post("/api/v1/write", body, tenant(t)).status == 204
            } catch { case e: Exception => out.problem(s"backfill: $e"); false }
          postLat.add((System.nanoTime() - t0) / 1e6)
          out.op(ok, s"backfill POST tenant-$t@$from refused")
        }
      }, s"perfbench-backfill-$w")
    }
    backfill.foreach(_.start())
    backfill.foreach(_.join())
    val req = reqIds.incrementAndGet()
    tracer.span("api.drain", req)(api.drainFlushes())
    // the full fold spills everything older than the hot window and extends
    // agg_5m up to that spill frontier itself; pre-aggregating further would
    // move the watermark over data still in the hot tier
    tracer.span("api.compact", req)(api.compact())
    Facade.awaitIdle(ctx.spark)
    val backfillSec = (System.nanoTime() - b0) / 1e9
    out.phase("backfill")
    val points = chunks.size.toLong * SeriesPerTenant * perChunk
    val (coldFiles, coldBytes) = Facade.coldSize(coldPrefix)
    out.check(coldFiles > 0, "backfill left no cold-tier files")
    out.gauges("store.cold_files") = coldFiles.toDouble
    out.gauges("store.cold_bytes") = coldBytes.toDouble

    // ---- closed-loop read mix
    val lat = new Samples
    val byKind = Cycle.map(k => k -> new Samples).toMap
    /** Sends one client's next refresh of kind `k` and checks the answer;
      * returns its latency in ms.
      */
    def refresh(client: Facade.Client, rnd: java.util.Random,
        next: scala.collection.mutable.Map[Kind, Int], k: Kind): Double = {
      val t = rnd.nextInt(Tenants)
      val n = next(k); next(k) = n + 1
      val end = HistEnd - (k.refreshes - 1 - n % k.refreshes) * k.stepMs
      val t0 = System.nanoTime()
      val verdict =
        try request(ctx, api, client, gens(t), tenant(t), k, end, n, reqIds.incrementAndGet())
        catch { case e: Exception => Left(s"${k.name}: $e") }
      val ms = (System.nanoTime() - t0) / 1e6
      verdict match {
        case Left(err) => out.op(ok = false, err)
        case Right(problems) =>
          out.check(problems.isEmpty, s"${k.name} tenant-$t end=$end: ${problems.mkString("; ")}")
      }
      ms
    }
    // a fixed number of whole cycles, one per 5 s of the measuring time and
    // at least one, so every run times the same requests: at 10 s the two
    // clients send 28, about 20 s of requests on 4 cores, enough for a tail
    val cycles = math.max(1, math.round(ctx.seconds / 5.0).toInt)
    val done = new AtomicLong
    val clients = (0 until Clients).map { c =>
      new Thread(() => {
        val client = new Facade.Client(port)
        val rnd = new java.util.Random(seed * 31 + c)
        val next = scala.collection.mutable.Map(Cycle.map(k => k -> rnd.nextInt(k.refreshes)): _*)
        val first = c * Cycle.size / Clients
        (1 to cycles).foreach { _ =>
          Cycle.indices.foreach { j =>
            val k = Cycle((first + j) % Cycle.size)
            val ms = refresh(client, rnd, next, k)
            lat.add(ms); byKind(k).add(ms)
            done.incrementAndGet()
          }
        }
      }, s"perfbench-client-$c")
    }
    val q0 = System.nanoTime()
    clients.foreach(_.start())
    clients.foreach(_.join())
    val readSec = (System.nanoTime() - q0) / 1e9
    out.phase("measure")
    gauges.close()

    val q = lat.all
    val bl = postLat.all
    out.e2e("op_p50_ms") = Stats.median(q)
    out.e2e("op_tail_ms") = Stats.tail(q, 0.9).map(_.value).getOrElse(q.max)
    out.e2e("aux_ms") = backfillSec * 1000 / chunks.size
    out.e2e("throughput_per_s") = done.get / readSec
    out.timing("query_ms", q, 0.9)
    out.timing("backfill_post_ms", bl, 0.9)
    Cycle.foreach(k => out.timing(s"query_ms.${k.name}", byKind(k).all, 0.9))
    out.details("queries_per_s") = done.get / readSec
    out.details("backfill_points") = points
    out.details("backfill_pts_per_s") = points / backfillSec
    out.details("backfill_ms_per_post_until_queryable") = backfillSec * 1000 / chunks.size
    out.details("bytes_per_point") = coldBytes.toDouble / points
    out.details("cold_files") = coldFiles
    out.details("cold_bytes") = coldBytes
    out.gauges("api.pending_batches_max") = gauges.pendingMax
    out.gauges("api.hot_depth_max") = gauges.hotDepthMax
    out.gauges("api.mids_max") = gauges.midsMax

    if (ctx.traced) {
      val client = new Facade.Client(port)
      val p = EvalParams(HistEnd - 3600000L, HistEnd, Rate.stepMs)
      FacadeQuery.gap(out, "gap.query_ms", 6)(() =>
        client.get(Facade.rangeQuery(rateQ, p.startMs, p.endMs, p.stepMs), tenant(0))
      )(() => FacadeQuery.tracedRange(ctx, api, rateQ, tenant(0), p, reqIds.incrementAndGet()),
        tracer, "request.query_range")
    }
    api.stop()
  }

  val rateQ = "sum by (instance)(rate(c[5m]))"
  val histQ = "histogram_quantile(0.9, sum by (le)(rate(h_bucket[5m])))"
  val avgQ = "avg_over_time(g[10m])"
  val topkQ = "topk(5, max_over_time(g[1h]))"

  private def steps(s: Long, e: Long, step: Long): Int = ((e - s) / step + 1).toInt

  /** Sends one request and checks its answer: Left on a failed request,
    * Right(problems) with the wrong parts of an answered one.
    */
  private def request(ctx: Ctx, api: HttpApi, client: Facade.Client, gen: Tenant,
      tn: String, k: Kind, end: Long, n: Int, req: Long): Either[String, Seq[String]] = {
    val tracer = ctx.tracer
    def query(q: String, start: Long, instant: Boolean): Either[String, String] = {
      val step = if (instant) 1000L else k.stepMs
      if (ctx.traced)
        Right(FacadeQuery.tracedRange(ctx, api, q, tn, EvalParams(start, end, step), req, instant))
      else {
        val r = client.get(if (instant) Facade.instantQuery(q, end)
          else Facade.rangeQuery(q, start, end, step), tn)
        if (r.status == 200) Right(r.text) else Left(s"$q: HTTP ${r.status}")
      }
    }
    def http(path: String): Either[String, String] = {
      val r = client.get(path, tn)
      if (r.status == 200) Right(r.text) else Left(s"$path: HTTP ${r.status}")
    }
    def matrix(body: String, series: Int, points: Int): Seq[String] = {
      val ss = PromResult.series(body)
      (if (ss.size != series) Seq(s"${ss.size} series, expected $series") else Nil) ++
        ss.filter(_.points.size != points).take(1)
          .map(s => s"${s.metric}: ${s.points.size} steps, expected $points")
    }
    k match {
      case Rate =>
        val start = end - 3600000L
        query(rateQ, start, instant = false).map { b =>
          matrix(b, Instances, steps(start, end, k.stepMs)) ++
            PromResult.series(b).flatMap { s =>
              val i = (0 until Instances).find(i => s.metric.get("instance").contains(inst(i)))
              val want = i.map(gen.slope(_).toDouble).getOrElse(Double.NaN)
              s.points.find(p => math.abs(p._2.toDouble - want) > 1e-9 * want)
                .map(p => s"rate of ${s.metric} at ${p._1} is ${p._2}, generator slope $want")
            }.take(1)
        }
      case HistQ =>
        val start = end - 3 * 3600000L
        query(histQ, start, instant = false).map { b =>
          val want = gen.quantile90
          matrix(b, 1, steps(start, end, k.stepMs)) ++
            PromResult.series(b).flatMap(_.points)
              .find(p => math.abs(p._2.toDouble - want) > 1e-9 * want)
              .map(p => s"quantile at ${p._1} is ${p._2}, expected $want").toSeq
        }
      case AvgAll =>
        val start = end - (Hours - 1) * 3600000L - 1800000L
        query(avgQ, start, instant = false).map(matrix(_, Instances, steps(start, end, k.stepMs)))
      case TopK =>
        query(topkQ, end, instant = true).map { b =>
          val n = PromResult.series(b).size
          if (n == 5) Nil else Seq(s"topk returned $n series")
        }
      case Series =>
        val path = s"/api/v1/series?match[]=${Facade.enc("g")}&start=${end / 1000 - 3600}&end=${end / 1000}"
        http(path).map { b =>
          val n = Json.read(b).path("data").size
          if (n == Instances) Nil else Seq(s"series returned $n, expected $Instances")
        }
      case LabelValues =>
        http(s"/api/v1/label/instance/values?match[]=${Facade.enc("c")}").map { b =>
          val n = Json.read(b).path("data").size
          if (n == Instances) Nil else Seq(s"label values returned $n, expected $Instances")
        }
      case RemoteRead =>
        val h = n % Hours
        val (s, e) = (T0 + h * 3600000L, T0 + (h + 1) * 3600000L - 1)
        val rq = Prompb.ReadQuery(s, e, Seq(MatchEq("job", "dash")))
        val responses =
          if (ctx.traced) {
            ctx.spark.sparkContext.setLocalProperty("spark.scheduler.pool", FacadeQuery.ReadPool)
            Right(Seq(tracer.span("api.remote_read", req)(graft.api.RemoteReadCall
              .streamed(api, rq, Seq(MatchEq(FacadeQuery.TenantLabel, tn))))))
          } else {
            val body = org.xerial.snappy.Snappy.compress(Prompb.encodeReadRequest(
              Seq(rq), Seq(Prompb.ResponseTypeStreamedXorChunks)))
            val r = client.post("/api/v1/read", body, tn)
            if (r.status == 200) Right(Prompb.readChunkedFrames(r.bytes))
            else Left(s"remote read: HTTP ${r.status}")
          }
        responses.map { rs =>
          val got = rs.map(Prompb.decodeChunkedReadResponse).flatMap(_._2).flatMap(_._2)
            .map(c => graft.functions.XorChunk.decode(c.data).size.toLong).sum
          val want = SeriesPerTenant.toLong * (3600000L / IntervalMs)
          if (got == want) Nil else Seq(s"remote read hour $h: $got samples, wrote $want")
        }
      case other => Left(s"unknown request kind $other")
    }
  }
}
