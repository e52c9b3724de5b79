package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{CodegenShim, ListenerShim}

import graft.promql.{EvalParams, FuncCall, LabelCall, Parser, PromSource,
  Selector}
import graft.store.Tsdb
import graft.streaming.{Otlp, Prompb, PrompbV2}
import graft.tsdb.{MatchEq, Matcher, Matchers}

/** The Prometheus HTTP API v1 facade — the reference's outward face
  * (`api/api.go:157-233` mounts `/api/v1/{query,query_range,series,labels,
  * label/<n>/values,read,write}` around the embedded Prometheus engine,
  * plus the `/mutable/{names,values}` CRUD at `api/api.go:230-233`).
  * Routing, header parsing, codecs and response framing over the storage
  * engine [[store]] ([[graft.store.Tsdb]]); reads hand
  * `QueryService.queryRange` (the §3.1 per-request chain) the store's
  * source and serialize through `PromJson`.
  *
  * Request semantics mirror the reference's custom headers
  * (`types/types.go:172-189`): `X-SquirrelDB-Tenant` (F11),
  * `X-SquirrelDB-Forced-Matcher` (F10), `X-SquirrelDB-Max-Evaluated-Series`
  * (F13/W9), `X-SquirrelDB-Max-Evaluated-Points` (F14) and
  * `X-SquirrelDB-TTL` (T9, `api/remotestorage/remotestorage.go:103-114`),
  * plus `X-SquirrelDB-Max-Staleness` (seconds), which [[handle]] parses
  * once and passes to every read call as the store's `staleness` budget.
  * Upkeep endpoints take no budget and are always strict.
  *
  * Scheduler isolation: reads run on the handler thread in the
  * `graft-reads` pool (`facade-http` threads, from
  * [[Tsdb.sessionThreads]]). An embedding app that serves dashboards
  * DURING sustained ingest should build the session with
  * `spark.scheduler.mode=FAIR` and an allocation file granting
  * `graft-reads` a minShare (SoakBench writes the reference file:
  * minShare 16, weight 8): a saturated write side floods the scheduler
  * with short pin jobs, and plain 1:1 FAIR hands every slot back to the
  * write pool at each stage boundary of a read (measured: 0.44 s
  * quiesced, 13-15 s under 43k pts/s with 1:1 FAIR, see SCALE.md).
  *
  * Remote read streams: when the client negotiates
  * `STREAMED_XOR_CHUNKS`, series are XOR-chunk-encoded on the EXECUTORS
  * and the driver only frames `toLocalIterator` rows into the public
  * chunked protocol (1 MiB frames, like the reference's
  * `remoteReadMaxBytesInFrame`, `api/api.go:58-61`); the buffered
  * SAMPLES variant also assembles its snappy blob incrementally.
  */
final class HttpApi(spark: SparkSession,
    tenantLabel: String = "__account_id",
    defaultTenant: String = "default",
    lookbackMs: Long = 300000L,
    compactEvery: Int = 64,
    maxBytesInFrame: Int = 1 << 20, // reference api.go:60 (1 MiB)
    durablePath: Option[String] = None,
    hotRetainMs: Long = 2 * 3600000L,
    flushEveryPosts: Int = 1) {

  import Prompb.{ChunkMeta, PromSeries}

  /** The storage engine behind every endpoint. */
  private[graft] val store = new Tsdb(spark, tenantLabel, defaultTenant,
    compactEvery, durablePath, hotRetainMs, flushEveryPosts)

  // ---- engine calls the repository benchmark makes on the facade ----

  def write(series: Seq[PromSeries], tenant: String,
      ttlSec: Long = store.DefaultTtlSec): Long =
    store.write(series, tenant, ttlSec)
  private[graft] def drainFlushes(): Unit = store.drainFlushes()
  def compact(): Unit = store.compact()
  def source(tenant: String = defaultTenant, fromMs: Long = Long.MinValue,
      toMs: Long = Long.MaxValue): Option[PromSource] =
    store.source(tenant, fromMs, toMs)
  private[graft] def querySource(tenant: String, mint: Long, maxt: Long,
      allowRoute: Boolean): Option[PromSource] =
    store.querySource(tenant, mint, maxt, allowRoute)
  private[graft] def readSeriesFrame(q: Prompb.ReadQuery,
      extra: Seq[Matcher] = Nil, forcePre: Boolean = false,
      forceRaw: Boolean = false): Option[DataFrame] =
    store.readSeriesFrame(q, extra, forcePre, forceRaw)
  private[graft] def labelAliases: Map[String, String] = store.labelAliases
  val PreAggResolutionMs: Long = store.PreAggResolutionMs
  def pendingBatches: Int = store.pendingBatches
  private[graft] def hotDepth: Int = store.hotDepth
  private[graft] def midCount: Int = store.midCount

  private var server: Option[HttpServer] = None
  private var serverPool: Option[java.util.concurrent.ExecutorService] = None
  // /debug/toggle_debug_query — the reference's defaultDebugRequest logs
  // per-query details
  @volatile private var debugQueries = false
  // internal telemetry (the reference serves promhttp at /metrics,
  // `api/api.go:210`); the store keeps its own counters
  private val queriesTotal = new java.util.concurrent.atomic.AtomicLong
  private val readRequestsTotal = new java.util.concurrent.atomic.AtomicLong

  // /debug/ help text (reference api/api.go:439 debugHelpHandler)
  private val DebugHelp: String =
    """Available debug endpoints:
      |/debug/index_info                index + store counters
      |/debug/index_verify[?strict]     identity + expiration invariants
      |/debug/index_dump                all series
      |/debug/index_dump_by_labels?query=<selector>
      |/debug/index_dump_by_expiration?date=YYYY-MM-DD
      |/debug/index_dump_by_shard?shard_time=YYYY-MM-DD
      |/debug/index_dump_by_posting?name=<label>[&value=][&shard_time=]
      |/debug/index_block               pause durable-tier writes
      |/debug/index_unblock             resume durable-tier writes
      |/debug/toggle_debug_query        per-query plan logging
      |/debug/pprof                     JVM thread dump + heap summary
      |/debug/flush                     fold the append-only hot store
      |/debug/preaggregate?from&to      forced re-aggregation
      |/debug/expire_series[?now=]      series-expiration sweep
      |/debug/mutable_dump              mutable labels as CSV
      |/debug/mutable_import[?force]    replace mutable labels from CSV
      |""".stripMargin

  /** The active session each facade executor's threads see, by thread
    * name (tests; the handler pool only once [[start]] ran).
    */
  private[graft] def threadSessions(): Map[String, Option[SparkSession]] =
    store.threadSessions() ++ serverPool.map(_.submit(Tsdb.sessionProbe).get())

  private def tenantOf(h: HttpExchange): String =
    Option(h.getRequestHeaders.getFirst("X-SquirrelDB-Tenant"))
      .filter(_.nonEmpty).getOrElse(defaultTenant)

  /** Truthy custom-header flag ("true"/"1", case-insensitive). */
  private def headerFlag(h: HttpExchange, n: String): Boolean =
    Option(h.getRequestHeaders.getFirst(n)).exists(v =>
      v.equalsIgnoreCase("true") || v == "1")

  private def requestOptions(h: HttpExchange): RequestOptions = {
    def header(n: String): Option[String] =
      Option(h.getRequestHeaders.getFirst(n)).filter(_.nonEmpty)
    val forced = header("X-SquirrelDB-Forced-Matcher").map { v =>
      v.split("=", 2) match {
        case Array(n, value) => MatchEq(n.trim, value.trim)
        case _ => throw new IllegalArgumentException(
          s"forced matcher must be name=value, got '$v'")
      }
    }
    RequestOptions(
      tenantLabel = header("X-SquirrelDB-Tenant").map(t => (tenantLabel, t)),
      forced = forced.toSeq,
      mutable = store.mappingsFor(tenantOf(h)),
      maxSeries = header("X-SquirrelDB-Max-Evaluated-Series").map(_.toLong),
      maxPoints = header("X-SquirrelDB-Max-Evaluated-Points").map(_.toLong),
      labelAliases = labelAliases)
  }

  /** Sanitized alias columns rename back to their UTF-8 label names at
    * the serialization boundary.
    */
  private def unalias(df: DataFrame): DataFrame =
    labelAliases.foldLeft(df) { case (d, (orig, alias)) =>
      if (d.columns.contains(alias)) d.withColumnRenamed(alias, orig) else d
    }

  // ---- HTTP plumbing ----

  /** Bind and start; `port` 0 picks an ephemeral port. Returns the bound
    * port.
    */
  def start(port: Int = 0): Int = synchronized {
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    Seq("/api/v1/", "/mutable/", "/debug/", "/ready", "/metrics")
      .foreach(s.createContext(_, handle _))
    // one thread per in-flight request (the Go reference's
    // goroutine-per-connection shape): a FIXED pool convoys — when the
    // write side hits the store's flush-queue backpressure, every pool
    // thread can be a BLOCKED write and reads queue at the HTTP layer
    // for the whole backpressure stall (measured: read p50 12.4 s under
    // 4 saturating writers on a 4-thread pool, with the handler itself
    // accounting for <4 s — see SCALE.md). Admission stays bounded:
    // writes still block their own thread at the backpressure gate.
    val pool = java.util.concurrent.Executors.newCachedThreadPool(
      Tsdb.sessionThreads(spark, "facade-http", daemon = false))
    s.setExecutor(pool)
    s.start()
    server = Some(s)
    serverPool = Some(pool)
    s.getAddress.getPort
  }

  def stop(): Unit = {
    synchronized {
      server.foreach(_.stop(0))
      server = None
      // the handler pool's threads are non-daemon — without this the JVM
      // never exits after stop()
      serverPool.foreach(_.shutdown())
      serverPool = None
    }
    store.stop()
  }

  private def text(h: HttpExchange, s: String): Unit =
    respondBytes(h, 200, s.getBytes(UTF_8), "text/plain")

  private def handle(h: HttpExchange): Unit =
    try {
      // scheduler-pool isolation: read queries run on this handler
      // thread, pins/folds on the store's threads — tagging them into
      // separate pools means that under `spark.scheduler.mode=FAIR` (set
      // by the embedding app at session build; a no-op under default
      // FIFO) a dashboard read gets task slots IMMEDIATELY instead of
      // queueing behind the continuous stream of pin jobs a saturated
      // write side submits (measured: the same head-only read is ~4.7 s
      // quiesced vs ~13 s behind a FIFO pin queue)
      spark.sparkContext.setLocalProperty("spark.scheduler.pool",
        "graft-reads")
      // the bounded-staleness opt-in rides a header so it covers EVERY
      // read endpoint (query, query_range, series, labels, remote read,
      // the index dumps); each read call gets it explicitly
      val st = Option(h.getRequestHeaders.getFirst("X-SquirrelDB-Max-Staleness"))
        .map(s => (s.trim.toDouble * 1000).toLong)
      val path = h.getRequestURI.getPath
      (h.getRequestMethod, path) match {
        case (_, "/api/v1/write") => handleWrite(h)
        case (_, "/api/v1/otlp/v1/metrics") => handleOtlpWrite(h)
        case (_, "/api/v1/read") => handleRead(h, st)
        case (_, "/api/v1/query_range") => handleQueryRange(h, st)
        case (_, "/api/v1/query") => handleQuery(h, st)
        case (_, "/api/v1/series") => handleSeries(h, st)
        case (_, "/api/v1/labels") =>
          val (sels, from, to) = labelQuery(h)
          respond(h, 200, PromJson.strings(store.labelNamesFor(tenantOf(h),
            from, to, sels, headerMatchers(h), st)))
        case (_, p) if p.startsWith("/api/v1/label/") && p.endsWith("/values") =>
          val (sels, from, to) = labelQuery(h)
          respond(h, 200, PromJson.strings(store.labelValues(tenantOf(h),
            p.stripPrefix("/api/v1/label/").stripSuffix("/values"),
            from, to, sels, headerMatchers(h), st)))
        case (_, "/api/v1/format_query") =>
          val formatted = graft.promql.Printer.print(
            Parser.parse(required(params(h), "query")))
          respond(h, 200,
            PromJson.success("\"" + PromJson.escape(formatted) + "\""))
        case (_, "/api/v1/parse_query") =>
          respond(h, 200, PromJson.success(
            AstJson.translate(Parser.parse(required(params(h), "query")))))
        // the rest of the upstream v1 surface a dashboard client probes —
        // served empty/static, like the reference's engine-less deployment
        case (_, "/api/v1/metadata") => respond(h, 200, PromJson.success("{}"))
        case (_, "/api/v1/rules") =>
          respond(h, 200, PromJson.success("""{"groups":[]}"""))
        case (_, "/api/v1/alerts") =>
          respond(h, 200, PromJson.success("""{"alerts":[]}"""))
        case (_, "/api/v1/targets") =>
          respond(h, 200, PromJson.success(
            """{"activeTargets":[],"droppedTargets":[]}"""))
        case (_, "/api/v1/status/buildinfo") =>
          respond(h, 200, PromJson.success(
            """{"version":"2.x-compat","application":"graft"}"""))
        case (_, "/api/v1/status/config") =>
          respond(h, 200, PromJson.success("""{"yaml":""}"""))
        case (_, "/api/v1/status/flags") =>
          respond(h, 200, PromJson.success("{}"))
        case (_, "/api/v1/query_exemplars") =>
          respond(h, 200, PromJson.success("[]"))
        case (_, "/api/v1/status/tsdb") => handleStatusTsdb(h, st)
        case (_, "/ready") => text(h, "SquirrelDB-compatible API ready\n")
        case (_, "/metrics") => handleMetrics(h)
        // `/debug/index_dump` (+ `_by_labels` with `query=<selector>`) —
        // reference `api/api.go:214,218`
        case (_, "/debug/index_dump") =>
          streamDump(h, store.seriesIndex(Long.MinValue, Long.MaxValue,
            lit(true), ttlFiltered = true, st))
        case (_, "/debug/index_dump_by_labels") =>
          val where = params(h).get("query").flatMap(_.headOption).fold(lit(true))(
            sel => Matchers.all(Tsdb.labelCol, selectorMatchers(sel)))
          streamDump(h, store.seriesIndex(Long.MinValue, Long.MaxValue,
            where, ttlFiltered = true, st))
        case (_, "/debug/index_dump_by_expiration") =>
          handleDumpByExpiration(h, required(params(h), "date"), st)
        case (_, "/debug/index_dump_by_shard") =>
          handleDumpByShard(h, required(params(h), "shard_time"), st)
        case (_, "/debug/index_dump_by_posting") => handleDumpByPosting(h, st)
        case (_, "/debug/index_block") =>
          store.blockColdWrites(true)
          text(h, "Write to durable tier blocked\n")
        case (_, "/debug/index_unblock") =>
          store.blockColdWrites(false)
          text(h, "Write to durable tier unblocked\n")
        case (_, "/debug/toggle_debug_query") =>
          debugQueries = !debugQueries
          text(h, s"defaultDebugRequest is now $debugQueries\n")
        // the reference exposes Go pprof (`api/api.go:228`); the JVM
        // analogue is a full thread dump + memory summary — what an
        // operator reaches for when the facade looks wedged
        case (_, "/debug/pprof") | (_, "/debug/pprof/") =>
          val sb = new StringBuilder
          val rt = Runtime.getRuntime
          sb ++= s"jvm heap used=${rt.totalMemory() - rt.freeMemory()} " +
            s"total=${rt.totalMemory()} max=${rt.maxMemory()}\n"
          val mx = java.lang.management.ManagementFactory.getThreadMXBean
          mx.dumpAllThreads(false, false).foreach { ti =>
            sb ++= s"\n\"${ti.getThreadName}\" id=${ti.getThreadId} " +
              s"state=${ti.getThreadState}\n"
            ti.getStackTrace.foreach(f => sb ++= s"\tat $f\n")
          }
          text(h, sb.toString)
        case (_, "/debug/") | (_, "/debug") => text(h, DebugHelp)
        case (_, "/debug/flush") =>
          store.compact()
          text(h, "Flushed hot batches (compacted append-only store)\n")
        case (_, "/debug/preaggregate") =>
          val ps = params(h)
          val months = store.forcePreAggregate(
            parseTime(required(ps, "from")), parseTime(required(ps, "to")))
          text(h, s"Re-aggregated ${months.size} month partition(s): ${
            months.mkString(", ")}\n")
        // `/debug/index_info` (reference `api/api.go:213`): store counts
        case (_, "/debug/index_info") =>
          respond(h, 200, store.indexInfo
            .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
        case (_, "/debug/index_verify") => handleIndexVerify(h, st)
        case (_, "/debug/expire_series") =>
          val now = params(h).get("now").flatMap(_.headOption)
            .map(parseTime).getOrElse(System.currentTimeMillis())
          text(h, s"Expired ${store.sweepExpiredSeries(now)} series\n")
        // `/debug/mutable_dump` CSV (reference `api/api.go:226`)
        case ("GET", "/debug/mutable_dump") =>
          respondBytes(h, 200, store.mutableRows.map(_.productIterator
            .mkString("", ",", "\n")).mkString.getBytes(UTF_8), "text/csv")
        case ("POST", "/debug/mutable_import") => handleMutableImport(h)
        case ("POST", "/mutable/names") => handleMutableNames(h, delete = false)
        case ("DELETE", "/mutable/names") => handleMutableNames(h, delete = true)
        case ("POST", "/mutable/values") => handleMutableValues(h, delete = false)
        case ("DELETE", "/mutable/values") => handleMutableValues(h, delete = true)
        case _ => respond(h, 404, PromJson.error("bad_data", "unknown endpoint"))
      }
    } catch {
      case e: Exception =>
        // streamed responses may have committed their headers already
        try respond(h, 422, PromJson.error("execution",
          Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
        catch { case _: Exception => () }
    } finally h.close()

  private def ttlOf(h: HttpExchange): Long =
    Option(h.getRequestHeaders.getFirst("X-SquirrelDB-TTL"))
      .filter(_.nonEmpty).map(_.toLong).getOrElse(store.DefaultTtlSec)

  /** PRW write (S1). v2 responses carry the 2.0 written-stats headers
    * (the reference serves them via the upstream write handler,
    * `api/api.go:157-201`); a v2 payload with native-histogram samples is
    * REJECTED with 400 — the reference errors on histogram samples
    * (`api/remotestorage/write.go:233-252`) and a silent 2xx would lose
    * client data without signal. Exemplars are not stored; the request
    * still succeeds and the header reports written-exemplars=0, which is
    * the accounting a conforming 2.0 sender uses.
    */
  private def handleWrite(h: HttpExchange): Unit = {
    val body = h.getRequestBody.readAllBytes()
    val ct = Option(h.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
    if (ct.contains("io.prometheus.write.v2.Request")) {
      val dec = PrompbV2.decodeSnappyWithStats(body)
      def setStats(samples: Long, histograms: Long, exemplars: Long): Unit = {
        val hs = h.getResponseHeaders
        hs.set("X-Prometheus-Remote-Write-Samples-Written", samples.toString)
        hs.set("X-Prometheus-Remote-Write-Histograms-Written",
          histograms.toString)
        hs.set("X-Prometheus-Remote-Write-Exemplars-Written",
          exemplars.toString)
      }
      if (dec.histograms > 0) {
        setStats(0L, 0L, 0L) // atomic reject: nothing from this request lands
        respond(h, 400, PromJson.error("bad_data",
          s"native histograms are not supported (${dec.histograms} " +
            "histogram sample(s) in request)"))
      } else {
        val written = store.write(dec.series, tenantOf(h), ttlOf(h))
        setStats(written, 0L, 0L)
        respondBytes(h, 204, Array.emptyByteArray, "application/json")
      }
    } else {
      store.write(Prompb.decodeSnappy(body), tenantOf(h), ttlOf(h))
      respondBytes(h, 204, Array.emptyByteArray, "application/json")
    }
  }

  /** OTLP metrics over HTTP (`api/api.go:157-196` enables the upstream
    * OTLP-write handler at this path): plain-protobuf ExportRequest →
    * the same validated ingest.
    */
  private def handleOtlpWrite(h: HttpExchange): Unit = {
    val body = h.getRequestBody.readAllBytes()
    store.write(Otlp.decodeExportRequest(body), tenantOf(h), ttlOf(h))
    respondBytes(h, 204, Array.emptyByteArray, "application/json")
  }

  // ---- remote read (S3) ----

  /** Tenant (F11, when the header names one) + forced matchers (F10),
    * applied at the index layer like the reference
    * (`api/promql/queryable.go:153-166`) — remote read and the
    * label/series APIs are tenant-scoped too, not only the PromQL
    * endpoints.
    */
  private def headerMatchers(h: HttpExchange): Seq[Matcher] = {
    val opts = requestOptions(h)
    opts.tenantLabel.map { case (l, v) => MatchEq(l, v) }.toSeq ++ opts.forced
  }

  private def handleRead(h: HttpExchange, st: Option[Long]): Unit = {
    readRequestsTotal.incrementAndGet()
    val req = Prompb.decodeReadRequestFull(
      org.xerial.snappy.Snappy.uncompress(h.getRequestBody.readAllBytes()))
    val extra = headerMatchers(h)
    val fp = headerFlag(h, "X-SquirrelDB-ForcePreAggregated")
    val fr = headerFlag(h, "X-SquirrelDB-ForceRaw")
    val frames = req.queries.map(q => () =>
      store.readSeriesFrame(q, extra, fp, fr, st))
    if (req.acceptedResponseTypes.contains(Prompb.ResponseTypeStreamedXorChunks))
      handleReadStreamed(h, frames)
    else handleReadSamples(h, frames)
  }

  /** Buffered SAMPLES response (the protocol is one snappy blob — same as
    * the reference's non-streamed path): assembled INCREMENTALLY from
    * `toLocalIterator`, so peak driver memory is the encoded response,
    * never the collected row set.
    */
  private def handleReadSamples(h: HttpExchange,
      frames: Seq[() => Option[DataFrame]]): Unit = {
    val out = new java.io.ByteArrayOutputStream()
    frames.foreach { frame =>
      val qr = new java.io.ByteArrayOutputStream()
      frame().foreach { df =>
        val it = df.toLocalIterator()
        while (it.hasNext) {
          Prompb.appendMessage(qr, 1, Prompb.encodeTimeSeries(rowSeries(it.next())))
        }
      }
      Prompb.appendMessage(out, 1, qr.toByteArray)
    }
    respondBytes(h, 200, org.xerial.snappy.Snappy.compress(out.toByteArray),
      "application/x-protobuf")
  }

  /** Streamed XOR-chunks response: chunk encoding runs on the EXECUTORS
    * (a per-series kernel over the already-grouped samples), the driver
    * streams `toLocalIterator` rows into ≈1 MiB CRC-framed
    * ChunkedReadResponse frames over chunked HTTP transfer — S3 without a
    * driver-sized buffer.
    */
  private def handleReadStreamed(h: HttpExchange,
      frames: Seq[() => Option[DataFrame]]): Unit = {
    h.getResponseHeaders.set("Content-Type", Prompb.StreamedChunksContentType)
    h.sendResponseHeaders(200, 0) // chunked transfer
    val os = h.getResponseBody
    frames.zipWithIndex.foreach { case (frameOf, qi) =>
      frameOf().foreach { df =>
        val it = df
          .withColumn("chunks", HttpApi.xorChunksUdf(
            col("samples.ts_ms"), col("samples.value")))
          .select("labels", "chunks")
          .toLocalIterator()
        var frame = Vector.empty[Array[Byte]]
        var frameBytes = 0
        def flush(): Unit = if (frame.nonEmpty) {
          Prompb.writeChunkedFrame(os,
            Prompb.encodeChunkedReadResponse(frame, qi.toLong))
          os.flush()
          frame = Vector.empty
          frameBytes = 0
        }
        // flush BEFORE appending when the budget would be exceeded, so no
        // frame carries a series past the limit unless that series alone
        // exceeds it (reference flushes per-series,
        // `storage/remote/codec.go`)
        def emit(sb: Array[Byte]): Unit = {
          if (frame.nonEmpty && frameBytes + sb.length > maxBytesInFrame)
            flush()
          frame :+= sb
          frameBytes += sb.length
          if (frameBytes >= maxBytesInFrame) flush()
        }
        while (it.hasNext) {
          val r = it.next()
          val labels = r.getAs[Map[String, String]]("labels")
          val chunks = r.getAs[scala.collection.Seq[Row]]("chunks")
            .map(c => ChunkMeta(c.getLong(0), c.getLong(1),
              c.getAs[Array[Byte]](2))).toSeq
          val whole = Prompb.encodeChunkedSeries(labels, chunks)
          if (whole.length > maxBytesInFrame && chunks.length > 1) {
            // a single series larger than the frame budget splits its
            // chunk list across frames, each group its own ChunkedSeries
            // (the protocol allows one series in many frames — the
            // reference splits the same way to honor
            // remoteReadMaxBytesInFrame)
            var grp = Vector.empty[ChunkMeta]
            var gBytes = 0
            def emitGrp(): Unit = if (grp.nonEmpty) {
              emit(Prompb.encodeChunkedSeries(labels, grp))
              grp = Vector.empty
              gBytes = 0
            }
            chunks.foreach { c =>
              val sz = c.data.length + 24 // chunk framing overhead bound
              if (grp.nonEmpty && gBytes + sz > maxBytesInFrame) emitGrp()
              grp :+= c
              gBytes += sz
            }
            emitGrp()
          } else emit(whole)
        }
        flush()
      }
    }
    os.close()
  }

  private def rowSeries(r: Row): PromSeries = {
    val labels = r.getAs[Map[String, String]]("labels")
    val samples = r
      .getAs[scala.collection.Seq[Row]]("samples")
      .map(s => (s.getLong(0), s.getDouble(1))).toSeq
    PromSeries(labels, samples)
  }

  // ---- PromQL endpoints ----

  /** A4 route decision (reference `api/promql/queryable.go:213-231` reads
    * the forced headers from `types/types.go:180-186`; `cassandra/tsdb/
    * read.go:57-72` serves any query with step ≥ the agg resolution from
    * pre-aggregated data): ForceRaw wins, ForcePreAggregated routes
    * regardless of step, otherwise step ≥ 5 min routes — per selector,
    * through the store's query source.
    */
  private def pickSource(h: HttpExchange, ast: graft.promql.Expr,
      stepMs: Long, mint: Long, maxt: Long,
      st: Option[Long]): Option[PromSource] = {
    val forceRaw = headerFlag(h, "X-SquirrelDB-ForceRaw")
    val forcePre = headerFlag(h, "X-SquirrelDB-ForcePreAggregated")
    val routeOk = !forceRaw && (forcePre || stepMs >= PreAggResolutionMs)
    val tenant = tenantOf(h)
    store.querySource(tenant, mint, maxt, routeOk, st).orElse {
      // raw tier empty (e.g. fully aged out by retention) but the agg
      // table can still serve: route the whole AST through one column
      if (!routeOk) None
      else QueryService.preAggColumn(ast)
        .flatMap(c => store.routedSource(tenant, mint, maxt, c, st))
        .map { s => store.preAggRoutedTotal.incrementAndGet(); s }
    }
  }

  private def handleQueryRange(h: HttpExchange, st: Option[Long]): Unit = {
    queriesTotal.incrementAndGet()
    val ps = params(h)
    val q = required(ps, "query")
    val start = parseTime(required(ps, "start"))
    val end = parseTime(required(ps, "end"))
    val step = parseDuration(required(ps, "step"))
    val p = EvalParams(start, end, step, lookbackMs)
    // per-query [mint, maxt] from the AST → cold-tier partition pruning
    val ast = Parser.parse(q)
    val (mint, maxt) = QueryService.timeBounds(ast, p)
    val (dbg, verbose) = debugFlags(h)
    if (dbg) {
      h.getResponseHeaders.set("X-SquirrelDB-Debug", "true")
      println(s"[graft debug-query] query_range query=$q start=$start " +
        s"end=$end step=$step bounds=[$mint,$maxt]")
    }
    // slow-read phase log: a read that crosses 3 s prints where it went
    // (source = the store's read view/drain + hot-union build; plan =
    // eval plan build + analysis; exec = optimize + jobs + JSON
    // serialization) — the saturation diagnostics this was built on live
    // in SCALE.md. A one-stage read spends exec in one job; the verbose
    // debug header prints the plan and job count that ran
    val tA = System.nanoTime()
    val group = debugJobGroup(verbose)
    try pickSource(h, ast, step, mint, maxt, st) match {
      case None => respond(h, 200,
        PromJson.success("""{"resultType":"matrix","result":[]}"""))
      case Some(src) =>
        val tB = System.nanoTime()
        val df = unalias(QueryService.queryRange(q, src, p,
          requestOptions(h)))
        val labels = df.columns.filterNot(Set("eval_ms", "value")).toSeq
        val tC = System.nanoTime()
        respond(h, 200, PromJson.matrix(df, labels))
        val tD = System.nanoTime()
        group.foreach(printDebugPlan(_, df))
        if (tD - tA > 3e9) println(
          f"[graft slow-read] total=${(tD - tA) / 1e9}%.2fs " +
            f"source=${(tB - tA) / 1e9}%.2fs plan=${(tC - tB) / 1e9}%.2fs " +
            f"exec=${(tD - tC) / 1e9}%.2fs query=$q")
    } finally group.foreach(_ => spark.sparkContext.clearJobGroup())
  }

  /** Per-request debug (reference `types/types.go:192-194`
    * `X-SquirrelDB-Query-Debug` / `-Query-Verbose-Debug`); the global
    * toggle is the reference's `defaultDebugRequest`. Verbose also logs,
    * after the response, the final physical plan and the request's job
    * count ([[printDebugPlan]]).
    */
  private def debugFlags(h: HttpExchange): (Boolean, Boolean) = {
    val verbose = headerFlag(h, "X-SquirrelDB-Query-Verbose-Debug")
    (debugQueries || verbose || headerFlag(h, "X-SquirrelDB-Query-Debug"),
      verbose)
  }

  /** A verbose request's job group: every job the request runs on this
    * handler thread carries it until the caller clears it.
    */
  private def debugJobGroup(verbose: Boolean): Option[String] =
    Option.when(verbose) {
      val g = s"graft-debug-${java.util.UUID.randomUUID()}"
      spark.sparkContext.setJobGroup(g, "verbose debug query")
      g
    }

  /** Log the plan `df` ran — the final adaptive plan, which exists only
    * once it has run — and the jobs its request's group started: one
    * job and no exchange is the store's one-stage read shape.
    */
  private def printDebugPlan(group: String, df: DataFrame): Unit = {
    scala.util.Try(ListenerShim.drain(spark.sparkContext))
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    println(s"[graft debug-query] jobs=$jobs final plan:\n" +
      df.queryExecution.executedPlan)
  }

  private def handleQuery(h: HttpExchange, st: Option[Long]): Unit = {
    queriesTotal.incrementAndGet()
    val ps = params(h)
    val q = required(ps, "query")
    val t = ps.get("time").flatMap(_.headOption).map(parseTime)
      .getOrElse(System.currentTimeMillis())
    val p = EvalParams(t, t, 1000L, lookbackMs)
    val ast = Parser.parse(q)
    val (mint, maxt) = QueryService.timeBounds(ast, p)
    val (dbg, verbose) = debugFlags(h)
    if (dbg) {
      h.getResponseHeaders.set("X-SquirrelDB-Debug", "true")
      println(s"[graft debug-query] query query=$q time=$t " +
        s"bounds=[$mint,$maxt]")
    }
    val group = debugJobGroup(verbose)
    try pickSource(h, ast, p.stepMs, mint, maxt, st) match {
      case None => respond(h, 200,
        PromJson.success("""{"resultType":"vector","result":[]}"""))
      case Some(src) =>
        val df = unalias(QueryService.queryRange(q, src, p,
          requestOptions(h)))
        val labels = df.columns.filterNot(Set("eval_ms", "value")).toSeq
        // presentation ordering for a top-level sort function — applied
        // HERE, not in the plan
        val order: Option[PromJson.VecOrder] = ast match {
          case FuncCall("sort", _, _) => Some(PromJson.ByValue(false))
          case FuncCall("sort_desc", _, _) => Some(PromJson.ByValue(true))
          case LabelCall("sort_by_label", _, names) =>
            Some(PromJson.ByLabels(names, desc = false))
          case LabelCall("sort_by_label_desc", _, names) =>
            Some(PromJson.ByLabels(names, desc = true))
          case _ => None
        }
        respond(h, 200, PromJson.vector(df, labels, order))
        group.foreach(printDebugPlan(_, df))
    } finally group.foreach(_ => spark.sparkContext.clearJobGroup())
  }

  /** match[] selectors → matcher predicates over the label map. */
  private def selectorMatchers(expr: String): Seq[Matcher] =
    Parser.parse(expr) match {
      case s: Selector =>
        s.matchers ++ s.name.map(n => MatchEq("__name__", n)).toSeq
      case other => throw new IllegalArgumentException(
        s"match[] must be a series selector, got $other")
    }

  /** The label and series APIs' restriction: the match[] selectors (a
    * series matching any of them) and the optional start/end.
    */
  private def labelQuery(h: HttpExchange): (Seq[Seq[Matcher]], Long, Long) = {
    val ps = params(h)
    def bound(n: String, open: Long) =
      ps.get(n).flatMap(_.headOption).map(parseTime).getOrElse(open)
    (ps.getOrElse("match[]", Seq.empty).map(selectorMatchers),
      bound("start", Long.MinValue), bound("end", Long.MaxValue))
  }

  private def handleSeries(h: HttpExchange, st: Option[Long]): Unit = {
    val (sels, from, to) = labelQuery(h)
    if (sels.isEmpty)
      return respond(h, 400, PromJson.error("bad_data",
        "no match[] parameter provided"))
    store.seriesLabels(tenantOf(h), from, to, sels, headerMatchers(h), st) match {
      case None => respond(h, 200, PromJson.success("[]"))
      case Some(series) =>
        // the JSON body is inherently driver-sized, but peak memory stays
        // one row via toLocalIterator, like the other streamed endpoints
        val sb = new StringBuilder("""{"status":"success","data":[""")
        val it = series.toLocalIterator()
        var first = true
        while (it.hasNext) {
          if (!first) sb.append(',')
          first = false
          sb.append(PromJson.metricJson(
            it.next().getAs[Map[String, String]]("labels").toSeq))
        }
        sb.append("]}")
        respond(h, 200, sb.result())
    }
  }

  /** /api/v1/status/tsdb — the upstream TSDB-status payload (Grafana's
    * TSDB page), priced like the debug index dumps, not the query path.
    */
  private def handleStatusTsdb(h: HttpExchange, st: Option[Long]): Unit = {
    def obj(fields: Seq[(String, String)]): String =
      fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val (head, tables) = store.tsdbStatus(st)
    respond(h, 200, PromJson.success(obj(
      ("headStats" -> obj(head.map { case (k, v) => k -> v.toString })) +:
        tables.map { case (k, rows) => k -> rows.map { case (n, v) =>
          s"""{"name":"${PromJson.escape(n)}","value":$v}"""
        }.mkString("[", ",", "]") })))
  }

  /** `/debug/index_verify` (reference `api/api.go:216` →
    * `cassandra/index/verify.go`): 200 when every invariant count the
    * store reports is zero, 500 otherwise; `?strict` adds the
    * expired-but-registered count.
    */
  private def handleIndexVerify(h: HttpExchange, st: Option[Long]): Unit = {
    val counts = store.indexVerify(params(h).contains("strict"), st)
    val healthy = counts.forall(_._2 == 0)
    respond(h, if (healthy) 200 else 500, (s""""healthy":$healthy""" +:
      counts.map { case (k, v) => s""""$k":$v""" }).mkString("{", ",", "}"))
  }

  /** `/metrics` — internal telemetry in the Prometheus text exposition
    * format (the reference serves promhttp here, `api/api.go:210`).
    */
  private def handleMetrics(h: HttpExchange): Unit = {
    def c(name: String, help: String, v: Long): String =
      s"# HELP $name $help\n# TYPE $name counter\n$name $v\n"
    val body =
      c("graft_writes_total", "Write requests accepted",
        store.writesTotal.get) +
        c("graft_points_written_total", "Samples ingested",
          store.pointsWrittenTotal.get) +
        c("graft_queries_total", "PromQL query/query_range requests",
          queriesTotal.get) +
        c("graft_read_requests_total", "Remote-read requests",
          readRequestsTotal.get) +
        c("graft_preagg_routed_total",
          "Queries served from pre-aggregated data",
          store.preAggRoutedTotal.get) +
        c("graft_stale_reads_total",
          "Reads served from pinned state under a staleness budget",
          store.staleReadsTotal.get) +
        c("graft_stale_head_reads_total",
          "Budgeted reads served from the compacted head alone",
          store.staleHeadReadsTotal.get) +
        c("graft_codegen_compilations_total",
          "Generated-code compilations in this JVM (codegen cache misses)",
          CodegenShim.compilations) +
        "# HELP graft_read_plans_total Read plans by shape: single = " +
        "inputs coalesced to one partition, parallel = not\n" +
        "# TYPE graft_read_plans_total counter\n" +
        s"""graft_read_plans_total{shape="single"} ${store.singlePlans.get}\n""" +
        s"""graft_read_plans_total{shape="parallel"} ${store.parallelPlans.get}\n"""
    respondBytes(h, 200, body.getBytes(UTF_8),
      "text/plain; version=0.0.4")
  }

  /** Shared dump streamer: one `metric_id labels… [extra]` line per
    * series row, via `toLocalIterator` (an empty body when the store
    * holds nothing).
    */
  private def streamDump(h: HttpExchange, series: Option[DataFrame],
      extraCol: Option[String] = None): Unit = series match {
    case None => respondBytes(h, 200, Array.emptyByteArray, "text/plain")
    case Some(df) =>
      h.getResponseHeaders.set("Content-Type", "text/plain")
      h.sendResponseHeaders(200, 0)
      val os = h.getResponseBody
      val it = df.toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        val lbls = Option(r.getAs[Map[String, String]]("labels"))
          .getOrElse(Map.empty).toSeq.sorted
          .map { case (k, v) => s"""$k="$v"""" }.mkString("{", ",", "}")
        val extra = extraCol.fold("")(c => " " + r.getAs[Any](c))
        os.write(s"${r.getAs[Long]("metric_id")} $lbls$extra\n".getBytes(UTF_8))
      }
      os.close()
  }

  /** `/debug/index_dump_by_expiration?date=YYYY-MM-DD` (reference
    * `api/api.go:711-739` → `DumpByExpirationDate`): series whose
    * refreshed expiration falls on that UTC day.
    */
  private def handleDumpByExpiration(h: HttpExchange, date: String,
      st: Option[Long]): Unit =
    store.seriesExpiringOn(java.time.LocalDate.parse(date), st) match {
      case None => respond(h, 501, PromJson.error("unavailable",
        "no expiry dim (configure durablePath)"))
      case some => streamDump(h, some, Some("expiration_ms"))
    }

  private def dayMs(date: String): (Long, Long) = {
    val lo = java.time.LocalDate.parse(date)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    (lo, lo + 86400000L - 1)
  }

  /** `/debug/index_dump_by_shard?shard_time=YYYY-MM-DD` (reference
    * `api/api.go:741-769` → `DumpByShard`): the reference's index shards
    * postings by time block; the layout analogue is the day partition —
    * series with any point on that UTC day.
    */
  private def handleDumpByShard(h: HttpExchange, date: String,
      st: Option[Long]): Unit = {
    val (lo, hi) = dayMs(date)
    streamDump(h, store.seriesIndex(lo, hi, lit(true), ttlFiltered = false, st))
  }

  /** `/debug/index_dump_by_posting?name=&value=[&shard_time=]` (reference
    * `api/api.go:772-827` → `DumpByPosting`): series in one posting —
    * label `name` present (any value) or equal to `value`, optionally
    * restricted to a day shard.
    */
  private def handleDumpByPosting(h: HttpExchange, st: Option[Long]): Unit = {
    val ps = params(h)
    val v = Tsdb.labelCol(required(ps, "name"))
    val cond = ps.get("value").flatMap(_.headOption)
      .fold(v.isNotNull && v =!= "")(x => v === x)
    val (lo, hi) = ps.get("shard_time").flatMap(_.headOption).map(dayMs)
      .getOrElse((Long.MinValue, Long.MaxValue))
    streamDump(h, store.seriesIndex(lo, hi, cond, ttlFiltered = false, st))
  }

  /** `/debug/mutable_import` (reference `api/api.go:640-656`): replace ALL
    * mutable labels with the posted CSV; a dry-run without `?force`
    * (values with commas/quotes are out of scope — label values).
    */
  private def handleMutableImport(h: HttpExchange): Unit = {
    val force = Option(h.getRequestURI.getRawQuery).exists(
      _.split("&").contains("force"))
    val body = new String(h.getRequestBody.readAllBytes(), UTF_8)
    val rows = body.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
      .map { line =>
        val f = line.split(",", -1)
        require(f.length == 5, s"expected 5 CSV fields, got '$line'")
        f
      }
    val names = rows.map(f => (f(0), f(1)) -> f(2)).distinct.toMap
    val values = rows.filter(f => f(3).nonEmpty && f(4).nonEmpty)
      .groupBy(f => (f(0), f(1), f(3)))
      .map { case (k, fs) => k -> fs.map(_(4)).distinct }
    if (force) store.replaceMutable(names, values)
    text(h, s"Would import ${names.size} mutable names and " +
      s"${values.size} value mappings (replacing all existing)\n" +
      (if (force) "Import applied\n"
      else "To apply change, add \"force\" parameter " +
        "(e.g. /debug/mutable_import?force)\n"))
  }

  // ---- mutable-label CRUD (reference api/api.go:954-1080) ----

  private def jsonArray(h: HttpExchange): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(h.getRequestBody.readAllBytes())
    require(root != null && root.isArray, "body must be a JSON array")
    (0 until root.size()).map(root.get)
  }

  private def field(n: com.fasterxml.jackson.databind.JsonNode,
      name: String): String = {
    val v = n.get(name)
    require(v != null && v.isTextual && v.asText.nonEmpty,
      s"missing or empty field '$name'")
    v.asText
  }

  /** POST: `[{"tenant","name","associated_name"}]`; DELETE:
    * `[{"tenant","name"}]` — mirrors `mutable.LabelWithName`/`LabelKey`.
    */
  private def handleMutableNames(h: HttpExchange, delete: Boolean): Unit = {
    store.updateMutableNames(jsonArray(h).map { n =>
      (field(n, "tenant"), field(n, "name")) ->
        Option.when(!delete)(field(n, "associated_name"))
    })
    text(h, "ok")
  }

  /** POST: `[{"tenant","name","value","associated_values":[…]}]`; DELETE:
    * `[{"tenant","name","value"}]` — mirrors
    * `mutable.LabelWithValues`/`Label`.
    */
  private def handleMutableValues(h: HttpExchange, delete: Boolean): Unit = {
    store.updateMutableValues(jsonArray(h).map { n =>
      (field(n, "tenant"), field(n, "name"), field(n, "value")) ->
        Option.when(!delete) {
          val av = n.get("associated_values")
          require(av != null && av.isArray && av.size() > 0,
            "missing or empty field 'associated_values'")
          (0 until av.size()).map(av.get(_).asText).toSeq
        }
    })
    text(h, "ok")
  }

  // ---- request parsing ----

  /** Query-string + form-body params (Prometheus accepts both). */
  private def params(h: HttpExchange): Map[String, Seq[String]] = {
    def parse(s: String): Seq[(String, String)] =
      s.split("&").toSeq.filter(_.nonEmpty).map { kv =>
        val Array(k, v) = (kv.split("=", 2) ++ Array("")).take(2)
        (java.net.URLDecoder.decode(k, UTF_8),
          java.net.URLDecoder.decode(v, UTF_8))
      }
    val fromQuery = Option(h.getRequestURI.getRawQuery).map(parse)
      .getOrElse(Seq.empty)
    val ct = Option(h.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
    val fromBody =
      if (ct.startsWith("application/x-www-form-urlencoded"))
        parse(new String(h.getRequestBody.readAllBytes(), UTF_8))
      else Seq.empty
    (fromQuery ++ fromBody).groupBy(_._1).map { case (k, vs) =>
      k -> vs.map(_._2) }
  }

  private def required(ps: Map[String, Seq[String]], name: String): String =
    ps.get(name).flatMap(_.headOption).getOrElse(
      throw new IllegalArgumentException(s"missing parameter '$name'"))

  /** Unix float seconds or RFC3339 → epoch ms. */
  private def parseTime(s: String): Long =
    if (s.contains("T")) java.time.Instant.parse(s).toEpochMilli
    else math.round(s.toDouble * 1000.0)

  private val DurRe = "([0-9]+)(ms|s|m|h|d|w|y)".r

  /** Go-style duration ("15s", "1m", "2h30m") or float seconds → ms. */
  private def parseDuration(s: String): Long =
    if (s.matches("^[0-9.]+$")) math.round(s.toDouble * 1000.0)
    else {
      val ms = DurRe.findAllMatchIn(s).map { m =>
        m.group(1).toLong * (m.group(2) match {
          case "ms" => 1L; case "s" => 1000L; case "m" => 60000L
          case "h" => 3600000L; case "d" => 86400000L
          case "w" => 604800000L; case "y" => 31536000000L
        })
      }.sum
      if (ms <= 0) throw new IllegalArgumentException(s"bad duration '$s'")
      ms
    }

  private def respond(h: HttpExchange, code: Int, json: String): Unit =
    respondBytes(h, code, json.getBytes(UTF_8), "application/json")

  private def respondBytes(h: HttpExchange, code: Int, body: Array[Byte],
      contentType: String): Unit = {
    h.getResponseHeaders.set("Content-Type", contentType)
    if (body.isEmpty) h.sendResponseHeaders(code, -1)
    else {
      h.sendResponseHeaders(code, body.length.toLong)
      h.getResponseBody.write(body)
    }
  }
}

object HttpApi {

  /** Executor-side XOR chunk encoding: sorted (ts, value) samples →
    * ≤120-sample chunkenc-layout chunks with their time bounds. A
    * serialization-boundary kernel (the samples are already grouped per
    * series), so a udf is the right tool — the hot path upstream stays
    * codegen'd.
    */
  private[api] val xorChunksUdf =
    udf { (ts: scala.collection.Seq[Long], vs: scala.collection.Seq[Double]) =>
      ts.zip(vs).grouped(120).map { grp =>
        (grp.head._1, grp.last._1,
          graft.functions.XorChunk.encode(grp.toSeq))
      }.toSeq
    }
}
