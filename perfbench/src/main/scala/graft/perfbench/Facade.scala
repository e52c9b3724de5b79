package graft.perfbench

import java.net.{HttpURLConnection, URI}
import java.net.URLEncoder
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.SparkSession

import graft.api.HttpApi
import graft.streaming.Prompb

/** Shared plumbing of the two facade workloads: the facade under test, an
  * HTTP client per connection, the sampled gauges and the cold-tier size.
  */
object Facade {
  val TenantHeader = "X-SquirrelDB-Tenant"

  /** FAIR pools as the facade documents for serving reads during ingest:
    * reads get a minimum share of the 4 task slots so the pin stream cannot
    * starve them.
    */
  def poolsFile(work: Path): Path = {
    val f = work.resolve("pools.xml")
    Files.write(f,
      """<?xml version="1.0"?>
        |<allocations>
        |  <pool name="graft-reads"><schedulingMode>FIFO</schedulingMode><weight>8</weight><minShare>4</minShare></pool>
        |  <pool name="graft-writes"><schedulingMode>FIFO</schedulingMode><weight>1</weight><minShare>0</minShare></pool>
        |  <pool name="graft-upkeep"><schedulingMode>FIFO</schedulingMode><weight>1</weight><minShare>0</minShare></pool>
        |</allocations>
        |""".stripMargin.getBytes("UTF-8"))
    f
  }

  /** A response: status code and body bytes. */
  final case class Response(status: Int, bytes: Array[Byte]) {
    def text: String = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Sends and reads on the calling thread, over keep-alive HTTP/1.1
    * connections the JDK pools per host: one per thread that sends at the
    * same time. The JDK's
    * asynchronous `HttpClient` hands each request between threads, and on
    * a 4-core VM beside Spark's 4 task slots that made the scrape write
    * p50 spread 0.24 (quartile distance over median, 5 seeds) where this
    * client spreads 0.03.
    */
  final class Client(port: Int) {
    private def send(pathAndQuery: String, tenant: String,
        body: Option[Array[Byte]]): Response = {
      val c = URI.create(s"http://127.0.0.1:$port$pathAndQuery").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      c.setRequestProperty(TenantHeader, tenant)
      body.foreach { b =>
        c.setRequestMethod("POST")
        c.setRequestProperty("Content-Type", "application/x-protobuf")
        c.setDoOutput(true)
        c.setFixedLengthStreamingMode(b.length)
        val os = c.getOutputStream
        try os.write(b) finally os.close()
      }
      val status = c.getResponseCode
      // reading the body to its end returns the connection for reuse
      val in = if (status >= 400) c.getErrorStream else c.getInputStream
      Response(status, if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close())
    }

    def post(path: String, body: Array[Byte], tenant: String): Response =
      send(path, tenant, Some(body))

    def get(pathAndQuery: String, tenant: String): Response = send(pathAndQuery, tenant, None)

    def write(series: Seq[Prompb.PromSeries], tenant: String): Int =
      post("/api/v1/write", Prompb.encodeSnappy(series), tenant).status
  }

  def enc(s: String): String = URLEncoder.encode(s, "UTF-8")

  def rangeQuery(q: String, startMs: Long, endMs: Long, stepMs: Long): String =
    s"/api/v1/query_range?query=${enc(q)}&start=${secs(startMs)}" +
      s"&end=${secs(endMs)}&step=${secs(stepMs)}"

  def instantQuery(q: String, atMs: Long): String =
    s"/api/v1/query?query=${enc(q)}&time=${secs(atMs)}"

  private def secs(ms: Long): String =
    java.math.BigDecimal.valueOf(ms, 3).toPlainString

  /** Max of the facade's queue and hot-tier gauges, sampled every 20 ms. */
  final class Gauges(api: HttpApi) {
    @volatile var pendingMax, hotDepthMax, midsMax = 0
    private val stop = new AtomicBoolean(false)
    private val t = new Thread(() => {
      while (!stop.get) {
        pendingMax = math.max(pendingMax, api.pendingBatches)
        hotDepthMax = math.max(hotDepthMax, api.hotDepth)
        midsMax = math.max(midsMax, api.midCount)
        Thread.sleep(20)
      }
    }, "perfbench-gauges")
    t.setDaemon(true)
    t.start()
    def close(): Unit = { stop.set(true); t.join() }
  }

  /** (files, bytes) under the durable tier's directories, each inode once. */
  def coldSize(prefix: Path): (Long, Long) = {
    val parent = prefix.getParent
    val name = prefix.getFileName.toString
    val seen = scala.collection.mutable.Set.empty[Any]
    var files = 0L
    var bytes = 0L
    val roots = Files.list(parent)
    try roots.filter(_.getFileName.toString.startsWith(name)).forEach { r =>
      val w = Files.walk(r)
      try w.filter(p => Files.isRegularFile(p)
          && !p.getFileName.toString.endsWith(".crc")).forEach { p =>
        val ino = Files.getAttribute(p, "unix:ino")
        if (seen.add(ino)) { files += 1; bytes += Files.size(p) }
      } finally w.close()
    } finally roots.close()
    (files, bytes)
  }

  /** Waits (at most 30 s) until no Spark job has run for 200 ms, so
    * background upkeep started by a fold does not spill into the next phase.
    */
  def awaitIdle(spark: SparkSession): Unit = {
    val st = spark.sparkContext.statusTracker
    val limit = System.nanoTime() + 30000000000L
    var idleSince = System.nanoTime()
    while (System.nanoTime() - idleSince < 200000000L && System.nanoTime() < limit) {
      if (st.getActiveJobIds().nonEmpty) idleSince = System.nanoTime()
      Thread.sleep(20)
    }
  }

  def deleteAndCreate(p: Path): Path = { deleteTree(p); Files.createDirectories(p) }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x))
      finally w.close()
    }

  /** A facade set up and warmed: constructed, serving, one write and one
    * read answered. The set-up the benchmark times.
    */
  def startFacade(mk: => HttpApi, warm: (HttpApi, Client) => Unit): (HttpApi, Int, Double) = {
    val t0 = System.nanoTime()
    val api = mk
    val port = api.start(0)
    warm(api, new Client(port))
    (api, port, (System.nanoTime() - t0) / 1e9)
  }
}
