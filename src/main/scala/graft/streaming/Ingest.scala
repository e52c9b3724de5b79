package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured-Streaming ingest path (SURVEY §2.8). The reference buffers
  * 15 min of points per metric with hand-rolled ownership/flush machinery
  * (`batch/batch.go`); under Spark that whole layer is a `readStream` →
  * watermark → windowed aggregate → sink, with exactly-once from
  * checkpointing instead of ownership locks (T1-T5, T10 disappear).
  */
object Ingest {

  /** The ingest projection applied to every incoming sample (reference:
    * `api/remotestorage/write.go:80-137`): tenant injection and validation
    * (empty label values dropped, `write.go:219-231`).
    */
  def ingestProjection(df: DataFrame, tenant: String): DataFrame =
    df
      .withColumn("tenant", lit(tenant))
      .where(col("event_type").isNotNull && col("event_type") =!= "")

  /** The ingest projection for label-MAP rows (the wire-decode output
    * shape): reference validation (`api/remotestorage/write.go:182-216`
    * with `types.PrometheusValidationScheme = model.UTF8Validation`,
    * `types/types.go:197`) — label names and the metric-name VALUE may be
    * ANY valid UTF-8 without `'|'`; empty-valued labels are dropped from
    * the set, samples without a `__name__` are rejected — then the tenant
    * label is injected (overwriting any client-supplied value,
    * `write.go:80-109`), and the series key is the canonical-map hash,
    * identical to what column-labeled tables produce for the same label
    * set.
    *
    * C0 control characters are additionally rejected: the canonical
    * series encoding uses them as separators, so a name embedding one
    * could forge another series' identity (the reference's
    * `labels.String()` quoting makes the same byte sequences
    * unambiguous).
    */
  /** Name validity (UTF-8 without '|' or C0 controls), expressed as a
    * containment BAN rather than an anchored allow: `rlike` is a regex
    * FIND and `$` matches before a FINAL line terminator, so the old
    * `"^[^|\\x00-\\x1F]+$"` accepted names ending in "\n"/"\r" on the
    * executors while the driver-side `matches()` mirror rejected them
    * (ADVICE r8) — the two mirrors now share one rule.
    */
  private val InvalidNameChars = "[|\\x00-\\x1F]"

  def validName(k: Column): Column =
    k.isNotNull && k =!= "" && !k.rlike(InvalidNameChars)

  /** Driver-side mirror of [[validName]], byte-for-byte equivalent. */
  def validNameStr(s: String): Boolean =
    s != null && s.nonEmpty && !s.exists(c => c == '|' || c < ' ')

  def ingestLabeled(df: DataFrame, tenantLabel: String,
      tenant: String): DataFrame = {
    val cleaned = map_filter(col("labels"),
      (_, v) => v.isNotNull && v =!= "")
    val validNames = forall(map_keys(col("labels")),
      k => validName(k))
    // label VALUES may be any UTF-8 — except the canonical encoding's
    // separator bytes (U+0000–U+0003): a value embedding one could forge
    // another label set's metric_id (same rationale as the name rule)
    val validValues = forall(map_values(col("labels")),
      v => !v.rlike("[\\x00-\\x03]"))
    df
      .where(validNames && validValues)
      .withColumn("labels",
        map_concat(
          map_filter(cleaned, (k, _) => k =!= tenantLabel),
          map(lit(tenantLabel), lit(tenant))))
      .where(validName(element_at(col("labels"), "__name__")))
      .withColumn("metric_id",
        xxhash64(graft.tsdb.SeriesDim.canonicalMap(col("labels"))))
  }

  /** Future-point backdating, batch-granular like the reference
    * (`api/fake_remote_writer.go:236-285`, `backdateSeries`): if ANY sample
    * in the batch is at/after `nowMs + thresholdMs`, ALL samples in the
    * batch are shifted back by the fixed `offsetMs` — preserving relative
    * ordering within and across series. The trigger is a one-row aggregate
    * broadcast back over the batch (no global window, no driver collect),
    * so the decision scales to arbitrarily large batches.
    */
  def backdateBatch(df: DataFrame, thresholdMs: Long, offsetMs: Long,
      nowMs: Long): DataFrame = {
    val trip = df.agg(max(col("ts_ms")).as("__max_ts"))
    df.crossJoin(broadcast(trip))
      .withColumn("ts_ms",
        when(col("__max_ts") >= nowMs + thresholdMs, col("ts_ms") - offsetMs)
          .otherwise(col("ts_ms")))
      .drop("__max_ts")
  }

  /** Stream the events parquet through a watermarked 5-min windowed
    * aggregate into an in-memory sink, synchronously (AvailableNow); returns
    * the final aggregate. Complete output mode so the result equals the
    * batch group-by — which is exactly what the correctness oracle checks.
    */
  def windowedCounts(spark: SparkSession, dir: String, name: String): DataFrame = {
    // State-store partition count, scoped to THIS streaming query: the
    // aggregation state is (window × event_type) — dimension-bounded at
    // any ingest volume, and the state shuffle carries map-side-combined
    // partials, not raw events — so core-count state partitions buy no
    // parallelism and cost core-count state-store commits (+ provider
    // files) per micro-batch: the dominant term of a small batch
    // (measured r16/r17 at sf0.1: 32 → 4 partitions = 2.08 → 1.68 s).
    // The query runs on a child session carrying that setting; a query
    // fixes its conf at start, and the caller's session — shared with
    // whatever else runs meanwhile — is never touched.
    org.apache.spark.sql.graftshim.SessionShim.withChild(spark,
        "spark.sql.shuffle.partitions" -> "4") { child =>
      val static = child.read.parquet(s"$dir/events.parquet")
      // The file-stream source lists a DIRECTORY. Driver testdata ships
      // events.parquet as a single FILE — expose it through a temp dir of
      // symlinks; a Spark-written dataset (ScaleGen's sf1) is already a
      // directory and streams directly (the symlink-to-directory form
      // would list ZERO files: the source does not recurse through it).
      val src = java.nio.file.Paths.get(s"$dir/events.parquet")
      val streamDir: Option[java.nio.file.Path] =
        if (java.nio.file.Files.isDirectory(src)) None
        else {
          val d = java.nio.file.Files.createTempDirectory("graft_stream")
          java.nio.file.Files.createSymbolicLink(
            d.resolve("events.parquet"), src)
          Some(d)
        }
      val stream = child.readStream
        .schema(static.schema)
        .parquet(streamDir.map(_.toString).getOrElse(src.toString))
        .withColumn("ts_ms", graft.Tables.tsMs(static))
        .withColumn("ts_utc", timestamp_millis(col("ts_ms")))
      val agg = stream
        .withWatermark("ts_utc", "8 hours") // reference MaxPastDelay, aggregate.go:48
        .groupBy(window(col("ts_utc"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("sum_value"))
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // Materialize and fully detach from streaming machinery: the memory
      // sink + state-store listeners otherwise keep degrading every later
      // batch query in the session (observed: 2.8s → 230s on a follow-up
      // 500-row projection).
      // The sink's view lives in the child session; the result is pinned
      // in the CALLER's, so later queries over it plan with the caller's
      // conf.
      val sink = child.table(name)
        .select(
          unix_millis(col("window.start")).as("bucket_ms"),
          col("event_type"), col("n"), col("sum_value"))
      val out = spark.createDataFrame(sink.rdd, sink.schema)
        .localCheckpoint(true)
      child.catalog.dropTempView(name)
      q.stop() // release source/sink resources beyond termination
      org.apache.spark.sql.graftshim.ListenerShim.releaseQuerySession(q)
      child.streams.resetTerminated()
      // unload state-store providers + their maintenance thread — the last
      // streaming residue that can tax later batch queries in the session
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      // the symlink dir (single-file sources only) was only needed while
      // the source listed it
      streamDir.foreach { d =>
        java.nio.file.Files.deleteIfExists(d.resolve("events.parquet"))
        java.nio.file.Files.deleteIfExists(d)
      }
      out
    }
  }
}
