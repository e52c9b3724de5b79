package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.BindParams

/** Table loaders over the driver-generated parquet test data.
  *
  * The time-series "fact" table is `events` (event_id, ts, user_id,
  * event_type, value, props). It plays the role of the reference's points
  * table (reference: `types/metric.go:34-43` — MetricPoint{Timestamp,Value}
  * grouped per MetricID). A series identity here is the label set
  * {user_id, event_type}; see [[tsdb.SeriesDim]] for the id↔labels mapping
  * (reference: `cassandra/index/index.go:4091-4108`).
  *
  * `events.ts` arrives as parquet TIMESTAMP(NANOS) (read as a LongType of
  * nanoseconds under `spark.sql.legacy.parquet.nanosAsLong=true`, set in
  * [[GraftSession]]) or TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ) depending
  * on the generator version — [[tsMs]] normalizes either. All operators
  * work on `ts_ms` (epoch milliseconds), matching the reference's ms
  * timestamps.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Scan-parallelism floor for small single-row-group corpora
    * (optimization guide §2.5 "input skew: one huge unsplittable file …
    * otherwise repartition immediately after the read"): parquet cannot
    * split inside a row group, so a gate-scale corpus arrives as ONE scan
    * task — and for the text/vector pipelines ALL the expensive per-row
    * derivation (shingle digests, MinHash permutations, ordered vector
    * folds, regex features) lives in that scan stage, single-core while
    * the rest of the machine idles (measured r16: x18's bigram-tf pin ran
    * 1.76 s in one task on 32 cores; d4's candidate chain 2.2 s in 3).
    *
    * Scale-adaptive, not a local[32] constant: the exchange is inserted
    * only when the file is too small for the scan to reach core-count
    * parallelism by splitting (bytes < defaultParallelism ×
    * files.maxPartitionBytes) — a production-scale input (many files /
    * row groups) takes the unchanged zero-exchange path — and large
    * enough to matter (≥ 32 KB; broadcast dims stay exchange-free; the
    * floor is BELOW the gate-SF corpora deliberately, so the sf0.001/
    * sf0.01 oracle gates execute the same spread plan shape the sf0.1
    * bench times). The
    * width is `defaultParallelism`, so the driver's lower-core bench run
    * spreads to ITS core count, not a tuned constant. The round-robin
    * repartition is retry-safe (sortBeforeRepartition, Spark default)
    * and every downstream operator is order-independent by the engine's
    * cross-engine-exactness discipline, so results are bit-identical.
    */
  /** Total bytes of a table's parquet path; Long.MaxValue when the
    * listing fails (unknown size reads as "big" — every size gate then
    * takes its conservative large-input branch). NonFatal only: an OOM
    * or interrupt must not masquerade as a silent no-spread fallback.
    */
  private[graft] def tableBytes(spark: SparkSession, dir: String,
      name: String): Long =
    try {
      val hp = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
      fs.getContentSummary(hp).getLength
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"tableBytes($dir/$name.parquet) failed - size gates take " +
            s"the large-input branch: $e")
        Long.MaxValue
    }

  /** The byte window where a repartition after the read is the only way
    * to core-count parallelism: big enough to matter, too small for
    * splitting to get there (parquet cannot split inside a row group).
    */
  private[graft] def narrowScanRegime(spark: SparkSession,
      bytes: Long): Boolean = {
    val cores = spark.sparkContext.defaultParallelism
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    bytes >= 32L * 1024 && bytes < cores.toLong * maxSplit
  }

  private def spreadSmallScan(spark: SparkSession, dir: String,
      name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (narrowScanRegime(spark, tableBytes(spark, dir, name)))
      df.repartition(spark.sparkContext.defaultParallelism)
    else df
  }

  /** `ts` → epoch milliseconds, floored — exactly DuckDB's
    * `epoch_ns(ts)//1000000` under EITHER physical representation the
    * driver has generated: parquet TIMESTAMP(NANOS) read as a LongType of
    * nanoseconds (`nanosAsLong`), or TIMESTAMP(MICROS) read as
    * TIMESTAMP_NTZ (the NTZ→LTZ cast is value-preserving in the UTC
    * session every entry point pins).
    */
  def tsMs(df: DataFrame): org.apache.spark.sql.Column =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000000")
      case _ => expr("unix_micros(cast(ts as timestamp)) div 1000")
    }

  /** events normalized to the engine's point schema:
    * (event_id, user_id, event_type, ts_ms long, value double).
    */
  def points(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    ev.withColumn("ts_ms", tsMs(ev))
      .select("event_id", "user_id", "event_type", "ts_ms", "value")
  }

  /** [[points]] with the scan-parallelism floor — for the ONE events
    * consumer whose scan-stage derivation dominates (e2e's wire
    * collect_list partial aggregate ran 354 ms in one task on 32 cores
    * in an r17 job profile; VERDICT.md records the magnitude as
    * unverified). The tsdb/promql grid families measured the spread
    * as a ×1.4-2.4 LOSS (r16) because each of their several pts()
    * branches re-pays the exchange; e2e consumes points exactly once.
    */
  def pointsWide(spark: SparkSession, dir: String): DataFrame = {
    val ev = spreadSmallScan(spark, dir, "events")
    ev.withColumn("ts_ms", tsMs(ev))
      .select("event_id", "user_id", "event_type", "ts_ms", "value")
  }

  def documents(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")

  /** [[documents]] with the scan-parallelism floor — for operators whose
    * scan-stage derivation dominates their cost (measured r16: the d2-d12
    * LSH/verify chain and the exploding text aggregates x12/x13/x18/x19/
    * x22 ran ×0.24-0.66 with the spread). Operators that are
    * iteration-heavy or whose scans are cheap (x11/x16/x17, the
    * embeddings family) REGRESSED under a blanket spread — the extra
    * exchange and 32-way task scheduling outweigh the scan win — so the
    * spread is opt-in per operator, not ambient on the table.
    */
  def documentsWide(spark: SparkSession, dir: String): DataFrame =
    spreadSmallScan(spark, dir, "documents")

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")
}

/** Session factory with the configuration every entry point shares.
  * 32 shuffle partitions to match local[32]; AQE on so skewed shuffles
  * re-plan at runtime (on a real cluster this is the skew-join safety net).
  */
object GraftSession {
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      // Spark 4 defaults lower()/upper() to ICU case mappings; the first
      // use pays a minutes-long interpreted static init of
      // CollationAwareUTF8String (observed: a 500-row lower()+regex
      // projection stalling 2-4 min with all tasks blocked on the clinit).
      // JVM case mapping is identical for this engine's data and matches
      // the DuckDB oracle.
      .config("spark.sql.icu.caseMappings.enabled", "false")
      // the default 100-entry codegen class cache thrashes on a
      // multi-query session: any ~30+-stage workload (the bench suite,
      // a dashboard-serving facade) evicts every other query's
      // generated classes and pays the janino compile again on EVERY
      // run — measured at sf0.1: e2e_stream_slice 3.33 → 1.79 s and
      // d7 4.73 → 3.56 s min-of-3 when run AFTER other queries, with
      // identical plans. 5000 entries covers the whole suite;
      // ReservedCodeCacheSize=1g (run_verify.sh / build.sbt) holds the
      // compiled code comfortably.
      // Caveat: Spark builds that cache ONCE per JVM, sized from
      // `SQLConf.get` on whichever thread compiles first, and a thread
      // with no active session reads Spark's default there, not this.
      // A facade whose first compile ran on its flusher thread measured
      // a 100-entry cache; HttpApi therefore runs every thread it owns
      // with the session active (see its scaladoc), and any other
      // embedding thread that may compile first must do the same.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // plan constants become references, not Java literals, so a query
      // re-run with new bounds (a dashboard refresh) reuses its compiled
      // classes instead of compiling new ones (graft.functions.Param)
      .withExtensions(_.injectQueryStagePrepRule(_ => BindParams))
      .config("spark.ui.enabled", "false")
      // the app-status store populates even with the UI off, and its
      // DEFAULTS are sized for a human browsing a UI, not a long-lived
      // facade: 1000 retained SQL executions × (plan graph + plan
      // string) — multi-MB each for deep hot-union plans — plus 1000
      // jobs/stages with per-task metric maps. The r13 hour soak OOMed
      // a 12 GiB heap in 15 min at ~10 jobs/s from exactly this
      // retention; a serving facade needs a status WINDOW, not a
      // status ARCHIVE.
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.explainMode", "simple")
      // transient checkpoint/cache blocks whose RDDs died are reclaimed
      // by the ContextCleaner only after a DRIVER GC exposes the weak
      // refs — on a large heap that can take the default 30 min
      // periodicGC interval, during which dead blocks squat on storage
      // memory (a long-lived facade folds/pins continuously; the r13
      // soak's heap death curve tracked exactly this lag)
      .config("spark.cleaner.periodicGC.interval", "3min")

  def local(cores: Int = 32): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cores]").appName("graft"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
