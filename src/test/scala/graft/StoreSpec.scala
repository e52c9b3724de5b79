package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store.Store
import graft.tsdb.{Downsample, PreAgg}

/** Storage building blocks the engine composes: the time-partitioned
  * write's per-partition fan-out (S8), partition-drop retention (T9), the
  * raw↔agg routed read (A2/A4), series get-or-create (J2), the
  * series-expiry sweep, per-write TTL (T9) and the day-partitioned,
  * series-bucketed layout of the cold tier (S8).
  */
class StoreSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val tmp = Files.createTempDirectory("graft_store").toString
  private val series = Seq("event_type")

  private lazy val pts = Tables.points(spark, sfDir)
    .select("event_type", "ts_ms", "value")

  /** `pts` as plain day-partitioned parquet, shuffled into the
    * time-partitioned write shape ([[Store.repartitionForWrite]]).
    */
  private lazy val pointsPath: String = {
    val p = s"$tmp/points"
    Store.repartitionForWrite(
      pts.withColumn("day", to_date(timestamp_millis(col("ts_ms")))),
      "day", series)
      .write.partitionBy("day").parquet(p)
    p
  }

  test("S8 at scale: a day partition is written by multiple tasks") {
    // repartition(day) alone would collapse a whole day (~270 GB at
    // 100 TB/yr) into ONE writer task and one file; the (day,
    // series-hash) split key fans each day across `spark.graft.write
    // .splits` writers, bounded above by the split count.
    import scala.jdk.CollectionConverters._
    val files = Files.list(Paths.get(pointsPath, "day=2024-01-15"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq
    assert(files.size > 1, s"expected multi-task fan-out, got $files")
    assert(files.size <= Store.writeSplits(pts))
  }

  test("A2/A4: routed read over the stored agg matches the raw aggregate") {
    val aggPath = s"$tmp/agg_5m"
    Downsample(pts, series.map(col), col("ts_ms"), col("value"))
      .write.parquet(aggPath)
    // a mid-stream watermark, so a raw tail exists
    val midWm = 1705708800000L
    val agg = spark.read.parquet(aggPath)
      .select((series.map(col) :+ col("bucket_ms") :+ col("min") :+
        col("max") :+ col("avg") :+ col("count")): _*)
    val routed = PreAgg.routed(pts, agg, series, midWm)
    val merged = PreAgg.mergeBuckets(routed, series)
    val got = merged.select("event_type", "count").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = pts.groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("J2: series get-or-create is idempotent with stable hash ids") {
    val dimPath = s"$tmp/series_dim"
    val first = Store.upsertSeries(spark, dimPath,
      Tables.points(spark, sfDir), Seq("user_id", "event_type"))
    assert(first > 0)
    // same input again: nothing created
    val second = Store.upsertSeries(spark, dimPath,
      Tables.points(spark, sfDir), Seq("user_id", "event_type"))
    assert(second === 0L)
    val dim = spark.read.parquet(dimPath)
    assert(dim.count() === first)
    assert(dim.select("metric_id").distinct().count() === first) // no collisions
  }

  test("T9: retention drops whole day partitions, keeps the rest") {
    val cutoff = 1704844800000L // 2024-01-10
    val dropped = Store.applyRetention(pointsPath, cutoff)
    assert(dropped.toSet === (1 to 9)
      .map(d => f"day=2024-01-$d%02d").toSet)
    val left = spark.read.parquet(pointsPath)
    assert(left.count() ===
      pts.where(col("ts_ms") >= cutoff).count())
  }

  test("series-dim expiration: appends refresh, sweep drops expired only") {
    import spark.implicits._
    val dimPath = java.nio.file.Files
      .createTempDirectory("graft_expiry").toString + "/dim"
    // the refresh rows a fold appends: (metric_id, label, max ts + TTL).
    // The first batch at t=0 gives both series expiry 0 + 100s
    def refresh(rows: (Long, String, Long)*): Unit =
      rows.toDF("metric_id", "series", "expiration_ms")
        .write.mode("append").parquet(dimPath)
    refresh((1L, "A", 100000L), (2L, "B", 100000L))
    // series A writes again at t=200s → refreshed to 300s; B goes silent
    refresh((1L, "A", 300000L))
    // sweep at t=250s: B (expiry 100s) dropped, A (refreshed 300s) kept
    val dropped = Store.expireSeries(spark, dimPath, 250000L, Seq("series"))
    assert(dropped === 1L)
    val left = spark.read.parquet(dimPath).select("series")
      .collect().map(_.getString(0)).toSeq
    assert(left === Seq("A"))
    // sweep is idempotent
    assert(Store.expireSeries(spark, dimPath, 250000L, Seq("series")) === 0L)
  }

  test("T9: per-write TTL is max-merged per series before expiry") {
    import spark.implicits._
    // series A: writes carried TTLs 10s and 100s → effective 100s, so the
    // old point at ts=0 survives a now=50s cutoff; series B only ever got
    // 10s → both its points expire
    val pts = Seq(
      ("A", 0L, 10L), ("A", 40000L, 100L),
      ("B", 0L, 10L), ("B", 20000L, 10L))
      .toDF("series", "ts_ms", "ttl_sec")
    val kept = Store.ttlFilter(pts, Seq("series"), "ttl_sec", nowMs = 50000L)
      .select("series", "ts_ms").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(kept.toSet === Set(("A", 0L), ("A", 40000L)))
  }

  test("day-partitioned bucketed layout: appends land, the manifest " +
    "alone reads the generation back, per-series aggs stay " +
    "exchange-free, and day pruning holds") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_bday").toString
    val gen = s"$dir/g0"
    val spec = Store.BucketSpec(Seq("metric_id"), 8, Seq("metric_id", "ts_ms"))
    val raw = Tables.points(spark, "/root/testdata/sf0.001")
      .select(col("user_id").as("metric_id"), col("ts_ms"), col("value"))
    val (d1, d2) = (raw.where(col("ts_ms") < 1705276800000L),
      raw.where(col("ts_ms") >= 1705276800000L))
    // the manifest first, then appends into the generation — the spill
    // discipline
    Store.BucketSpec.write(gen, spec)
    Store.writeBucketedDays(d1, gen, spec,
      org.apache.spark.sql.SaveMode.Append, tasks = spec.n)
    Store.writeBucketedDays(d2, gen, spec,
      org.apache.spark.sql.SaveMode.Append, tasks = spec.n)
    // manifest round-trips
    assert(Store.BucketSpec.read(gen) === Some(spec))
    // one `day=` directory per day of data (January 1-30)
    val dayDirs = Files.list(Paths.get(gen)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("day=")).toSeq
    assert(dayDirs.size === 30, dayDirs)
    // every written file is bucket-named (the filename IS the bucket id)
    val written = Files.walk(Paths.get(gen)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq
    assert(written.nonEmpty && written.forall(_.matches(".*_\\d{5}\\..*")),
      written.take(3).toString)
    // the directory and its manifest are the whole table: no catalog
    val read = (g: String) =>
      Store.readBucketedDays(spark, g, raw.schema).get
    val t = read(gen)
    assert(t.count() === raw.count())
    // exchange-free per-series aggregation off the bucketed scan — the
    // whole point of persisting the spec (subset rule: the group keys
    // CONTAIN the bucket column)
    val agg = t.groupBy(col("metric_id"), col("ts_ms"))
      .agg(max(col("value")))
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
    // a physical change only: per-series downsampling off the bucketed
    // generation plans with no exchange either, and returns the same rows
    // as off the plain frame (min/max/count exactly; avg rounded, as its
    // add order may differ)
    def a1(src: DataFrame) =
      Downsample(src, Seq(col("metric_id")), col("ts_ms"), col("value"))
    val key = (df: DataFrame) => df
      .select(col("metric_id"), col("bucket_ms"), col("min"), col("max"),
        round(col("avg"), 6), col("count"))
      .collect().map(_.toString).sorted
    val bucketedA1 = a1(t)
    assert(!bucketedA1.queryExecution.executedPlan.toString
      .contains("Exchange"))
    assert(key(bucketedA1) === key(a1(raw)))
    // day partition pruning
    val pruned = t.where(col("day") === lit("2024-01-03").cast("date"))
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") || pruned.count() ===
      raw.withColumn("day", to_date(timestamp_millis(col("ts_ms"))))
        .where(col("day") === lit("2024-01-03").cast("date")).count())
    // hardlink compose: carry one day dir into a sibling generation,
    // bucket ids are filename-encoded so the carried files read as the
    // same buckets under the new generation's manifest
    val gen1 = s"$dir/g1"
    Files.createDirectories(Paths.get(gen1))
    val someDay = Files.list(Paths.get(gen)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("day=")).toSeq.sorted.head
    def linkTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      Files.createDirectories(dst)
      Files.list(src).iterator().asScala.foreach { f =>
        val tt = dst.resolve(f.getFileName.toString)
        if (Files.isDirectory(f)) linkTree(f, tt) else Files.createLink(tt, f)
      }
    }
    linkTree(Paths.get(gen, someDay), Paths.get(gen1, someDay))
    Files.copy(Paths.get(gen, "_SUCCESS"), Paths.get(gen1, "_SUCCESS"))
    Store.BucketSpec.write(gen1, spec)
    val t1 = read(gen1)
    assert(t1.count() ===
      spark.read.parquet(gen).where(col("day") ===
        lit(someDay.stripPrefix("day=")).cast("date")).count())
    val agg1 = t1.groupBy(col("metric_id")).agg(sum(col("value")))
    assert(!agg1.queryExecution.executedPlan.toString.contains("Exchange"))
  }
}
