package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.store.Store
import graft.tsdb.{Downsample, PreAgg}

/** Storage layout: partitioned write (S8), partition-drop retention (T9),
  * and the incremental pre-aggregation job with watermark (A5/S9), wired
  * into the raw↔agg routed read (A2/A4).
  */
class StoreSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val tmp = Files.createTempDirectory("graft_store").toString
  private lazy val pointsPath = s"$tmp/points"
  private lazy val aggPath = s"$tmp/agg_5m"
  private val series = Seq("event_type")

  private lazy val pts = Tables.points(spark, sfDir)
    .select("event_type", "ts_ms", "value")

  test("S8: write is date-partitioned; day directories exist") {
    Store.writePoints(pts, pointsPath, series)
    val days = Files.list(Paths.get(pointsPath)).iterator()
    var names = List.empty[String]
    while (days.hasNext) names ::= days.next().getFileName.toString
    assert(names.count(_.startsWith("day=2024-01-")) === 30)
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

  test("read prunes partitions and preserves every row in range") {
    val from = 1704844800000L // 2024-01-10
    val to = 1705708799999L // 2024-01-19 end
    val got = Store.readPoints(spark, pointsPath, from, to).count()
    val want = pts.where(col("ts_ms").between(from, to)).count()
    assert(got === want && got > 0)
    // and the physical plan only lists the matching day partitions
    val plan = Store.readPoints(spark, pointsPath, from, to)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
  }

  test("A5: pre-agg job is incremental and watermarked") {
    val wm1 = Store.runPreAggJob(spark, pointsPath, aggPath, series,
      1705708800000L) // 2024-01-20
    assert(wm1 === 1705708800000L)
    val n1 = spark.read.parquet(aggPath).count()
    assert(n1 > 0)
    // re-run with the same end: no-op
    val wm2 = Store.runPreAggJob(spark, pointsPath, aggPath, series,
      1705708800000L)
    assert(wm2 === wm1)
    assert(spark.read.parquet(aggPath).count() === n1)
    // advance: only the new window is appended
    val wm3 = Store.runPreAggJob(spark, pointsPath, aggPath, series,
      1706659200000L) // 2024-01-31
    assert(wm3 === 1706659200000L)
    val all = spark.read.parquet(aggPath)
    // stored agg == downsampling everything in one go
    val direct = Downsample(pts, series.map(col), col("ts_ms"), col("value"))
    assert(all.count() === direct.count())
    val merged = all.groupBy("event_type")
      .agg(sum("count").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = pts.groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged === want)
  }

  test("A2/A4: routed read over the stored agg matches the raw aggregate") {
    val wm = Store.readWatermark(aggPath)
    // simulate a mid-stream watermark: use a past one so a raw tail exists
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
    assert(wm === 1706659200000L)
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

  test("index verifier: clean store reports zero; corruption is detected") {
    val dimPath = s"$tmp/series_dim"
    val points = Tables.points(spark, sfDir)
    val dim = spark.read.parquet(dimPath)
    val clean = Store.verifyIndex(points, dim,
      Seq("user_id", "event_type"))
    assert(clean === Store.IndexReport(0L, 0L, 0L))
    // corrupt: drop some series and alias one id to a different label-set
    import org.apache.spark.sql.functions._
    val broken = dim.where(col("user_id") =!= 1L)
      .unionByName(dim.limit(1).withColumn("event_type", lit("hacked")))
    val r = Store.verifyIndex(points, broken, Seq("user_id", "event_type"))
    assert(r.orphanPoints > 0L)
    assert(r.idCollisions === 1L)
    // the aliased row also fails the canonical round-trip (its stored id
    // no longer derives from its labels)
    assert(r.badIds === 1L)
    assert(!r.healthy)
    // a duplicated registration is counted
    val dup = Store.verifyIndex(points,
      dim.unionByName(dim.limit(1)), Seq("user_id", "event_type"))
    assert(dup.duplicateLabelSets === 1L)
    // --fix rebuilds a dim that verifies clean: dups collapsed, ids
    // re-derived, orphans re-registered
    val fixed = Store.fixIndex(points, broken.unionByName(dim.limit(1)),
      Seq("user_id", "event_type"))
    val after = Store.verifyIndex(points, fixed, Seq("user_id", "event_type"))
    assert(after.healthy, after.toString)
  }

  test("index verifier: strict expiration flags past-due series") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dimPath = s"$tmp/verify_exp_dim"
    val batch = Seq((5L, "click", 1000L), (6L, "view", 2000L))
      .toDF("user_id", "event_type", "ts_ms")
    Store.refreshSeriesExpiry(spark, dimPath, batch,
      Seq("user_id", "event_type"), ttlSec = 60L)
    val dim = spark.read.parquet(dimPath)
    val pts = batch
    // before the TTL horizon: consistent
    assert(Store.verifyIndex(pts, dim, Seq("user_id", "event_type"),
      nowMs = Some(1000L)).expiredButPresent === 0L)
    // after: both series are past-due but still registered — the exact
    // drift the reference's cassandraExpire sweep + strict verify catch
    val late = Store.verifyIndex(pts, dim, Seq("user_id", "event_type"),
      nowMs = Some(10_000_000L))
    assert(late.expiredButPresent === 2L)
    assert(!late.healthy)
  }

  test("T9: retention drops whole day partitions, keeps the rest") {
    val cutoff = 1704844800000L // 2024-01-10
    val dropped = Store.applyRetention(pointsPath, cutoff)
    assert(dropped.toSet === (1 to 9)
      .map(d => f"day=2024-01-$d%02d").toSet)
    val left = Store.readPoints(spark, pointsPath, 0L, 4102444800000L)
    assert(left.count() ===
      pts.where(col("ts_ms") >= cutoff).count())
  }

  test("series-dim expiration: appends refresh, sweep drops expired only") {
    import spark.implicits._
    val dimPath = java.nio.file.Files
      .createTempDirectory("graft_expiry").toString + "/dim"
    // first batch at t=0: both series get expiry 0 + 100s
    val b1 = Seq(("A", 0L), ("B", 0L)).toDF("series", "ts_ms")
    Store.refreshSeriesExpiry(spark, dimPath, b1, Seq("series"), ttlSec = 100L)
    // series A writes again at t=200s → refreshed to 300s; B goes silent
    val b2 = Seq(("A", 200000L)).toDF("series", "ts_ms")
    Store.refreshSeriesExpiry(spark, dimPath, b2, Seq("series"), ttlSec = 100L)
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

  test("series-bucketed layout: per-series aggregation plans with NO " +
    "exchange and returns the same rows as the plain layout") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketed")
    val pts = Tables.points(spark, "/root/testdata/sf0.001")
    Store.writeBucketedPoints(pts, "spec_events_bucketed",
      s"$dir/events_bucketed", Seq("user_id", "event_type"), 8,
      Seq("user_id", "event_type", "ts_ms"))
    def a1(src: org.apache.spark.sql.DataFrame) =
      graft.tsdb.Downsample(src, Seq(col("user_id"), col("event_type")),
        col("ts_ms"), col("value"))
    val bucketed = a1(spark.table("spec_events_bucketed"))
    // the clustering requirement is satisfied off the bucketed scan —
    // the shuffle the r14 sf1000 probe measured spilling 97 GB at 1B
    // events simply does not exist in this plan
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // physical change only: same rows as the plain-layout aggregate
    // (min/max/count exactly; avg through the same single-partition add
    // order per group here, so the full row compares equal at this size)
    val plain = a1(pts)
    val key = (df: org.apache.spark.sql.DataFrame) => df
      .select(col("user_id"), col("event_type"), col("bucket_ms"),
        col("min"), col("max"), round(col("avg"), 6), col("count"))
      .collect().map(_.toString).sorted
    assert(key(bucketed) === key(plain))
    spark.sql("DROP TABLE IF EXISTS spec_events_bucketed")
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
