package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.store.Tsdb
import graft.streaming.Prompb.PromSeries

/** The storage engine on its own, with no HTTP in the loop: writes,
  * strict and staleness-budgeted reads, a spilling fold with restart
  * recovery, stop-time pin reclaim, the cold tier's StaleNaN bits, a
  * read planned across a spilling fold, two stores in one session whose
  * paths share a hash, the identity verifier on a corrupted generation,
  * incremental pre-aggregation, and a seeded run of concurrent writers,
  * readers and upkeep.
  */
class TsdbSpec extends SparkSpec {

  private val T0 = 1704067200000L

  private def series(name: String, inst: String,
      vals: Seq[Double]): PromSeries =
    PromSeries(Map("__name__" -> name, "instance" -> inst, "job" -> "node"),
      vals.zipWithIndex.map { case (v, i) => (T0 + i * 60000L, v) })

  /** (name, instance, ts) → value, as a read with `staleness` serves it;
    * a duplicate key fails the read-back.
    */
  private def points(db: Tsdb, staleness: Option[Long] = None)
      : Map[(String, String, Long), Double] = {
    val rows = db.source(staleness = staleness).toSeq.flatMap(
      _.points.select("__name__", "instance", "ts_ms", "value").collect())
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getDouble(3))
    assert(rows.map(_._1).distinct.size === rows.size, rows)
    rows.toMap
  }

  private def expected(ss: PromSeries*): Map[(String, String, Long), Double] =
    ss.flatMap(s => s.samples.map { case (t, v) =>
      (s.labels("__name__"), s.labels("instance"), t) -> v }).toMap

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("cold").toString

  test("a write reads back exactly under a strict read") {
    val db = new Tsdb(spark)
    try {
      val a = series("tw", "a", Seq(1.0, 2.5, -3.0))
      val b = series("tw", "b", Seq(10.0, 20.0))
      assert(db.write(Seq(a, b), "default") === 5L)
      assert(points(db) === expected(a, b))
    } finally db.stop()
  }

  test("a budgeted read passes its staleness explicitly and is served " +
    "from pinned state without a drain") {
    val db = new Tsdb(spark, flushEveryPosts = 100) // nothing auto-flushes
    try {
      val a = series("tb", "a", Seq(1.0))
      val b = series("tb", "b", Seq(2.0))
      db.write(Seq(a), "default")
      db.drainFlushes()
      db.write(Seq(b), "default")
      assert(db.bufferedPosts === 1)
      val (stale0, _) = db.staleReadCounts
      assert(points(db, staleness = Some(3600000L)) === expected(a))
      assert(db.bufferedPosts === 1) // no drain
      assert(db.staleReadCounts._1 === stale0 + 1)
      // the default stays strict read-your-writes
      assert(points(db) === expected(a, b))
      assert(db.bufferedPosts === 0)
    } finally db.stop()
  }

  test("a full fold spills to the cold tier, and a restarted engine " +
    "serves the same answers") {
    val dir = tempDir("tsdb_restart")
    val a = series("tr", "a", Seq(1.0, 2.0, 3.0))
    val b = series("tr", "b", Seq(4.0, 5.0))
    val db = new Tsdb(spark, compactEvery = 1000000, durablePath = Some(dir))
    val before = try {
      db.write(Seq(a, b), "default")
      db.compact() // 2024 samples are past the 2 h horizon: all spill
      assert(db.pendingBatches === 0)
      (points(db), db.labelNamesFor("default", Long.MinValue, Long.MaxValue,
        Nil, Nil))
    } finally db.stop()
    assert(before._1 === expected(a, b))
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, "g0")))
    val db2 = new Tsdb(spark, durablePath = Some(dir))
    try {
      assert(points(db2) === before._1)
      assert(db2.labelNamesFor("default", Long.MinValue, Long.MaxValue,
        Nil, Nil) === before._2)
    } finally db2.stop()
  }

  test("stop() leaves no staged hot-fold dir") {
    // own session: the stage dir must not leak into other specs' stores
    val s2 = spark.newSession()
    val stage = java.nio.file.Files.createTempDirectory("tsdb-stage").toString
    s2.conf.set("graft.stage.dir", stage)
    def staged(): Seq[String] =
      Option(new java.io.File(stage).list()).toSeq.flatten.toSeq
    val db = new Tsdb(s2, compactEvery = 1000000)
    for (i <- 0 until 3) {
      db.write(Seq(series("ts", s"i$i", Seq(i.toDouble))), "default")
      db.drainFlushes()
    }
    db.compact()
    assert(staged().exists(_.startsWith("hot-fold-")), staged())
    db.stop()
    assert(!staged().exists(_.startsWith("hot-fold-")), staged())
  }

  test("a StaleNaN marker keeps its bits through the spill and the cold " +
    "rewrite") {
    val staleBits = 0x7ff0000000000002L
    val dir = tempDir("tsdb_stalenan")
    val db = new Tsdb(spark, compactEvery = 1000000, durablePath = Some(dir),
      hotRetainMs = 0L)
    try {
      db.write(Seq(series("sn", "a",
        Seq(1.0, java.lang.Double.longBitsToDouble(staleBits), 3.0))),
        "default")
      def coldBits(): Seq[Long] = db.source().get.points
        .where(col("__name__") === "sn").orderBy("ts_ms")
        .select("value").collect()
        .map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(0))).toSeq
      db.compact() // spills every sample
      assert(coldBits()(1) === staleBits, "after the spill")
      db.compactCold() // rewrites the generation
      assert(coldBits() === Seq(java.lang.Double.doubleToRawLongBits(1.0),
        staleBits, java.lang.Double.doubleToRawLongBits(3.0)),
        "after the cold rewrite")
    } finally db.stop()
  }

  test("a read built before a spilling fold counts every point once") {
    val dir = tempDir("tsdb_torn")
    val db = new Tsdb(spark, compactEvery = 1000000, durablePath = Some(dir))
    try {
      val a = series("tt", "a", Seq.tabulate(50)(_.toDouble))
      db.write(Seq(a), "default")
      db.compact() // round 1: the tier gets its cold generation
      val b = PromSeries(Map("__name__" -> "tt", "instance" -> "b",
        "job" -> "node"), Seq.tabulate(50)(i =>
        (T0 + 3600000L + i * 60000L, i.toDouble)))
      db.write(Seq(b), "default")
      val pts = db.source().get.points // planned, not run
      db.compact() // round 2: a clean spill of b's 50 points
      assert(pts.count() === 100L)
    } finally db.stop()
  }

  test("two stores whose paths share a String hash keep their cold tiers " +
    "apart and leave no session-catalog table behind") {
    val tmp = java.nio.file.Files.createTempDirectory("tsdb_collide")
    val (pa, pb) = (tmp.resolve("Aa").toString, tmp.resolve("BB").toString)
    assert(pa.hashCode === pb.hashCode)
    val tables = () => spark.catalog.listTables().collect().map(_.name).toSet
    val before = tables()
    val a = series("ca", "a", Seq.tabulate(10)(_.toDouble))
    val b = series("cb", "b", Seq.tabulate(10)(i => 100.0 + i))
    val dbA = new Tsdb(spark, compactEvery = 1000000, durablePath = Some(pa),
      hotRetainMs = 0L)
    val dbB = new Tsdb(spark, compactEvery = 1000000, durablePath = Some(pb),
      hotRetainMs = 0L)
    try {
      dbA.write(Seq(a), "default")
      dbA.compact()
      dbB.write(Seq(b), "default")
      dbB.compact()
      assert(points(dbA) === expected(a))
      assert(points(dbB) === expected(b))
    } finally {
      dbA.stop()
      dbB.stop()
    }
    val made = tables() -- before
    assert(made.isEmpty, made)
  }

  test("the verifier counts a metric_id that does not re-derive from its " +
    "labels and an id shared by two label sets") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.functions.{lit, map, xxhash64}
    import graft.store.Store
    val dir = tempDir("tsdb_verify")
    def labels(inst: String) = map(lit("__name__"), lit("tv"),
      lit("instance"), lit(inst), lit("job"), lit("node"))
    def idOf(inst: String) =
      xxhash64(graft.tsdb.SeriesDim.canonicalMap(labels(inst)))
    // a hand-built g0 in the engine's layout (bucket manifest first,
    // `value` as its raw bits): a is healthy, b's id is not its labels'
    // hash, and c carries a's id
    val rows = Seq((labels("a"), idOf("a"), T0), (labels("b"), lit(42L), T0),
      (labels("c"), idOf("a"), T0 + 60000L)).map { case (l, id, ts) =>
      spark.range(1).select(id.as("metric_id"), lit(ts).as("ts_ms"),
        l.as("labels"),
        lit(java.lang.Double.doubleToRawLongBits(1.0)).as("value"),
        lit(1L).as("__seq"), lit(3155760000L).as("__ttl_sec"))
    }.reduce(_.unionByName(_))
    val g0 = s"$dir/g0"
    val spec = Store.BucketSpec(Seq("metric_id"), 1, Seq("metric_id", "ts_ms"))
    Store.BucketSpec.write(g0, spec)
    Store.writeBucketedDays(rows, g0, spec, SaveMode.Append, tasks = spec.n)
    val db = new Tsdb(spark, durablePath = Some(dir))
    try {
      val report = db.indexVerify(strict = false).toMap
      assert(report("badIds") === 2L, report) // b, and c under a's id
      assert(report("idCollisions") === 1L, report) // a's id serves a and c
    } finally db.stop()
  }

  test("pre-aggregation over a spilled history is incremental: the same " +
    "end adds no file, a later end appends only the new buckets") {
    import org.apache.spark.sql.functions.sum
    val root = java.nio.file.Files.createTempDirectory("tsdb_preagg")
    val dir = root.resolve("cold").toString
    val day = 86400000L
    val step = 300000L
    // three days, one sample per 5-min bucket, all past the hot horizon
    val s = PromSeries(Map("__name__" -> "tp", "instance" -> "a",
      "job" -> "node"), (0 until 3 * 288).map(i => (T0 + i * step, i * 1.0)))
    val db = new Tsdb(spark, compactEvery = 1000000, durablePath = Some(dir))
    try {
      db.write(Seq(s), "default")
      db.compact() // spills all three days
    } finally db.stop()
    // drop the agg tier the spill's own pre-aggregation wrote: the
    // restarted engine's watermark starts at 0 behind a spilled history
    graft.store.Store.deleteRecursively(root.resolve("cold_agg5m"))
    val db2 = new Tsdb(spark, compactEvery = 1000000, durablePath = Some(dir))
    try {
      val gen = root.resolve("cold_agg5m").resolve("g0")
      def files(): Set[String] =
        if (!java.nio.file.Files.isDirectory(gen)) Set.empty
        else {
          val w = java.nio.file.Files.walk(gen)
          try w.iterator().asScala.map(_.toString)
            .filter(_.endsWith(".parquet")).toSet
          finally w.close()
        }
      assert(db2.preAggWatermark === 0L)
      assert(db2.preAggregate(T0 + day) === T0 + day)
      val first = files()
      assert(first.nonEmpty)
      // the same end again: the same watermark, and no file written
      assert(db2.preAggregate(T0 + day) === T0 + day)
      assert(files() === first)
      // a later end appends only the buckets in [T0 + day, T0 + 2 day)
      assert(db2.preAggregate(T0 + 2 * day) === T0 + 2 * day)
      val added = (files() -- first).toSeq
      assert(added.nonEmpty)
      val addedBuckets = spark.read.parquet(added: _*).select("bucket_ms")
        .collect().map(_.getLong(0))
      assert(addedBuckets.nonEmpty &&
        addedBuckets.forall(b => b >= T0 + day && b < T0 + 2 * day),
        addedBuckets.sorted.take(3).toSeq)
      // together: every bucket below the watermark once, one sample each
      val agg = spark.read.parquet(gen.toString)
      assert(agg.select("bucket_ms").collect().map(_.getLong(0)).sorted
        .toSeq === (0 until 2 * 288).map(i => T0 + i * step))
      assert(agg.agg(sum("count")).head().getLong(0) === 2L * 288)
    } finally db2.stop()
  }

  test("seeded writers, readers and upkeep: every strict read is " +
    "duplicate-free, holds every acknowledged point and only written " +
    "values") {
    val seed = sys.env.get("TSDB_SPEC_SEED").map(_.toLong)
      .getOrElse(System.nanoTime())
    info(s"seed $seed (rerun with TSDB_SPEC_SEED=$seed)")
    val rnd = new scala.util.Random(seed)
    val dir = tempDir("tsdb_concurrent")
    val db = new Tsdb(spark, compactEvery = 16, durablePath = Some(dir))
    type Key = (String, Long) // (instance, ts_ms)
    // every write is logged before it is sent (`sent`, with its value)
    // and once acknowledged (`acked`); a log position orders the events
    val clock = new java.util.concurrent.atomic.AtomicLong
    val sent = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Key, Double)]
    val acked = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Key)]
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val writersDone = new java.util.concurrent.CountDownLatch(2)
    val upkeepDone = new java.util.concurrent.CountDownLatch(1)
    val strictReads = new java.util.concurrent.atomic.AtomicInteger
    val posts = 40
    val perPost = 10
    // per thread: its own generator, drawn from the seed
    val seeds = Seq.fill(6)(rnd.nextLong())
    def guarded(name: String)(body: => Unit): Thread = {
      val t = new Thread(() =>
        try body catch { case e: Throwable => failures.add(s"$name: $e") },
        name)
      t.setDaemon(true)
      t
    }
    def writer(w: Int) = guarded(s"writer-$w") {
      val r = new scala.util.Random(seeds(w))
      try (0 until posts).foreach { i =>
        // fresh keys, or (one post in five) overwrites of earlier ones
        val keys = (0 until perPost).map { j =>
          val at = if (i > 0 && r.nextInt(5) == 0) r.nextInt(i) else i
          T0 + at * 6 * 3600000L + j * 1000L // 40 posts span 10 days
        }.distinct
        val samples = keys.zipWithIndex.map { case (ts, j) =>
          (ts, w * 1e6 + i * 100 + j) }
        val inst = s"w$w"
        samples.foreach { case (ts, v) =>
          sent.add((clock.incrementAndGet(), (inst, ts), v)) }
        db.write(Seq(PromSeries(Map("__name__" -> "cc", "instance" -> inst,
          "job" -> "node"), samples)), "default")
        samples.foreach { case (ts, _) =>
          acked.add((clock.incrementAndGet(), (inst, ts))) }
        Thread.sleep(r.nextInt(100))
      } finally writersDone.countDown()
    }
    def read(staleness: Option[Long]): Map[Key, Double] = {
      val rows = db.source(staleness = staleness).toSeq.flatMap(
        _.points.where(col("__name__") === "cc")
          .select("instance", "ts_ms", "value").collect())
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      val dups = rows.groupBy(_._1).collect { case (k, rs) if rs.size > 1 => k }
      if (dups.nonEmpty) failures.add(s"duplicate keys: ${dups.take(5)}")
      rows.toMap
    }
    def check(got: Map[Key, Double], start: Long, end: Long): Unit = {
      val missing = acked.iterator.asScala
        .collect { case (t, k) if t < start && !got.contains(k) => k }.toSeq
      if (missing.nonEmpty)
        failures.add(s"acknowledged points missing: ${missing.take(5)}")
      val written = sent.iterator.asScala.filter(_._1 < end)
        .map { case (_, k, v) => (k, v) }.toSet
      val unwritten = got.filterNot(written)
      if (unwritten.nonEmpty)
        failures.add(s"values never written: ${unwritten.take(5)}")
    }
    def reader(n: Int, staleness: Option[Long]) = guarded(s"reader-$n") {
      while (writersDone.getCount > 0 || upkeepDone.getCount > 0 ||
          strictReads.get < 6) {
        val start = clock.incrementAndGet()
        val got = read(staleness)
        val end = clock.incrementAndGet()
        if (staleness.isEmpty) {
          check(got, start, end)
          strictReads.incrementAndGet()
        } else check(got, Long.MinValue, end) // a budget may lag the acks
      }
    }
    // at least 8 upkeep steps, and more while the writers run
    val upkeep = guarded("upkeep") {
      val r = new scala.util.Random(seeds(5))
      var steps = 0
      try while (writersDone.getCount > 0 || steps < 8) {
        r.nextInt(3) match {
          case 0 => db.compact()
          case 1 => db.compactCold()
          case _ => db.preAggregate(System.currentTimeMillis())
        }
        steps += 1
        Thread.sleep(r.nextInt(200))
      } finally upkeepDone.countDown()
    }
    val threads = Seq(writer(0), writer(1), reader(2, None),
      reader(3, None), reader(4, Some(200L)), upkeep)
    val t0 = System.nanoTime()
    try {
      threads.foreach(_.start())
      threads.foreach(_.join(120000L))
      assert(threads.forall(!_.isAlive), "a thread did not finish")
      val end = clock.incrementAndGet()
      check(read(None), end, end)
      assert(failures.isEmpty, s"seed $seed: ${failures.asScala.take(5)}")
      info(f"${strictReads.get} strict reads in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    } finally db.stop()
  }
}
