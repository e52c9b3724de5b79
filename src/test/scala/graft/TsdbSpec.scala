package graft

import org.apache.spark.sql.functions.col

import graft.store.Tsdb
import graft.streaming.Prompb.PromSeries

/** The storage engine on its own, with no HTTP in the loop: writes,
  * strict and staleness-budgeted reads, a spilling fold with restart
  * recovery, stop-time pin reclaim, and the cold tier's StaleNaN bits.
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
}
