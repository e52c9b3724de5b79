package graft

/** Plan-shape regression tests: the properties that keep these operators
  * viable at 100 TB — filters reaching the parquet scan, dimension joins
  * broadcasting, and grid evaluation compiling to explode+hash-aggregate
  * instead of a broadcast nested-loop join. `.explain` output is asserted
  * so a refactor that silently degrades the plan fails here, not on a
  * cluster.
  */
class PlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("s4 raw scan pushes id + time filters into the parquet scan") {
    val p = plan("s4_raw_scan")
    // a NON-EMPTY pushed-filter list naming the id column
    assert(p.contains("In(user_id"), p)
    // no shuffle at all for a pure scan+filter
    assert(!p.contains("Exchange hashpartitioning"))
  }

  test("matcher predicates stay pushable (no coalesce wrapper)") {
    val p = plan("f1_matchers")
    assert(p.contains("In(event_type"), p)
  }

  test("j1 dimension join broadcasts the series dim") {
    val p = plan("j1_points_join_series")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("tpch_q5 uses broadcast joins for dims, never a cartesian product") {
    val p = plan("tpch_q5_region_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("grid evaluation (w1/w2/rate) has no broadcast nested-loop join") {
    for (q <- Seq("w1_instant_lookback", "w2_range_agg", "w3_rate_1h")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q compiled to a nested-loop grid join")
      assert(p.contains("Generate explode"), s"$q lost the step explode")
    }
  }

  test("downsample is a single partial+final hash aggregate") {
    val p = plan("a1_downsample_5m")
    // one shuffle: exactly one hashpartitioning exchange
    val shuffles = "Exchange hashpartitioning".r
      .findAllMatchIn(p).length
    assert(shuffles === 1, s"expected 1 shuffle, plan:\n$p")
    assert(p.contains("HashAggregate"))
  }

  test("sessionize shares ONE user-key shuffle across both windows and " +
    "the session aggregate") {
    val p = plan("q2_sessionize")
    val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(p).length
    assert(shuffles === 1, s"expected 1 shuffle, plan:\n${p.take(1500)}")
    assert(p.contains("Window"))
  }

  test("rollup pricing evaluates all grouping levels in one Expand + " +
    "hash-agg pass over a single shuffle") {
    val p = plan("q5_rollup_pricing")
    assert(p.contains("Expand"), p.take(1500))
    val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(p).length
    assert(shuffles === 1, s"expected 1 shuffle, plan:\n${p.take(1500)}")
  }

  test("decontaminate: the benchmark shingle set joins as the semi-join " +
    "build side; no cartesian") {
    val p = plan("d8_decontaminate")
    assert(p.contains("LeftSemi"), p.take(1500))
    assert(!p.contains("CartesianProduct"))
  }

  test("jaccard verify: corpus reduces through a semi-join on pair " +
    "members (no forced broadcast); no exploded-shingle shuffle") {
    val df = SparkEntry.queries("d4_jaccard_verify")(spark, sfDir)
    // candidate-member reduction BEFORE shingle computation, with NO
    // static hint — on a duplication-heavy corpus the member set
    // approaches corpus size and a forced broadcast would OOM the driver
    assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"),
      df.queryExecution.analyzed.toString.take(1500))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"), p.take(1500))
    // the intersection is a per-pair array op, not a corpus-wide
    // (doc, shingle) shuffle join + count aggregate
    assert(p.contains("array_intersect"), p.take(1500))
    assert(!p.contains("CartesianProduct"))
    // ...and AQE still broadcasts the LSH-bounded member set here
    df.collect()
    assert(df.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
  }

  test("LSH banding is a pure projection (no collect_list aggregate)") {
    // lshBucketsDirect computes band digests in the minhash projection;
    // the long-format explode -> collect_list groupBy (an extra shuffle
    // of k rows per document) must not reappear in the candidate chain
    val p = plan("d3_lsh_candidates")
    assert(!p.contains("collect_list"), p.take(2000))
  }

  test("vector-vector binops broadcast only aggregate-bounded sides") {
    import org.apache.spark.sql.functions._
    val pts = Tables.points(spark, sfDir)
      .groupBy("event_type", "ts_ms")
      .agg(max_by(col("value"), col("event_id")).as("value"))
    val src = graft.promql.PromSource(pts, Seq("event_type"), {
      case "__name__" => lit("events")
      case "event_type" => col("event_type")
    })
    val p = graft.promql.EvalParams(1704067200000L, 1706659200000L, 3600000L)
    // raw selector / raw selector: NO broadcast hint — AQE decides from
    // runtime sizes (the r2 unconditional broadcast could OOM the driver)
    val raw = graft.promql.Compiler
      .compile("events / events", src, p)
      .queryExecution.optimizedPlan.toString
    assert(!raw.contains("ResolvedHint"),
      s"raw-selector RHS must not carry a broadcast hint:\n$raw")
    // aggregate RHS: the bounded side IS hinted for broadcast
    val agg = graft.promql.Compiler
      .compile("events / sum by (event_type) (events)", src, p)
      .queryExecution.executedPlan.toString
    assert(agg.contains("BroadcastHashJoin"),
      s"aggregate RHS should broadcast:\n$agg")
  }

  test("f6 negative matchers compile to plain column predicates (no map)") {
    val p = plan("f6_matchers_negative")
    // the r2 form allocated a map per row; resolved columns must not
    assert(!p.contains("map_from_arrays") && !p.toLowerCase.contains("map("),
      s"f6 must not build a per-row label map:\n$p")
  }

  test("no registered query plans an unbroadcast cartesian product") {
    // t1 drives a streaming query (side effects); j1 writes its dim —
    // both excluded from this pure plan sweep
    val skip = Set("t1_stream_window", "j1_points_join_series")
    for ((name, fn) <- SparkEntry.queries if !skip(name)) {
      val p = fn(spark, sfDir).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$p")
    }
  }

  test("t1 streams on a child session: its state store runs 4 partitions " +
    "while the caller's conf stays identical at every stage submitted, " +
    "and the result is bound to the caller's session") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerStageSubmitted}
    import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
    import org.apache.spark.sql.streaming.StreamingQueryProgress
    // a caller whose own shuffle width is not the state store's 4
    val caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "7")
    val before = caller.conf.getAll
    val drift = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val progress =
      new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet()
        val now = caller.conf.getAll
        (now.keySet ++ before.keySet)
          .filter(k => now.get(k) != before.get(k)).foreach(drift.add)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: QueryProgressEvent => progress.add(p.progress)
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val out = try {
      val df = SparkEntry.queries("t1_stream_window")(caller, sfDir)
      assert(df.count() > 0)
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 10L * 1000000000L
      while ((progress.isEmpty || stages.get == 0) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      df
    } finally spark.sparkContext.removeSparkListener(listener)
    val last = progress.toArray(Array.empty[StreamingQueryProgress])
      .filter(_.name == "t1_stream_window_sink").last
    assert(last.stateOperators(0).numShufflePartitions === 4)
    assert(stages.get > 0)
    assert(drift.isEmpty, s"caller conf changed while t1 ran: $drift")
    assert(caller.conf.getAll === before)
    assert(out.sparkSession eq caller)
  }

  test("repeated t1 runs reuse their child session: each run adds no " +
    "streaming-query bus to the context's listener bus beyond the one " +
    "of Spark's own per-query session clone") {
    import scala.jdk.CollectionConverters._
    // a session's first use of its stream manager registers that
    // manager's query-listener bus on the context's shared bus for good
    // (counted by reflection: the bus is private to Spark). Every
    // streaming query runs on its own clone of the session it started
    // on, which adds one per run unless it is released when the query
    // ends; a child cloned per run would add another
    def streamBuses(): Int = {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("listeners").invoke(bus)
        .asInstanceOf[java.util.List[AnyRef]].asScala
        .count(_.getClass.getSimpleName == "StreamingQueryListenerBus")
    }
    def t1(): Long = SparkEntry.queries("t1_stream_window")(spark, sfDir).count()
    val n = t1()
    val before = streamBuses()
    val runs = 3
    (0 until runs).foreach(_ => assert(t1() === n))
    val added = streamBuses() - before
    assert(added === 0, s"$added buses added by $runs runs")
  }

  test("sequence packing never plans a single-partition window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("x8_sequence_pack")(spark, sfDir)
    val bad = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty,
      s"x8 moved the corpus to one partition:\n${bad.mkString("\n")}")
    // the per-shard offset bases enter as a broadcast, not a shuffle
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("no registered query plans an unpartitioned (single-partition) window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // o1's rank sits ABOVE the series-dim aggregate — a global window over
    // dimension-sized (not corpus-sized) data, the documented design
    val skip = Set("t1_stream_window", "j1_points_join_series",
      "o1_series_sorted")
    for ((name, fn) <- SparkEntry.queries if !skip(name)) {
      val bad = fn(spark, sfDir).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$name plans a global window: ${bad.headOption}")
    }
  }

  test("sort/sort_desc compile to UNSORTED plans (ordering is presentation)") {
    // a global Sort over an instant vector is pure presentation cost at
    // scale — ordering belongs to the API serialization layer
    val p = plan("pql12_sort_desc")
    // "Sort [...], true" = a GLOBAL sort (range partition + sort);
    // "..., false" sorts are local SortAggregate requirements and fine
    assert(!"""Sort \[[^\]]*\], true""".r.findFirstIn(p).isDefined,
      s"sort_desc must not put a global Sort into the plan:\n$p")
  }

  test("x11/x15/x16/x18/x19: ONE text-bearing corpus scan, inside the durable pin") {
    // The pinned text operators claim "one corpus scan": the exploded
    // tf / chunk relation reads the corpus (with its heavy `text`
    // column) exactly once, inside the eager Stage.pin; every later
    // consumer reads the staged parquet. A lost pin regresses to
    // Catalyst re-scanning the corpus per consumer — which this test
    // catches as a text-bearing documents scan in the FINAL plan.
    def scans(p: String): Seq[String] =
      p.split("Scan parquet|FileScan parquet").toSeq.tail
    for ((q, tag) <- Seq("x11_tfidf_keywords" -> "tfidf-tf",
        "x15_dsir_weights" -> "dsir-tf",
        "x16_chunk_dedup" -> "chunk-pairs",
        "x18_bigram_nll" -> "bigram-tf",
        "x19_moore_lewis" -> "ml-bigram-tf")) {
      graft.store.Stage.startRecording()
      val p = plan(q) // builds the query; the pin materializes eagerly
      val pins = graft.store.Stage.stopRecording()
      assert(pins.map(_._1) === Seq(tag),
        s"$q should materialize exactly the $tag pin, got ${pins.map(_._1)}")
      val pinTextScans = scans(pins.head._2)
        .filter(s => s.contains("documents.parquet") && s.contains("text"))
      assert(pinTextScans.nonEmpty,
        s"$q pin plan lost its corpus scan:\n${pins.head._2.take(1500)}")
      val finalTextScans = scans(p)
        .filter(s => s.contains("documents.parquet") && s.contains("text"))
      assert(finalTextScans.isEmpty,
        s"$q re-reads the corpus text outside the pin:\n${p.take(2000)}")
    }
  }

  test("p1: pinned-scored single pass — one corpus scan inside the pin, " +
    "window keep-test downstream, no corpus-side join") {
    // r17 restructure: quality+langid+md5 materialize in ONE wide corpus
    // scan (the p1-scored pin); the keep-list membership test is
    // `min(doc_id) over (partition by __md5)` on the pin read. A
    // regression to the join form shows up as a second documents scan,
    // or a join in the final plan; a lost pin as a documents scan there.
    def scans(p: String): Seq[String] =
      p.split("Scan parquet|FileScan parquet").toSeq.tail
    graft.store.Stage.startRecording()
    val p = plan("p1_curation_pipeline")
    val pins = graft.store.Stage.stopRecording()
    assert(pins.map(_._1) === Seq("p1-scored"),
      s"p1 should materialize exactly the p1-scored pin, got ${pins.map(_._1)}")
    assert(scans(pins.head._2).count(_.contains("documents.parquet")) >= 1,
      s"p1 pin plan lost its corpus scan:\n${pins.head._2.take(1500)}")
    assert(scans(p).forall(!_.contains("documents.parquet")),
      s"p1 re-reads the corpus outside the pin:\n${p.take(2000)}")
    assert(!p.contains("Join"),
      s"p1 final plan regressed to the join form:\n${p.take(2000)}")
    assert(p.contains("Window"),
      s"p1 final plan lost the keep-test window:\n${p.take(2000)}")
  }

  test("gridSum keeps partial/final hash aggregation with the two " +
    "decimal(20,0) partial sums (map-side combine preserved)") {
    // the r15 distributive rewrite's cost model depends on this shape:
    // per-row work is two long floors + two long->decimal casts feeding
    // map-side partial sums; the decimal multiply happens once per
    // group AFTER the final aggregate. A refactor that collapses the
    // sum to a single-phase aggregate (losing map-side combine) or
    // reintroduces a per-row decimal multiply fails here.
    val p = plan("pql24_sum_large")
    assert("partial_sum\\(cast\\(FLOOR".r.findAllMatchIn(p).nonEmpty,
      s"expected decimal partial sums over long floors:\n${p.take(2000)}")
    assert("as decimal\\(20,0\\)".r.findAllMatchIn(p).size >= 2, p.take(2000))
  }

  test("upkeep rewrite shape: the LWW dedup aggregate rides one " +
    "repartition on the bucket column (subset rule, no second exchange)") {
    import org.apache.spark.sql.functions._
    // fineForUpkeep pre-partitions rewrite inputs on metric_id (bucketed
    // mode) or (metric_id, ts_ms) (legacy); either HashPartitioning
    // satisfies the groupBy(metric_id, ts_ms)'s clustering requirement —
    // HashPartitioning(e) satisfies ClusteredDistribution(c) for e ⊆ c —
    // so the dedup aggregate adds NO second exchange and the write rides
    // the same task layout. This is the mechanism behind both the r15
    // soak fix (agg-task head-of-line bound) and the r16 bucketed write
    // alignment.
    val base = spark.range(1000).select(col("id").as("metric_id"),
      (col("id") % 97L * 1000L).as("ts_ms"),
      col("id").cast("double").as("value"), col("id").as("__seq"))
    for (keys <- Seq(Seq("metric_id"), Seq("metric_id", "ts_ms"))) {
      val shaped = base.repartition(8, keys.map(col): _*)
        .groupBy("metric_id", "ts_ms")
        .agg(max_by(col("value"), col("__seq")).as("value"),
          max(col("__seq")).as("__seq"))
      val p = shaped.queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllMatchIn(p).length === 1,
        s"keys=$keys expected exactly 1 exchange:\n${p.take(1500)}")
    }
  }

  test("matcher queries keep whole-stage codegen in the scan path") {
    // AQE hides codegen until the final plan: execute first
    val df = SparkEntry.queries("f1_matchers")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in the tree string
    assert(p.contains("*("), p)
  }

  // --- bound constants (graft.functions.BindParams) ---

  private def bound(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
    p.expressions.exists(_.exists(_.isInstanceOf[graft.functions.Param]))

  /** The physical plan an adaptive query runs (after the prep rules). */
  private def adaptivePlan(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => fail(s"expected an adaptive plan:\n$p")
    }

  test("bound constants: a bounded facade read keeps its ts_ms pushed " +
    "filters and day partition filters on the scan") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
    import graft.streaming.Prompb.PromSeries
    val dir = java.nio.file.Files.createTempDirectory("plan_bound_read")
      .resolve("cold").toString
    val api = new graft.api.HttpApi(spark, compactEvery = 1000000,
      durablePath = Some(dir))
    def s(base: Long) = PromSeries(Map("__name__" -> "b_metric",
      "instance" -> "a"), (0 until 10).map(i => (base + i * 60000L, i * 1.0)))
    val t0 = 1704067200000L
    api.write(Seq(s(t0)), "default")
    api.compact() // spills the 2024 history into the cold tier
    // an unfolded hot pin puts the LWW aggregate (an exchange) in the
    // read, so the plan is adaptive and the rule runs on it
    val now = System.currentTimeMillis()
    api.write(Seq(s(now - 1200000L)), "default")
    api.drainFlushes()
    try {
      val df = api.source("default", t0, now).get.points
      val p = adaptivePlan(df)
      val scan = p.collectFirst { case f: FileSourceScanExec => f }
        .getOrElse(fail(p.toString))
      val pushed = scan.metadata("PushedFilters")
      assert(pushed.contains("GreaterThanOrEqual(ts_ms,") &&
        pushed.contains("LessThanOrEqual(ts_ms,"), pushed)
      assert(scan.metadata("PartitionFilters").contains("day"),
        scan.metadata("PartitionFilters"))
      assert(!bound(scan))
      // ...while the same bounds above the scan are bound
      assert(p.collect { case f: FilterExec => f }.exists(bound), p)
      assert(df.count() === 20)
    } finally api.stop()
  }

  test("bound constants: rangeBetween windows keep literal frame bounds " +
    "and their results") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.window.WindowExec
    import spark.implicits._
    val rows = (0 until 60).map(i => (i % 3L, i * 7000L, i * 0.5))
    val out = graft.tsdb.RangeWindows.overTime(rows.toDF("sid", "ts_ms",
      "value"), Seq("sid"), 30000L, Seq(sum(_), count(_)), Seq("s", "n"))
      .where(col("ts_ms") >= 70000L)
    val p = adaptivePlan(out)
    val w = p.collectFirst { case w: WindowExec => w }.getOrElse(fail(p.toString))
    assert(!bound(w), w)
    assert(p.collect { case f: FilterExec => f }.exists(bound), p)
    // PromQL's left-open (t-R, t] per series, computed directly
    val want = rows.filter(_._2 >= 70000L).map { case (sid, ts, _) =>
      val in = rows.filter(r => r._1 == sid && r._2 > ts - 30000L &&
        r._2 <= ts)
      (sid, ts, in.map(_._3).sum, in.size.toLong)
    }.sortBy(r => (r._1, r._2))
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(3), r.getLong(4))).toSeq.sortBy(r => (r._1, r._2))
    assert(got === want)
  }

  test("bound constants: NaN stays a literal, other long/double " +
    "constants bind, and StaleNaN keeps its payload through a shuffle") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.functions._
    import graft.functions.{Bits, BindParams, Param}
    val df = spark.range(10).select((col("id") * 3L).as("a"),
      when(col("id") > 4L, lit(Double.NaN)).otherwise(lit(2.5)).as("b"))
    val exprs = BindParams(df.queryExecution.sparkPlan)
      .flatMap(_.expressions).flatMap(_.collect { case e => e })
    val nan = exprs.collect { case l @ Literal(d: Double, _) if d.isNaN => l }
    assert(nan.nonEmpty, "NaN must stay a Literal")
    assert(exprs.collect { case Param(v, _) => v }.toSet ===
      Set[Any](3L, 4L, 2.5))
    // through an exchange the rule binds StaleNaN's long bit pattern; the
    // payload must survive codegen
    val bits = spark.range(4).groupBy((col("id") % 2L).as("k"))
      .agg(max(Bits.doubleBits(Bits.staleNaN)).as("b"))
      .select("b").collect().map(_.getLong(0)).toSet
    assert(bits === Set(Bits.StaleNaNBits))
  }
}

