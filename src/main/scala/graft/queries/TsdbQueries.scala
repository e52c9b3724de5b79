package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Bits
import graft.tsdb._

/** TSDB operator queries over the `events` table, keyed by SURVEY §2
  * operator ids so coverage maps line-by-line. The series identity is
  * (user_id, event_type) — the label set — or just event_type where a
  * denser series helps exercise window semantics.
  *
  * Every key has a DuckDB oracle in [[TsdbQueries.oracleSql]] reproducing
  * the exact arithmetic (decimal accumulation for order-independent sums,
  * struct min/max for deterministic argmin/argmax, round(…,6) wherever an
  * FP sum's partition order could flip the last bit).
  */
object TsdbQueries {

  // 2024-01-01T00:00Z .. 2024-01-31T00:00Z — the events table's span.
  private[queries] val Start = 1704067200000L
  private[queries] val End = 1706659200000L
  private[queries] val Hour = 3600000L
  private[queries] val Day = 86400000L
  private val Jan10 = 1704844800000L
  private val Jan15 = 1705276800000L
  private val Jan20 = 1705708800000L
  private val Jan25 = 1706140800000L
  private val Jan28 = 1706400000000L

  private def pts(s: SparkSession, dir: String): DataFrame = Tables.points(s, dir)

  /** Last-write-wins dedup to one sample per (event_type, ms) — PromQL
    * assumes unique timestamps per series (reference `types/metric.go:71-95`).
    */
  private def ptsByType(s: SparkSession, dir: String): DataFrame =
    pts(s, dir)
      .groupBy("event_type", "ts_ms")
      .agg(max_by(col("value"), col("event_id")).as("value"))

  private val sumV =
    sum(expr("CAST(value AS DECIMAL(18,6))")).cast("double")

  /** Grid round to 6 dp via exact IEEE ops (`floor(x·1e6 + 0.5)/1e6`) so
    * both engines round an IDENTICAL double identically. Each engine's
    * own `round()` disagrees at half boundaries — Spark rounds the
    * shortest decimal string, DuckDB the scaled binary double; observed
    * at sf0.1: 1193.16906249999.. → 062 (Spark) vs 063 (DuckDB). The
    * SQL mirror is `floor(x * 1e6 + 0.5) / 1e6`. Inputs must already be
    * engine-identical (decimal-accumulated sums, exact picks).
    *
    * Magnitude guard (the r15 sf1 gate caught this on
    * `pql24_sum_large`): Spark's `floor(double)` is LongType, so the
    * naive form silently saturates at `Long.MaxValue/1e6` once
    * |x| ≥ ~9.2e12 — while DuckDB's double floor stays exact, so the
    * engines diverge precisely at large-sum scale (the same defect
    * class `Compiler.gridSum` fixed inside the deterministic sum).
    * For |x| ≥ 4.6e9, `x·1e6 + 0.5` is already ≥ 2^52 and therefore
    * integral in double — the floor is the IDENTITY and is skipped,
    * which keeps the op sequence (multiply, add, divide, with the
    * +0.5 tie rounding half-even identically in both engines)
    * bit-identical to DuckDB's `floor` of the same integral value.
    */
  private[queries] def r6(c: Column): Column = {
    val y = c * 1e6 + 0.5
    when(abs(c) >= 4.6e9, y / 1e6).otherwise(floor(y) / 1e6)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1 — 5-min downsampling kernel (aggregate/aggregate.go:43-137)
    "a1_downsample_5m" -> ((s, dir) =>
      Downsample(pts(s, dir), Seq(col("user_id"), col("event_type")),
          col("ts_ms"), col("value"))
        .select(col("user_id"), col("event_type"), col("bucket_ms"),
          col("min").as("min_v"), col("max").as("max_v"),
          round(col("avg"), 6).as("avg_v"), col("count").as("n"))),

    // A1/W4 — StaleNaN exclusion by exact bit pattern (aggregate.go:94-96)
    "a1_downsample_stale" -> ((s, dir) => {
      val staled = pts(s, dir).withColumn("value",
        when(pmod(col("event_id"), lit(97)) === 0, Bits.staleNaN)
          .otherwise(col("value")))
      Downsample(staled, Seq(col("event_type")), col("ts_ms"), col("value"))
        .select(col("event_type"), col("bucket_ms"),
          col("min").as("min_v"), col("max").as("max_v"),
          round(col("avg"), 6).as("avg_v"), col("count").as("n"))
    }),

    // A2/A4 — pre-agg routing with query-time tail re-aggregation
    // (cassandra/tsdb/read.go:57-72,229-237) + bucket merge
    "a2_preagg_routed" -> ((s, dir) => {
      val p = pts(s, dir)
      val agg5 = Downsample(p, Seq(col("event_type")), col("ts_ms"), col("value"))
      val routed = PreAgg.routed(p, agg5, Seq("event_type"), Jan20)
      PreAgg.mergeBuckets(routed, Seq("event_type"))
        .select(col("event_type"), col("min").as("min_v"), col("max").as("max_v"),
          round(col("avg"), 6).as("avg_v"), col("count").as("n"))
    }),

    // A6 — aggregation operators with by-grouping
    "a6_agg_by" -> ((s, dir) =>
      pts(s, dir).groupBy("event_type").agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_series"),
        sumV.as("sum_v"),
        round(avg("value"), 6).as("avg_v"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"))),

    // A6/W8 — topk per group, deterministic tiebreak
    "a6_topk" -> ((s, dir) => {
      val totals = pts(s, dir).groupBy("event_type", "user_id")
        .agg(sumV.as("total_v"))
      PointOps.topK(totals, Seq("event_type"), col("total_v"),
          Seq(col("user_id")), 3)
        .select(col("event_type"), col("user_id"), col("total_v"),
          col("rank").cast("long").as("rnk"))
    }),

    // A6 — count_values (bucket by integer value)
    "a6_count_values" -> ((s, dir) =>
      pts(s, dir).groupBy(floor(col("value")).cast("long").as("value_f"))
        .agg(count(lit(1)).as("n"))),

    // W1 — instant vectors: latest sample per series within lookback,
    // evaluated on an hourly grid via per-sample step explode (no BNLJ)
    "w1_instant_lookback" -> ((s, dir) =>
      RangeWindows.instantBucketed(pts(s, dir), Seq("user_id", "event_type"),
        Start, End, Hour, Hour)),

    // W2 — range-vector aggregation over trailing 1 h windows
    "w2_range_agg" -> ((s, dir) =>
      RangeWindows.rangeBucketed(ptsByType(s, dir), Seq("event_type"),
        Start, End, Hour, Hour,
        Seq("sum_v" -> (v => sum(v.cast("decimal(18,6)")).cast("double")),
          "n" -> (v => count(v)),
          "min_v" -> (v => min(v)),
          "max_v" -> (v => max(v))))),

    // W3 — rate/increase with counter-reset correction + extrapolation
    "w3_rate_1h" -> ((s, dir) =>
      Rate.overSteps(ptsByType(s, dir), Seq("event_type"),
          Start, End, Hour, Hour)
        .select(col("event_type"), col("eval_ms"), col("n_samples"),
          r6(col("delta_raw")).as("delta_raw"),
          r6(col("increase")).as("increase"),
          r6(col("rate")).as("rate"))),

    // W3 — irate/idelta/resets: instant-pair functions, bit-exact
    "w3_irate_1h" -> ((s, dir) =>
      Rate.instantOverSteps(ptsByType(s, dir), Seq("event_type"),
        Start, End, Hour, Hour)),

    // W3 — deriv(): per-(series, step) least-squares slope per second
    // over the trailing window (Prometheus promql/functions.go funcDeriv);
    // regr_slope is a built-in partial+final aggregate, x shifted to
    // window-relative seconds so magnitudes stay sane
    "w3_deriv_1h" -> ((s, dir) =>
      RangeWindows.withEvalSteps(ptsByType(s, dir), Start, End, Hour, Hour)
        .groupBy("event_type", "eval_ms")
        .agg(count(lit(1)).as("n"),
          round(expr(
            s"regr_slope(value, (ts_ms - (eval_ms - ${Hour}L)) / 1000.0)"),
            6).as("slope"))
        .where(col("n") >= 2)),

    // W3 — predict_linear(m[1h], 30m): regression extrapolation via the
    // built-in partial+final regr_* aggregates
    "w3_predict_linear" -> ((s, dir) =>
      RangeWindows.withEvalSteps(ptsByType(s, dir), Start, End, Hour, Hour)
        .groupBy("event_type", "eval_ms")
        .agg(count(lit(1)).as("n"),
          round(expr(
            s"""regr_intercept(value, (ts_ms - eval_ms) / 1000.0)
                + regr_slope(value, (ts_ms - eval_ms) / 1000.0) * 1800.0"""),
            6).as("predict"))
        .where(col("n") >= 2)),

    // W3 — holt_winters: order-sensitive smoothing as a custom Aggregator
    "w3_holt_winters" -> ((s, dir) => {
      val hw = udaf(new HoltWintersAgg(0.3, 0.1))
      RangeWindows.withEvalSteps(ptsByType(s, dir), Start, End, Hour, Hour)
        .groupBy("event_type", "eval_ms")
        .agg(count(lit(1)).as("n"),
          round(hw(col("ts_ms"), col("value")), 6).as("hw"))
        .where(col("n") >= 2 && col("hw").isNotNull)
    }),

    // W5 — offset modifier: instant vector shifted by 1 day
    "w5_offset_1d" -> ((s, dir) => {
      val shifted = ptsByType(s, dir)
        .withColumn("ts_ms", col("ts_ms") + Day)
      RangeWindows.instantBucketed(shifted, Seq("event_type"),
        Start, End, Hour, Hour)
    }),

    // W7/A7 — *_over_time via rangeBetween window at each sample
    // avg as decimal-window-sum / count: DuckDB's segment-tree frames
    // and Spark's sliding frames sum doubles in different orders, so a
    // windowed FP avg differs by ulps cross-engine (observed at sf0.1
    // astride a round(6) boundary); the decimal sum is exact and
    // order-independent, making the quotient engine-identical unrounded
    "w7_over_time" -> ((s, dir) =>
      RangeWindows.overTime(ptsByType(s, dir), Seq("event_type"), Hour,
          Seq(v => sum(v.cast("decimal(18,6)")), v => count(v)),
          Seq("sum_dec", "n_1h"))
        .select(col("event_type"), col("ts_ms"), col("value"),
          (col("sum_dec").cast("double") / col("n_1h")).as("avg_1h"),
          col("n_1h"))),

    // F1-F5 — label matchers: literal-alternate regex → IN, general regex,
    // negated equality (cassandra/index/index.go:3497-3763)
    "f1_matchers" -> ((s, dir) => {
      val resolve: String => org.apache.spark.sql.Column = {
        case "event_type" => col("event_type")
        case "user" => col("user_id").cast("string")
      }
      val ms = Seq(
        MatchRe("event_type", "click|view|purchase"), // IN-rewrite path
        MatchNeq("user", "42"),
        MatchRe("event_type", "cl.*|v.*w|pu.*e")) // anchored rlike path
      pts(s, dir).where(Matchers.all(resolve, ms))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sumV.as("sum_v"))
    }),

    // F6 — negative matchers + missing-label-matches-empty (prometheus#3575).
    // Matchers compile against RESOLVED columns (a sparse label is a null-
    // yielding expression), not a per-row constructed map: the r2 map
    // variant allocated a map per row and blocked every pushdown (42.8 s
    // vs 1.1 s for f1 at sf0.1 — VERDICT r2 #3).
    "f6_matchers_negative" -> ((s, dir) => {
      val resolve: String => org.apache.spark.sql.Column = {
        case "tier" => when(pmod(col("user_id"), lit(3)) === 0, lit("gold"))
        case "etype" => col("event_type")
      }
      val ms = Seq(MatchEq("tier", ""), MatchNre("etype", "p.*"))
      pts(s, dir).where(Matchers.all(resolve, ms))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
    }),

    // F8 — 7-day time-shard arithmetic (index.go:3833-3892)
    "f8_time_shards" -> ((s, dir) =>
      pts(s, dir)
        .groupBy(expr("ts_ms DIV 604800000").as("shard"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id"), col("event_type")).as("n_series"))),

    // F13 — series limit: first N series in label order
    "f13_series_limit" -> ((s, dir) =>
      PointOps.seriesLimit(
        pts(s, dir).select("user_id", "event_type").distinct(),
        Seq(col("user_id").asc, col("event_type").asc), 10)),

    // J1/J2 — points ⋈ persisted series dimension (broadcast hash join).
    // The scale path (VERDICT r2 #4): the dim is get-or-created once via
    // Store.upsertSeries (stateless hash ids — no global dense_rank sort),
    // read back from parquet, broadcast for labels→id, then joined again
    // for id→labels (the actual J1 lookup, `index.go:1190-1236`). The
    // oracle checks the label-keyed result — ids are engine-internal.
    "j1_points_join_series" -> ((s, dir) => {
      // process-unique path: reused across bench passes in one JVM,
      // isolated from concurrent runs (upsert is idempotent within a JVM)
      val dimPath = "/tmp/graft_dim_" +
        dir.replaceAll("[^A-Za-z0-9]", "_") +
        s"_${java.lang.ProcessHandle.current.pid}/series"
      graft.store.Store.upsertSeries(s, dimPath, pts(s, dir),
        Seq("user_id", "event_type"))
      val dim = s.read.parquet(dimPath)
      val byId = pts(s, dir)
        .join(broadcast(dim), Seq("user_id", "event_type"))
        .groupBy("metric_id")
        .agg(count(lit(1)).as("n"), sumV.as("sum_v"))
      byId // id→labels: the J1 lookup proper
        .join(broadcast(dim), Seq("metric_id"))
        .select("user_id", "event_type", "n", "sum_v")
    }),

    // J3 — hot ∪ cold merge with per-series boundary (batch/batch.go:787-861)
    "j3_hotcold_merge" -> ((s, dir) => {
      val p = pts(s, dir)
      val cold = p.where(col("ts_ms") < Jan28)
      val hot = p.where(col("ts_ms") >= Jan25)
      PointOps.hotColdMerge(cold, hot, Seq("user_id", "event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sumV.as("sum_v"),
          min("ts_ms").as("min_ts"), max("ts_ms").as("max_ts"))
    }),

    // O2 — last-write-wins dedup per (series, minute)
    "o2_dedup_lww" -> ((s, dir) =>
      PointOps.dedupLastWriteWins(
        pts(s, dir).withColumn("minute_ms",
          col("ts_ms") - pmod(col("ts_ms"), lit(60000L))),
        Seq("event_type", "minute_ms"), "event_id")),

    // O4 — label values API: sorted distinct values of a label name
    "o4_label_values" -> ((s, dir) =>
      pts(s, dir).select(lit("event_type").as("label_name"),
        col("event_type").as("label_value")).distinct()),

    // O4/§3.3 — label names API: distinct keys of the label map
    "o4_label_names" -> ((s, dir) =>
      pts(s, dir)
        .select(explode(map_keys(map(
          lit("user_id"), col("user_id").cast("string"),
          lit("event_type"), col("event_type")))).as("label_name"))
        .distinct()),

    // §3.3 — /api/v1/series: matcher-filtered series listing
    "o4_series_api" -> ((s, dir) =>
      pts(s, dir)
        .where(Matchers.predicate(col("event_type"),
          MatchRe("event_type", "click|error")))
        .select("user_id", "event_type").distinct()),

    // O6/O7 — vector set ops and / unless / or on series sets
    "o6_set_ops" -> ((s, dir) => {
      val p = pts(s, dir)
      val clickers = p.where(col("event_type") === "click")
        .select("user_id").distinct()
      val buyers = p.where(col("event_type") === "purchase")
        .select("user_id").distinct()
      PointOps.vectorAnd(clickers, buyers, Seq("user_id"))
        .withColumn("op", lit("and"))
        .unionByName(PointOps.vectorUnless(clickers, buyers, Seq("user_id"))
          .withColumn("op", lit("unless")))
        .unionByName(PointOps.vectorOr(clickers, buyers, Seq("user_id"))
          .withColumn("op", lit("or")))
    }),

    // M1 — mutable-label matcher rewrite (cassandra/mutable/processor.go)
    "m1_mutable_rewrite" -> ((s, dir) => {
      val mapping = MutableMapping("tenant1", "group", "event_type", Map(
        "interactive" -> Seq("click", "view"),
        "transactional" -> Seq("purchase", "signup"),
        "weird" -> Seq("c+x("))) // regex metachars must stay literal
      val ms = mapping.rewrite(Seq(
        MatchRe("group", ".*a.*"), MatchNre("group", "trans.*")))
      pts(s, dir)
        .where(Matchers.all(_ => col("event_type"), ms))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
    }),

    // S1/F11 — ingest projection: tenant injection + validation
    "s1_ingest_project" -> ((s, dir) =>
      graft.streaming.Ingest.ingestProjection(pts(s, dir), "acme")
        .groupBy("tenant", "event_type").agg(count(lit(1)).as("n"))),

    // S2 — batch-granular future-point backdating (fake_remote_writer.go)
    "s2_backdate" -> ((s, dir) =>
      graft.streaming.Ingest.backdateBatch(pts(s, dir),
          thresholdMs = 540000L, offsetMs = 600000L, nowMs = Jan15)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          min("ts_ms").as("min_ts"), max("ts_ms").as("max_ts"))),

    // S4 — pruned raw scan: ids + time range, row-level fidelity
    "s4_raw_scan" -> ((s, dir) =>
      pts(s, dir)
        .where(col("user_id").isin(7L, 42L, 99L) &&
          col("ts_ms").between(Jan10, Jan20))
        .select("event_id", "user_id", "event_type", "ts_ms", "value")),

    // T1 — Structured Streaming ingest: watermark + 5-min windowed agg
    "t1_stream_window" -> ((s, dir) =>
      graft.streaming.Ingest.windowedCounts(s, dir, "t1_stream_window_sink")),

    // T9 — per-write TTL max-merged per series; points survive while
    // ts + series_ttl > now (remotestorage.go:103-114, read.go:352)
    "t9_ttl_expiry" -> ((s, dir) => {
      val withTtl = pts(s, dir).withColumn("ttl_sec",
        (pmod(col("event_id"), lit(50)) + 1) * lit(86400L))
      graft.store.Store.ttlFilter(withTtl, Seq("user_id", "event_type"),
          "ttl_sec", nowMs = End)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          min("ts_ms").as("min_ts"), max("ts_ms").as("max_ts"))
    }),

    // F10 — forced matcher injection (queryable.go:136-151): the header
    // matcher conjoins with — and cannot be shadowed by — user matchers
    "f10_forced_matcher" -> ((s, dir) => {
      val resolve: String => org.apache.spark.sql.Column = {
        case "event_type" => col("event_type")
        case "user" => col("user_id").cast("string")
      }
      val userMs = Seq(MatchNeq("user", "42"),
        MatchRe("event_type", "click|view|error"))
      val forced = Seq(MatchEq("event_type", "click"))
      pts(s, dir)
        .where(Matchers.all(resolve, Matchers.withForced(userMs, forced)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sumV.as("sum_v"))
    }),

    // M3 — label-API override: mutable names union physical names; values
    // of a mutable name come from its definition, not a series scan
    "m3_label_api_override" -> ((s, dir) => {
      import s.implicits._
      val dim = Seq(
        ("tenant1", "group", "event_type", "interactive", "click"),
        ("tenant1", "group", "event_type", "interactive", "view"),
        ("tenant1", "group", "event_type", "transactional", "purchase"),
        ("tenant2", "env", "event_type", "prod", "click"))
        .toDF("tenant", "name", "target_name", "value", "associated_value")
      val physical = pts(s, dir)
        .select(explode(map_keys(map(
          lit("user_id"), col("user_id").cast("string"),
          lit("event_type"), col("event_type")))).as("label_name"))
        .distinct()
      val names = MutableProvider.labelNamesWithMutable(physical, dim, "tenant1")
        .withColumn("kind", lit("name"))
        .withColumnRenamed("label_name", "val")
      val values = MutableProvider.labelValuesOfMutable(dim, "tenant1", "group")
        .withColumn("kind", lit("value"))
        .withColumnRenamed("label_value", "val")
      names.unionByName(values).select("kind", "val")
    }),

    // §5.4/J2 — series-dim expiration classification: a series expires
    // when its last write + TTL lies before now (index.go:2138-2291); the
    // sweep itself is StoreSpec-verified, the classification is gated here
    "j2_series_expiry" -> ((s, dir) => {
      val cutoff = Jan20
      pts(s, dir)
        .groupBy("user_id", "event_type")
        .agg((max(col("ts_ms")) + 7L * 86400000L).as("expiration_ms"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_series"),
          count(when(col("expiration_ms") <= cutoff, 1)).as("n_expired"))
    }),

    // O1 — series sorted by labels, rank materialized (the engine-demanded
    // sort, queryable.go:324-342; dimension-sized, so the global window is
    // bounded by series count, not points)
    "o1_series_sorted" -> ((s, dir) =>
      pts(s, dir).select("user_id", "event_type").distinct()
        .withColumn("ord", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("user_id"), col("event_type"))).cast("long"))),

    // §3.2 end-to-end streaming slice: remote-write BYTES → wire decode →
    // S1 validated ingest → T4 hot-buffer flush → J3 hot∪cold merge →
    // the §3.1 query chain. Two write generations (batch 2 re-sends
    // corrected samples) prove LWW through every stage; the oracle
    // reproduces the full pipeline in SQL.
    "e2e_stream_slice" -> ((s, dir) => {
      import org.apache.spark.sql.{Encoders, Row}
      import graft.streaming.{HotBuffer, Prompb}
      import graft.promql.{EvalParams, PromSource}
      val SixH = 6 * Hour
      // 1. remote-write payloads, one per (series, generation), ENCODED
      //    ON EXECUTORS in ONE grouped pass that also performs the
      //    per-(series, ts) LWW dedup (PromQL precondition, winner = max
      //    event_id, the winning row keeps its event_id) — the pre-r11
      //    shape materialized the dedup as its own shuffled aggregate +
      //    pin and re-shuffled the tagged union by (series, batch):
      //    three sequential tiers where one grouped pass suffices.
      //    Batch 2 is a later correction write (doubled values, winner
      //    event_id % 7 == 0) that must win last-write-wins end-to-end.
      // pointsWide: the ONE-consumer spread (r17) — the collect_list
      // partial aggregate below otherwise runs on the unsplittable
      // single-row-group scan's lone task (354 ms of the slice)
      val wire = Tables.pointsWide(s, dir)
        .groupBy("user_id", "event_type")
        .agg(collect_list(struct(col("ts_ms"), col("value"),
          col("event_id"))).as("samples"))
        // r12 job profile (SCALE.md "Round-12: e2e trim closed"): AQE's
        // byte-based coalescing collapsed this small (few-MB) shuffle
        // to ≤2 partitions, serializing the CPU-heavy per-series work
        // below (LWW + protobuf + snappy and
        // then the decode/ingest tiers) onto ≤2 cores — ~0.8 s of the
        // slice's 3.1 s. An EXPLICIT partition count is exempt from AQE
        // coalescing: the tiny extra shuffle buys back the whole wire
        // pipeline's parallelism (results are per-series, so placement
        // cannot change them). r15: the count follows the session's
        // core count — the r12 hardcoded 16 left half a 32-core box
        // idle through the slice's single most expensive job (the
        // encode→decode→ingest pin)
        .repartition(s.sparkContext.defaultParallelism)
        .flatMap { r =>
          def labels(batch: Int) = Map(
            "__name__" -> "events_value",
            "user_id" -> r.getAs[Long]("user_id").toString,
            "event_type" -> r.getAs[String]("event_type"),
            "__batch" -> batch.toString)
          val lww = new scala.collection.mutable.HashMap[Long, (Double, Long)]
          r.getAs[scala.collection.Seq[Row]]("samples").foreach { x =>
            val (t, v, id) = (x.getLong(0), x.getDouble(1), x.getLong(2))
            if (!lww.get(t).exists(_._2 >= id)) lww(t) = (v, id)
          }
          val b1 = lww.iterator.map { case (t, (v, _)) => (t, v) }.toSeq
          val b2 = lww.iterator.collect {
            case (t, (v, id)) if id % 7 == 0 => (t, v * 2) }.toSeq
          Seq(Prompb.encodeSnappy(
            Seq(Prompb.PromSeries(labels(1), b1)))) ++
            (if (b2.nonEmpty) Seq(Prompb.encodeSnappy(
              Seq(Prompb.PromSeries(labels(2), b2)))) else Nil)
        }(Encoders.BINARY)
      // 2. distributed wire decode → S1 ingest; the batch tag becomes the
      //    write sequence and leaves the series identity. Pinned once:
      //    the cold and hot tiers below both read it, and without the pin
      //    Catalyst re-runs the whole encode→decode→ingest chain per tier.
      val ingested = graft.streaming.Ingest.ingestLabeled(
          Prompb.decodeDataset(wire)
            .withColumn("__seq",
              element_at(col("labels"), "__batch").cast("long"))
            .withColumn("labels",
              map_filter(col("labels"), (k, _) => k =!= "__batch")),
          "__account_id", "t-e2e")
        .withColumn("user_id",
          element_at(col("labels"), "user_id").cast("long"))
        .withColumn("event_type", element_at(col("labels"), "event_type"))
        .localCheckpoint(true)
      // 3. cold store: persisted (LWW-deduped) points strictly below Jan20
      val cold = ingested.where(col("ts_ms") < Jan20)
        .groupBy("user_id", "event_type", "ts_ms")
        .agg(max_by(col("value"), col("__seq")).as("value"))
      // 4. hot side: everything ≥ Jan15 through the T4 buffer — only
      //    samples older than the 1 h horizon behind a series' newest
      //    FLUSH (sorted, LWW per ts); the tail stays buffered. The
      //    buffer key carries the series identity, so no dim join back.
      val flushed = HotBuffer(
        ingested.where(col("ts_ms") >= Jan15)
          .select(concat_ws("\u0001", col("user_id"), col("event_type"))
            .as("series"),
            col("ts_ms").as("tsMs"), col("value"), col("__seq").as("seq"))
          .as(Encoders.product[HotBuffer.Sample]),
        horizonMs = Hour).toDF()
      val hot = flushed
        .select(split(col("series"), "\u0001").as("k"),
          col("tsMs").as("ts_ms"), col("value"))
        .select(col("k").getItem(0).cast("long").as("user_id"),
          col("k").getItem(1).as("event_type"), col("ts_ms"), col("value"))
      // 5. J3 merge, then the §3.1 chain over the merged store
      val merged = PointOps.hotColdMerge(cold, hot,
        Seq("user_id", "event_type"))
      val src = PromSource(
        merged.withColumn("__name__", lit("events_value"))
          .withColumn("user_id", col("user_id").cast("string")),
        Seq("__name__", "user_id", "event_type"), n => col(n))
      graft.api.QueryService.queryRange(
          "sum by (event_type) (events_value)", src,
          EvalParams(Jan10, Jan25, Hour, lookbackMs = SixH))
        // r6, not round(): the sum beneath is now bit-identical across
        // engines and parallelisms (Compiler.sumDet), so the
        // presentation round must be the identical double-op sequence
        // too — Spark's round() goes through the shortest-decimal
        // string, DuckDB's through the binary double, and they can part
        // on a last-ulp input exactly where the old plain sum hid
        .select(col("event_type"), col("eval_ms"),
          r6(col("value")).as("value"))
    })
  )

  // DuckDB oracle — `events` is the parquet table registered by the driver.
  private[queries] val P =
    "SELECT event_id, user_id, event_type, epoch_ns(ts)//1000000 AS ts_ms, value FROM events"
  private[queries] val PD = // deduped to one sample per (event_type, ms)
    "SELECT event_type, epoch_ns(ts)//1000000 AS ts_ms, arg_max(value, event_id) AS value FROM events GROUP BY 1, 2"
  private[queries] val Grid =
    s"SELECT unnest(generate_series(${Start}, ${End}, ${Hour})) AS eval_ms"

  /** WITH-fragment computing hourly extrapolated rates per event_type into
    * `fin` (columns incl. eval_ms, n_samples, delta, inc) — shared by the
    * w3 oracle and the w6 subquery oracle.
    */
  /** The Prometheus extrapolated-rate chain as DuckDB SQL over an
    * arbitrary keyed sample stream: `ptsSql` must produce
    * (keys…, ts_ms, value); the chain ends in `fin` carrying `inc`
    * (the extrapolated increase per `rangeMs` window on the hourly
    * grid). `RateFinSql` is the (event_type, 1h) instance the pql1/w3
    * oracles consume.
    */
  private[queries] def rateFin(ptsSql: String, keys: Seq[String],
      rangeMs: Long): String = {
    val ks = keys.mkString(", ")
    s"""
      pts AS ($ptsSql), prev AS (
        SELECT $ks, ts_ms, value,
          lag(value) OVER w AS prev_val, lag(ts_ms) OVER w AS prev_ts
        FROM pts WINDOW w AS (PARTITION BY $ks ORDER BY ts_ms)
      ), grid AS ($Grid), agg AS (
        SELECT $ks, eval_ms, count(value) AS n_samples,
          min(ts_ms) AS first_ts, max(ts_ms) AS last_ts,
          (min(struct_pack(t := ts_ms, v := value))).v AS first_val,
          (max(struct_pack(t := ts_ms, v := value))).v AS last_val,
          CAST(sum(CAST(
            CASE WHEN prev_ts IS NOT NULL AND prev_ts > eval_ms - ${rangeMs}
                AND prev_val IS NOT NULL AND value < prev_val
              THEN prev_val ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
            AS corr
        FROM prev JOIN grid ON ts_ms <= eval_ms AND ts_ms > eval_ms - ${rangeMs}
        GROUP BY $ks, eval_ms HAVING count(value) >= 2
      ), ext AS (
        SELECT *, last_val - first_val + corr AS delta,
          CAST(last_ts - first_ts AS DOUBLE) AS si,
          CAST(first_ts - (eval_ms - ${rangeMs}) AS DOUBLE) AS ds0,
          CAST(eval_ms - last_ts AS DOUBLE) AS de,
          CAST(last_ts - first_ts AS DOUBLE) / CAST(n_samples - 1 AS DOUBLE) AS ad
        FROM agg
      ), ext2 AS (
        SELECT *,
          CASE WHEN ds0 >= ad * 1.1 THEN ad / 2.0 ELSE ds0 END AS es0,
          CASE WHEN de >= ad * 1.1 THEN ad / 2.0 ELSE de END AS ee,
          CASE WHEN delta > 0 AND first_val >= 0
            THEN si * (first_val / delta) END AS dz
        FROM ext
      ), fin AS (
        SELECT *, delta * ((si +
            (CASE WHEN dz IS NOT NULL AND dz < es0 THEN dz ELSE es0 END) +
            ee) / si) AS inc
        FROM ext2)"""
  }

  private[queries] val RateFinSql = s"""
      pts AS ($PD), prev AS (
        SELECT event_type, ts_ms, value,
          lag(value) OVER w AS prev_val, lag(ts_ms) OVER w AS prev_ts
        FROM pts WINDOW w AS (PARTITION BY event_type ORDER BY ts_ms)
      ), grid AS ($Grid), agg AS (
        SELECT event_type, eval_ms, count(value) AS n_samples,
          min(ts_ms) AS first_ts, max(ts_ms) AS last_ts,
          (min(struct_pack(t := ts_ms, v := value))).v AS first_val,
          (max(struct_pack(t := ts_ms, v := value))).v AS last_val,
          CAST(sum(CAST(
            CASE WHEN prev_ts IS NOT NULL AND prev_ts > eval_ms - ${Hour}
                AND prev_val IS NOT NULL AND value < prev_val
              THEN prev_val ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
            AS corr
        FROM prev JOIN grid ON ts_ms <= eval_ms AND ts_ms > eval_ms - ${Hour}
        GROUP BY 1, 2 HAVING count(value) >= 2
      ), ext AS (
        SELECT *, last_val - first_val + corr AS delta,
          CAST(last_ts - first_ts AS DOUBLE) AS si,
          CAST(first_ts - (eval_ms - ${Hour}) AS DOUBLE) AS ds0,
          CAST(eval_ms - last_ts AS DOUBLE) AS de,
          CAST(last_ts - first_ts AS DOUBLE) / CAST(n_samples - 1 AS DOUBLE) AS ad
        FROM agg
      ), ext2 AS (
        SELECT *,
          CASE WHEN ds0 >= ad * 1.1 THEN ad / 2.0 ELSE ds0 END AS es0,
          CASE WHEN de >= ad * 1.1 THEN ad / 2.0 ELSE de END AS ee,
          CASE WHEN delta > 0 AND first_val >= 0
            THEN si * (first_val / delta) END AS dz
        FROM ext
      ), fin AS (
        SELECT *, delta * ((si +
            (CASE WHEN dz IS NOT NULL AND dz < es0 THEN dz ELSE es0 END) +
            ee) / si) AS inc
        FROM ext2)"""

  def oracleSql: Map[String, String] = Map(
    "a1_downsample_5m" -> s"""
      WITH pts AS ($P)
      SELECT user_id, event_type, ts_ms - ts_ms % 300000 AS bucket_ms,
        min(value) AS min_v, max(value) AS max_v,
        round(avg(value), 6) AS avg_v, count(value) AS n
      FROM pts GROUP BY 1, 2, 3""",

    "a1_downsample_stale" -> s"""
      WITH pts AS ($P)
      SELECT event_type, ts_ms - ts_ms % 300000 AS bucket_ms,
        min(value) AS min_v, max(value) AS max_v,
        round(avg(value), 6) AS avg_v, count(value) AS n
      FROM pts WHERE event_id % 97 <> 0 GROUP BY 1, 2""",

    "a2_preagg_routed" -> s"""
      WITH pts AS ($P)
      SELECT event_type, min(value) AS min_v, max(value) AS max_v,
        round(avg(value), 6) AS avg_v, count(value) AS n
      FROM pts GROUP BY 1""",

    "a6_agg_by" -> s"""
      WITH pts AS ($P)
      SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_series,
        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
        round(avg(value), 6) AS avg_v,
        round(quantile_cont(value, 0.5), 6) AS p50
      FROM pts GROUP BY 1""",

    "a6_topk" -> s"""
      WITH pts AS ($P), totals AS (
        SELECT event_type, user_id,
          CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_v
        FROM pts GROUP BY 1, 2)
      SELECT event_type, user_id, total_v, rnk FROM (
        SELECT *, row_number() OVER (
          PARTITION BY event_type ORDER BY total_v DESC, user_id ASC) AS rnk
        FROM totals) WHERE rnk <= 3""",

    "a6_count_values" -> s"""
      WITH pts AS ($P)
      SELECT CAST(floor(value) AS BIGINT) AS value_f, count(*) AS n
      FROM pts GROUP BY 1""",

    "w1_instant_lookback" -> s"""
      WITH pts AS ($P), grid AS ($Grid)
      SELECT user_id, event_type, eval_ms,
        (max(struct_pack(t := ts_ms, v := value))).v AS value
      FROM pts JOIN grid ON ts_ms <= eval_ms AND ts_ms > eval_ms - ${Hour}
      GROUP BY 1, 2, 3""",

    "w2_range_agg" -> s"""
      WITH pts AS ($PD), grid AS ($Grid)
      SELECT event_type, eval_ms,
        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
        count(value) AS n, min(value) AS min_v, max(value) AS max_v
      FROM pts JOIN grid ON ts_ms <= eval_ms AND ts_ms > eval_ms - ${Hour}
      GROUP BY 1, 2""",

    "w3_rate_1h" -> s"""
      WITH $RateFinSql
      SELECT event_type, eval_ms, n_samples,
        floor(delta * 1e6 + 0.5) / 1e6 AS delta_raw,
        floor(inc * 1e6 + 0.5) / 1e6 AS increase,
        floor((inc / 3600.0) * 1e6 + 0.5) / 1e6 AS rate
      FROM fin""",

    "w3_irate_1h" -> s"""
      WITH pts AS ($PD), prev AS (
        SELECT event_type, ts_ms, value,
          lag(value) OVER w AS prev_val, lag(ts_ms) OVER w AS prev_ts
        FROM pts WINDOW w AS (PARTITION BY event_type ORDER BY ts_ms)
      ), grid AS ($Grid), win AS (
        SELECT *, eval_ms,
          prev_ts IS NOT NULL AND prev_ts > eval_ms - ${Hour} AS pair_in
        FROM prev JOIN grid ON ts_ms <= eval_ms AND ts_ms > eval_ms - ${Hour})
      SELECT event_type, eval_ms, count(value) AS n_samples,
        (max(struct_pack(t := ts_ms, v := CASE WHEN pair_in THEN
          CASE WHEN value >= prev_val
            THEN (value - prev_val) / ((ts_ms - prev_ts) / 1000.0)
            ELSE value / ((ts_ms - prev_ts) / 1000.0) END END))).v AS irate,
        (max(struct_pack(t := ts_ms, v := CASE WHEN pair_in
          THEN value - prev_val END))).v AS idelta,
        CAST(sum(CASE WHEN pair_in AND value < prev_val THEN 1 ELSE 0 END)
          AS BIGINT) AS resets
      FROM win GROUP BY 1, 2
      HAVING count(value) >= 2 AND irate IS NOT NULL""",

    "w3_deriv_1h" -> s"""
      WITH pts AS ($PD), grid AS ($Grid)
      SELECT event_type, eval_ms, count(*) AS n,
        round(regr_slope(value, (ts_ms - (eval_ms - ${Hour})) / 1000.0), 6)
          AS slope
      FROM pts JOIN grid ON ts_ms <= eval_ms AND ts_ms > eval_ms - ${Hour}
      GROUP BY 1, 2 HAVING count(*) >= 2""",

    "w3_predict_linear" -> s"""
      WITH pts AS ($PD), grid AS ($Grid)
      SELECT event_type, eval_ms, count(*) AS n,
        round(regr_intercept(value, (ts_ms - eval_ms) / 1000.0)
          + regr_slope(value, (ts_ms - eval_ms) / 1000.0) * 1800.0, 6)
          AS predict
      FROM pts JOIN grid ON ts_ms <= eval_ms AND ts_ms > eval_ms - ${Hour}
      GROUP BY 1, 2 HAVING count(*) >= 2""",

    // Recursive CTE (NOT list_reduce: DuckDB 1.0 evaluates sibling
    // struct_pack fields against inconsistent accumulator state). Each
    // recursive step computes s1 once in a subquery so the FP op order
    // matches the Aggregator's loop exactly.
    "w3_holt_winters" -> s"""
      WITH RECURSIVE pts AS ($PD), grid AS ($Grid),
      l AS (SELECT event_type, eval_ms, count(*) AS n,
        list(value ORDER BY ts_ms, value) AS vs
        FROM pts JOIN grid ON ts_ms <= eval_ms AND ts_ms > eval_ms - ${Hour}
        GROUP BY 1, 2 HAVING count(*) >= 2),
      idx AS (SELECT event_type, eval_ms, n, unnest(vs) AS v,
        generate_subscripts(vs, 1) AS i FROM l),
      rec AS (
        SELECT event_type, eval_ms, n, 2 AS i, s1 AS s,
          0.1 * (s1 - v1) + (1 - 0.1) * (v2 - v1) AS b
        FROM (SELECT event_type, eval_ms, n, vs[1] AS v1, vs[2] AS v2,
          0.3 * vs[2] + (1 - 0.3) * (vs[1] + (vs[2] - vs[1])) AS s1 FROM l)
        UNION ALL
        SELECT event_type, eval_ms, n, i, s1 AS s,
          0.1 * (s1 - s0) + (1 - 0.1) * b0 AS b
        FROM (SELECT r.event_type, r.eval_ms, r.n, r.i + 1 AS i,
          0.3 * x.v + (1 - 0.3) * (r.s + r.b) AS s1, r.s AS s0, r.b AS b0
          FROM rec r JOIN idx x ON x.event_type = r.event_type
            AND x.eval_ms = r.eval_ms AND x.i = r.i + 1))
      SELECT event_type, eval_ms, n, round(s, 6) AS hw
      FROM rec WHERE i = n""",

    "w5_offset_1d" -> s"""
      WITH pts AS (SELECT event_type, ts_ms + ${Day} AS ts_ms, value
        FROM ($PD)), grid AS ($Grid)
      SELECT event_type, eval_ms,
        (max(struct_pack(t := ts_ms, v := value))).v AS value
      FROM pts JOIN grid ON ts_ms <= eval_ms AND ts_ms > eval_ms - ${Hour}
      GROUP BY 1, 2""",

    "w7_over_time" -> s"""
      WITH pts AS ($PD)
      SELECT event_type, ts_ms, value,
        CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
          / count(value) OVER w AS avg_1h,
        count(value) OVER w AS n_1h
      FROM pts WINDOW w AS (PARTITION BY event_type ORDER BY ts_ms
        RANGE BETWEEN 3599999 PRECEDING AND CURRENT ROW)""",

    "f1_matchers" -> s"""
      WITH pts AS ($P)
      SELECT event_type, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
      FROM pts
      WHERE event_type IN ('click', 'view', 'purchase')
        AND CAST(user_id AS VARCHAR) <> '42'
        AND regexp_full_match(event_type, '(?:cl.*|v.*w|pu.*e)')
      GROUP BY 1""",

    "f6_matchers_negative" -> s"""
      WITH pts AS ($P)
      SELECT event_type, count(*) AS n
      FROM pts
      WHERE coalesce(CASE WHEN user_id % 3 = 0 THEN 'gold' END, '') = ''
        AND NOT regexp_full_match(event_type, '(?:p.*)')
      GROUP BY 1""",

    "f8_time_shards" -> s"""
      WITH pts AS ($P)
      SELECT ts_ms // 604800000 AS shard, count(*) AS n,
        count(DISTINCT (user_id, event_type)) AS n_series
      FROM pts GROUP BY 1""",

    "f13_series_limit" -> s"""
      SELECT DISTINCT user_id, event_type FROM events
      ORDER BY user_id, event_type LIMIT 10""",

    "j1_points_join_series" -> s"""
      WITH pts AS ($P)
      SELECT user_id, event_type, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
      FROM pts GROUP BY 1, 2""",

    "j3_hotcold_merge" -> s"""
      WITH pts AS ($P),
      cold AS (SELECT * FROM pts WHERE ts_ms < ${Jan28}),
      hot AS (SELECT * FROM pts WHERE ts_ms >= ${Jan25}),
      fb AS (SELECT user_id, event_type, min(ts_ms) AS fh
        FROM hot GROUP BY 1, 2),
      keep AS (SELECT c.* FROM cold c
        LEFT JOIN fb USING (user_id, event_type)
        WHERE fb.fh IS NULL OR c.ts_ms < fb.fh),
      merged AS (SELECT * FROM keep UNION ALL SELECT * FROM hot)
      SELECT event_type, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
        min(ts_ms) AS min_ts, max(ts_ms) AS max_ts
      FROM merged GROUP BY 1""",

    "o2_dedup_lww" -> s"""
      WITH pts AS ($P)
      SELECT event_type, ts_ms - ts_ms % 60000 AS minute_ms,
        arg_max(value, event_id) AS value
      FROM pts GROUP BY 1, 2""",

    "o4_label_values" -> s"""
      SELECT DISTINCT 'event_type' AS label_name, event_type AS label_value
      FROM events""",

    "o4_label_names" -> s"""
      SELECT 'user_id' AS label_name UNION ALL SELECT 'event_type'""",

    "o4_series_api" -> s"""
      SELECT DISTINCT user_id, event_type FROM events
      WHERE event_type IN ('click', 'error')""",

    "o6_set_ops" -> s"""
      WITH clickers AS (SELECT DISTINCT user_id FROM events
        WHERE event_type = 'click'),
      buyers AS (SELECT DISTINCT user_id FROM events
        WHERE event_type = 'purchase')
      SELECT user_id, 'and' AS op FROM clickers
        WHERE user_id IN (SELECT user_id FROM buyers)
      UNION ALL
      SELECT user_id, 'unless' AS op FROM clickers
        WHERE user_id NOT IN (SELECT user_id FROM buyers)
      UNION ALL
      SELECT user_id, 'or' AS op FROM (
        SELECT user_id FROM clickers
        UNION ALL
        SELECT user_id FROM buyers WHERE user_id NOT IN
          (SELECT user_id FROM clickers))""",

    "m1_mutable_rewrite" -> s"""
      SELECT event_type, count(*) AS n FROM events
      WHERE event_type IN ('click', 'view', 'purchase', 'signup')
        AND event_type NOT IN ('purchase', 'signup')
      GROUP BY 1""",

    "s1_ingest_project" -> s"""
      SELECT 'acme' AS tenant, event_type, count(*) AS n FROM events
      WHERE event_type IS NOT NULL AND event_type <> '' GROUP BY 1, 2""",

    "s2_backdate" -> s"""
      WITH pts AS ($P),
      trip AS (SELECT max(ts_ms) >= ${Jan15} + 540000 AS hit FROM pts)
      SELECT event_type, count(*) AS n,
        min(CASE WHEN trip.hit THEN ts_ms - 600000 ELSE ts_ms END) AS min_ts,
        max(CASE WHEN trip.hit THEN ts_ms - 600000 ELSE ts_ms END) AS max_ts
      FROM pts, trip GROUP BY 1""",

    "s4_raw_scan" -> s"""
      WITH pts AS ($P)
      SELECT event_id, user_id, event_type, ts_ms, value FROM pts
      WHERE user_id IN (7, 42, 99) AND ts_ms BETWEEN ${Jan10} AND ${Jan20}""",

    "t1_stream_window" -> s"""
      WITH pts AS ($P)
      SELECT ts_ms - ts_ms % 300000 AS bucket_ms, event_type,
        count(*) AS n, round(sum(value), 6) AS sum_value
      FROM pts GROUP BY 1, 2""",

    "t9_ttl_expiry" -> s"""
      WITH pts AS ($P),
      t AS (SELECT *, (event_id % 50 + 1) * 86400 AS ttl_sec FROM pts),
      m AS (SELECT user_id, event_type, max(ttl_sec) AS series_ttl
        FROM t GROUP BY 1, 2)
      SELECT event_type, count(*) AS n,
        min(ts_ms) AS min_ts, max(ts_ms) AS max_ts
      FROM t JOIN m USING (user_id, event_type)
      WHERE ts_ms + series_ttl * 1000 > ${End}
      GROUP BY 1""",

    "f10_forced_matcher" -> s"""
      WITH pts AS ($P)
      SELECT event_type, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
      FROM pts
      WHERE event_type = 'click'
        AND CAST(user_id AS VARCHAR) <> '42'
        AND regexp_full_match(event_type, '(?:click|view|error)')
      GROUP BY 1""",

    "m3_label_api_override" -> s"""
      SELECT 'name' AS kind, 'user_id' AS val
      UNION ALL SELECT 'name', 'event_type'
      UNION ALL SELECT 'name', 'group'
      UNION ALL SELECT 'value', 'interactive'
      UNION ALL SELECT 'value', 'transactional'""",

    "o1_series_sorted" -> s"""
      SELECT user_id, event_type, row_number() OVER (
        ORDER BY user_id, event_type) AS ord
      FROM (SELECT DISTINCT user_id, event_type FROM events)""",

    "e2e_stream_slice" -> s"""
      WITH pts AS ($P),
      base AS (
        SELECT user_id, event_type, ts_ms,
          arg_max(value, event_id) AS value, max(event_id) AS event_id
        FROM pts GROUP BY 1, 2, 3),
      corrected AS ( -- batch-2 correction write wins LWW
        SELECT user_id, event_type, ts_ms,
          CASE WHEN event_id % 7 = 0 THEN value * 2 ELSE value END AS value
        FROM base),
      cold AS (SELECT * FROM corrected WHERE ts_ms < ${Jan20}),
      hot_raw AS (SELECT * FROM corrected WHERE ts_ms >= ${Jan15}),
      hot_max AS (SELECT user_id, event_type, max(ts_ms) AS mx
        FROM hot_raw GROUP BY 1, 2),
      flushed AS ( -- hot-buffer flush: older than horizon behind newest
        SELECT h.* FROM hot_raw h JOIN hot_max m
        USING (user_id, event_type) WHERE h.ts_ms < m.mx - ${Hour}),
      bnd AS (SELECT user_id, event_type, min(ts_ms) AS first_hot
        FROM flushed GROUP BY 1, 2),
      merged AS ( -- cold strictly before the series' first hot sample
        SELECT c.user_id, c.event_type, c.ts_ms, c.value
        FROM cold c LEFT JOIN bnd b USING (user_id, event_type)
        WHERE b.first_hot IS NULL OR c.ts_ms < b.first_hot
        UNION ALL
        SELECT user_id, event_type, ts_ms, value FROM flushed),
      grid AS (SELECT unnest(generate_series(
        ${Jan10}, ${Jan25}, ${Hour})) AS eval_ms),
      -- instant-vector lookback as an ASOF join: the naive
      -- (merged JOIN grid ON ts <= eval AND ts > eval - 6h) range join
      -- materializes points x window-steps and exhausts oracle memory
      -- at sf1; the ASOF form sort-merges each (series, eval step) to
      -- its single newest sample, then the lookback filter drops stale
      -- matches. merged is (series, ts)-unique (LWW dedup upstream),
      -- so the ASOF pick equals the old max(struct(t, v)).v
      ser AS (SELECT DISTINCT user_id, event_type FROM merged),
      sg AS (SELECT s.user_id, s.event_type, g.eval_ms
        FROM ser s CROSS JOIN grid g),
      -- the lookback bound rides a CASE projection, NOT a WHERE on the
      -- join: DuckDB would push a join-key predicate into the ASOF ON
      -- clause and reject it as a second inequality
      inst AS (SELECT sg.user_id, sg.event_type, sg.eval_ms,
        CASE WHEN m.ts_ms > sg.eval_ms - ${6 * Hour} THEN m.value END
          AS value
        FROM sg ASOF JOIN merged m
          ON m.user_id = sg.user_id AND m.event_type = sg.event_type
            AND m.ts_ms <= sg.eval_ms)
      -- sum mirrors Compiler.sumDet: non-finite groups fall back to
      -- the IEEE-saturated plain sum (engine parity; fixture data is
      -- finite so this arm is dormant at gate scale); single-sample
      -- groups pass the sample through raw; multi-sample groups
      -- accumulate exact fixed-point on the 2^-49 grid via the SPLIT
      -- form floor(v)*2^49 + floor((v-floor(v))*2^49) — the direct
      -- floor(v*2^49) would be long-saturated on the Spark side for
      -- |v| >= 2^14, and v-floor(v) is Sterbenz-exact, so the split is
      -- bit-identical in both engines for any |v| < 2^63. HUGEINT sums
      -- are exact integers, so the sum is independent of add order in
      -- BOTH engines; the final 6-decimal round is the same
      -- floor(x*1e6+0.5)/1e6 double-op sequence as Spark's r6
      SELECT event_type, eval_ms,
        floor((CASE
          WHEN max(CASE WHEN isnan(value) OR isinf(value) THEN 1
            ELSE 0 END) = 1 THEN sum(value)
          WHEN count(value) = 1 THEN min(value)
          ELSE CAST(sum(CAST(floor(value) AS HUGEINT)
              * 562949953421312::HUGEINT
            + CAST(floor((value - floor(value)) * 562949953421312.0)
              AS HUGEINT))
            AS DOUBLE) / 562949953421312.0 END) * 1e6 + 0.5) / 1e6
          AS value
      FROM inst WHERE value IS NOT NULL GROUP BY 1, 2""",

    "j2_series_expiry" -> s"""
      WITH pts AS ($P),
      e AS (SELECT user_id, event_type,
        max(ts_ms) + 7 * 86400000 AS expiration_ms
        FROM pts GROUP BY 1, 2)
      SELECT event_type, count(*) AS n_series,
        count(*) FILTER (expiration_ms <= ${Jan20}) AS n_expired
      FROM e GROUP BY 1"""
  )
}
