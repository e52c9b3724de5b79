package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * Floating-point determinism: dot products and norms are computed as a
  * sequential left fold over the vector (`aggregate`), in double precision —
  * bit-identical across engines and partitionings, so ranking ties resolve
  * the same way everywhere (and in the DuckDB oracle).
  *
  * Scale path: [[bruteForceTopK]] is the exact baseline — a broadcast of the
  * (small) query set against the full corpus, one pass, one per-query top-k
  * aggregate; no shuffle of the corpus. [[lshTopK]] buckets vectors by
  * sign-random-projection so each query only scans its bucket — the 100 TB
  * variant where the corpus side is also large. (IVF would replace the
  * hyperplanes with k-means centroids; same plan shape.)
  */
object Ann {

  /** Σ aᵢ·bᵢ as a sequential fold in double precision — the fused
    * codegen'd form ([[graft.functions.VecDot]]); bit-identical to
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` but one loop inside
    * WholeStageCodegen instead of an interpreted higher-order chain.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorOps.vecDot(a, b)

  def norm2(a: Column): Column = dot(a, a)

  /** Σ (aᵢ−bᵢ)² as a sequential fold in double precision — the same
    * ordered-fold discipline as [[dot]], so two engines executing the
    * identical IEEE op sequence produce bit-identical distances.
    */
  def sqdist(a: Column, b: Column): Column =
    graft.functions.VectorOps.vecSqDist(a, b)

  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (sqrt(normA) * sqrt(normB))

  /** Exact top-k cosine neighbors for each query vector.
    * @param queries  (vec_id, embedding) — small, broadcast
    * @param corpus   (vec_id, embedding) — large, streamed
    *
    * The ranking is a bounded-state [[TopKAgg]] — partial aggregation
    * ships k candidates per map task instead of windowing the full scored
    * set through one shuffle (see TopKAgg scaladoc).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("nn_id"), col("embedding").as("nn_emb"))
      .withColumn("nn_norm", norm2(col("nn_emb")))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .withColumn("q_norm", norm2(col("q_emb")))
    val scored = c.join(broadcast(q), col("nn_id") =!= col("q_id"))
      .withColumn("cos",
        cosine(col("q_emb"), col("nn_emb"), col("q_norm"), col("nn_norm")))
    rankTopK(scored, k)
  }

  /** kNN label vote: each query takes the majority label of its top-k
    * LABELED neighbors, ties breaking to the smaller label — the
    * classify-by-neighborhood step of an embedding-space audit
    * (label-noise detection, split assignment). The corpus needs a
    * `label` column alongside `vec_id`/`embedding`; NULL-labeled rows
    * are excluded from the neighbor set up front (an unlabeled example
    * can neither vote nor crowd a labeled one out of the top-k — and a
    * NULL vote would tie-break differently per engine: Spark sorts
    * NULLS FIRST on ASC, DuckDB NULLS LAST).
    *
    * ONE corpus scan: the label rides through the bounded top-k state
    * ([[TopKLabelAgg]]) instead of being fetched by a second corpus
    * join after ranking. The vote relation is |queries|·|labels| rows —
    * aggregate-small, so everything after the scan is trivial at any
    * corpus size.
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.where(col("label").isNotNull)
      .select(col("vec_id").as("nn_id"), col("embedding").as("nn_emb"),
        col("label").cast("long").as("pred_label"))
      .withColumn("nn_norm", norm2(col("nn_emb")))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .withColumn("q_norm", norm2(col("q_emb")))
    val topk = udaf(new TopKLabelAgg(k))
    val votes = c.join(broadcast(q), col("nn_id") =!= col("q_id"))
      .withColumn("cos",
        cosine(col("q_emb"), col("nn_emb"), col("q_norm"), col("nn_norm")))
      .groupBy(col("q_id"))
      .agg(topk(col("cos"), col("nn_id"), col("pred_label")).as("top"))
      .select(col("q_id"), explode(col("top")).as("nn"))
      .groupBy(col("q_id"), col("nn.label").as("pred_label"))
      .agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("n_votes").desc, col("pred_label").asc)
    votes.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("q_id"), col("pred_label"), col("n_votes"))
  }

  /** Final ranking via the bounded top-k aggregate; output identical to a
    * `row_number` window over (cos desc, nn_id asc).
    */
  private[similarity] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopKAgg(k))
    scored
      .groupBy(col("q_id"))
      .agg(topk(col("cos"), col("nn_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("nn_id"),
        col("col.cos").as("cos_sim")) // raw double: bit-exact cross-engine
  }

  /** Deterministic pseudo-random hyperplane component for (plane j, dim d):
    * uniform in [-1, 1), derived from md5 so any engine reproduces it.
    * Computed ONCE on the driver — the plane matrix is a constant; an
    * earlier version derived it per row with in-plan md5 calls, which cost
    * nPlanes×dims digests per vector (~1000× the arithmetic of the fold).
    */
  private def planeComponent(j: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${j}_${d}".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16).toDouble /
      2147483648.0 - 1.0
  }

  /** Sign-random-projection bucket signature (nPlanes bits) per vector,
    * MSB = plane 0. The plane weights are embedded as array literals, so
    * the per-row work is nPlanes ordered dot-product folds — codegen'd,
    * no digests, bit-identical to the md5-derived definition above.
    */
  def srpSignature(emb: Column, nPlanes: Int, dims: Int): Column = {
    val bits = (0 until nPlanes).map { j =>
      val w = array((0 until dims).map(d => lit(planeComponent(j, d))): _*)
      val proj = dot(emb, w)
      when(proj >= 0, lit(1L)).otherwise(lit(0L))
    }
    bits.foldLeft(lit(0L))((acc, b) => acc * 2 + b)
  }

  /** Approximate top-k: candidates restricted to the query's SRP bucket.
    * Falls back to fewer than k results when a bucket is small (standard
    * LSH behavior; recall measured in the test suite).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nPlanes: Int = 8, dims: Int = 64): DataFrame = {
    val c = corpus
      .select(col("vec_id").as("nn_id"), col("embedding").as("nn_emb"))
      .withColumn("bucket", srpSignature(col("nn_emb"), nPlanes, dims))
      .withColumn("nn_norm", norm2(col("nn_emb")))
    val q = queries
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .withColumn("bucket", srpSignature(col("q_emb"), nPlanes, dims))
      .withColumn("q_norm", norm2(col("q_emb")))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .where(col("nn_id") =!= col("q_id"))
      .withColumn("cos",
        cosine(col("q_emb"), col("nn_emb"), col("q_norm"), col("nn_norm")))
    rankTopK(scored, k)
  }

  /** IVF-flat coarse quantizer: K centroid arrays from one deterministic
    * Lloyd iteration (init = per-dim mean of the `vec_id % K` partition,
    * then reassign-to-nearest + recompute). Set-oriented throughout:
    * means are decimal-accumulated per (cell, dim) — order-independent,
    * so the centroids are bit-identical across partitionings and engines
    * — and distances are ordered folds. At 100 TB the quantizer trains on
    * a sample; the cells DataFrame is K rows (broadcast everywhere).
    */
  def ivfCells(corpus: DataFrame, nCells: Int): DataFrame = {
    val vecs = corpus.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d"),
        col("x").cast("double").as("x"))
    def meanCentroids(assigned: DataFrame): DataFrame =
      vecs.join(assigned, "vec_id")
        .groupBy("c", "d")
        .agg((sum(col("x").cast("decimal(27,12)")).cast("double") /
          count(lit(1))).as("w"))
        .groupBy("c")
        .agg(transform(sort_array(collect_list(struct(col("d"), col("w")))),
          e => e.getField("w")).as("cen"))
    val init = meanCentroids(
      corpus.select(col("vec_id"), pmod(col("vec_id"), lit(nCells)).as("c")))
    meanCentroids(assignCells(corpus, init)
      .select(col("vec_id"), col("c")))
  }

  /** One-row literal relation `outName: array<elem>` built on the driver —
    * the pin medium of the Lloyd/GD iteration chains. Each iteration's
    * centroid/weight frame is collected and re-created as a LITERAL: the
    * t-th broadcast otherwise embeds (re-serializes, and on a cluster
    * re-executes) a lineage growing with t — the 1.55× cluster-vs-local
    * ratio d9 paid at sf100 (r14 pricing). The collect round-trips JVM
    * doubles bit-exactly, so only the PLAN changes; unlike
    * `localCheckpoint`, the literal survives executor loss (the r10
    * durable-pin lesson) and costs no block-manager residency.
    *
    * r17: the chains collect the LONG-FORMAT aggregate output (≤ k·d
    * doubles — dimension-sized, guide §5's driver budget) and nest it
    * here instead of collecting a pre-nested one-row frame: the
    * nest-to-one-row reshaping aggregates (groupBy collect_list + global
    * collect_list) were 2 extra shuffles per iteration, each an AQE
    * stage job plus a planning round — pure driver-side latency at any
    * scale (measured r17: v6 ran 15 jobs for 2 Lloyd iterations, job
    * time 0.8 s of a 2.2 s wall; the corpus-scale (group, dim) mean
    * aggregate is untouched and stays in Spark).
    */
  private[graft] def dimLit(spark: org.apache.spark.sql.SparkSession,
      elem: org.apache.spark.sql.types.DataType, values: Seq[Any],
      outName: String): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
    val one = new java.util.ArrayList[org.apache.spark.sql.Row]()
    one.add(org.apache.spark.sql.Row(values))
    spark.createDataFrame(one,
      StructType(Seq(StructField(outName, ArrayType(elem)))))
  }

  /** Nearest cell per vector: K ordered-fold L2 distances, argmin with
    * deterministic (dist, c) tiebreak.
    */
  def assignCells(vectors: DataFrame, cells: DataFrame): DataFrame = {
    vectors.crossJoin(broadcast(cells))
      .withColumn("dist", sqdist(col("embedding"), col("cen")))
      .groupBy("vec_id")
      .agg(min(struct(col("dist").as("dd"), col("c").as("c")))
        .getField("c").as("c"),
        min(struct(col("dist").as("dd"), col("c").as("c")))
          .getField("dd").as("dist"))
  }

  /** IVF-flat approximate top-k over a PERSISTED index: each query probes
    * its `nProbe` nearest cells and reranks exactly within them — the
    * classic inverted-file scale path (the corpus is scanned per-cell,
    * never in full). `cells` (K rows, broadcast) and `asg` (vec_id → cell,
    * the inverted file) come from [[graft.store.Store.buildIvfIndex]]:
    * the index is built ONCE by an index job and read back from parquet —
    * never recomputed or pinned per query (VERDICT r3 #1; the same
    * build-once / probe-many pattern as the j1 series dimension). Recall
    * falls back gracefully when the true neighbors live outside the
    * probed cells.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      cells: DataFrame, asg: DataFrame, nProbe: Int = 2): DataFrame = {
    // probe ranking: per query the nProbe nearest centroids
    val qDist = assignCellsAll(queries, cells)
    val w = Window.partitionBy("vec_id").orderBy(col("dist"), col("c"))
    val probes = qDist
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= nProbe)
      .select(col("vec_id").as("q_id"), col("c"))
    ivfTopKProbes(corpus, queries, k, asg, probes)
  }

  /** [[ivfTopK]] downstream of an arbitrary (q_id, c) probe list —
    * shared by the fixed-nProbe selector above and the budget-adaptive
    * [[probeCellsBudget]] (v15's IVF-flat form).
    */
  def ivfTopKProbes(corpus: DataFrame, queries: DataFrame, k: Int,
      asg: DataFrame, probes: DataFrame): DataFrame = {
    val c = corpus.join(asg, "vec_id")
      .select(col("vec_id").as("nn_id"), col("embedding").as("nn_emb"),
        col("c"))
      .withColumn("nn_norm", norm2(col("nn_emb")))
    val q = queries.select(col("vec_id").as("q_id"),
        col("embedding").as("q_emb"))
      .withColumn("q_norm", norm2(col("q_emb")))
      .join(probes, "q_id")
    val scored = c.join(broadcast(q), Seq("c"))
      .where(col("nn_id") =!= col("q_id"))
      .withColumn("cos",
        cosine(col("q_emb"), col("nn_emb"), col("q_norm"), col("nn_norm")))
    rankTopK(scored, k)
  }

  /** All (vector, cell) distances — the probe-ranking input. */
  private def assignCellsAll(vectors: DataFrame, cells: DataFrame): DataFrame =
    vectors.crossJoin(broadcast(cells))
      .withColumn("dist", sqdist(col("embedding"), col("cen")))

  /** Filtered vector search over a SHARED index — the production
    * "filtered ANN" pattern (FAISS `IDSelector`, Milvus/Qdrant filtered
    * search; reference: `api/remotestorage` couples every read with label
    * matchers the same way): ONE IVF index serves every per-query metadata
    * predicate, so the filter is applied at probe time rather than baked
    * into the index. Strategy is selectivity-adaptive — the standard
    * two-regime plan:
    *
    *   - '''selective predicate''' (`selectivity < nProbe/nCells`): the
    *     filtered subset is already smaller than the corpus slice a probe
    *     would scan, so brute-force it EXACTLY (pre-filter). The index is
    *     bypassed; recall is 1 by construction, and the scan is
    *     `selectivity · |corpus|` rows.
    *   - '''broad predicate''': probe the `nProbe` nearest cells as usual
    *     and apply the predicate in-cell (post-filter). The scan is
    *     `(nProbe/K) · |corpus|` rows regardless of the filter; recall
    *     inherits the IVF cell-miss bound.
    *
    * The crossover `nProbe/nCells` equates the two scan costs, so the
    * chosen branch is never the larger scan. `selectivity` is the caller's
    * measured `|σ(corpus)| / |corpus|` (a count the caller can memoize per
    * corpus+predicate — it is index-build-time metadata, not per-query
    * work).
    */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      cells: DataFrame, asg: DataFrame, pred: Column, selectivity: Double,
      nCells: Int, nProbe: Int = 2): DataFrame =
    if (selectivity < nProbe.toDouble / nCells)
      bruteForceTopK(corpus.where(pred), queries, k)
    else
      ivfTopK(corpus.where(pred), queries, k, cells, asg, nProbe)

  /** Embedding-cosine near-duplicate pairs: SRP-bucketed self-join (only
    * same-bucket vectors are compared — linear in bucket sizes, never
    * O(n²)), then the exact cosine filter. The corpus-side dedup analogue
    * of [[lshTopK]]; recall is bounded by the bucket collision probability
    * of the planes (standard SRP-LSH).
    */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double,
      nPlanes: Int = 8, dims: Int = 64): DataFrame = {
    val c = corpus
      .select(col("vec_id"), col("embedding"))
      .withColumn("bucket", srpSignature(col("embedding"), nPlanes, dims))
      .withColumn("norm", norm2(col("embedding")))
    val a = c.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
      col("bucket"), col("norm").as("norm_a"))
    val b = c.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
      col("bucket"), col("norm").as("norm_b"))
    a.join(b, Seq("bucket"))
      .where(col("vec_a") < col("vec_b"))
      .withColumn("cos_sim",
        cosine(col("emb_a"), col("emb_b"), col("norm_a"), col("norm_b")))
      .where(col("cos_sim") >= threshold)
      .select("vec_a", "vec_b", "cos_sim")
  }

  /** Semantic decontamination: every training vector whose embedding
    * lies within cosine `tau` of ANY benchmark vector, with the hit
    * count and the strongest-matching benchmark id — the
    * embedding-space analogue of n-gram decontamination
    * ([[graft.dedup.Dedup.decontaminate]]): it catches the paraphrased
    * / re-rendered benchmark leakage exact shingle overlap misses
    * (the published embedding-similarity decontamination step of
    * modern pretraining pipelines; cross-set SemDeDup).
    *
    * Scale shape: the benchmark side is benchmark-sized (thousands of
    * rows however large the corpus) and BROADCASTS; the training
    * corpus streams through ONE scan with a per-row pass over the
    * broadcast bench vectors — corpus embeddings never shuffle, and
    * the output is bounded by the contaminated set. Cosines use the
    * ordered-fold [[cosine]] (bit-identical across engines), so the
    * τ cut selects the same survivors everywhere; the strongest-match
    * tie (two bench copies at equal cosine) resolves to the smaller
    * bench id.
    */
  def semanticDecon(train: DataFrame, bench: DataFrame,
      tau: Double): DataFrame = {
    val b = broadcast(bench
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
      .withColumn("b_norm", norm2(col("b_emb"))))
    val t = train.select(col("vec_id"), col("embedding").as("t_emb"))
      .withColumn("t_norm", norm2(col("t_emb")))
    t.crossJoin(b)
      .withColumn("cos",
        cosine(col("t_emb"), col("b_emb"), col("t_norm"), col("b_norm")))
      .where(col("cos") >= tau)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_bench_hits"),
        max(struct(col("cos").as("c"), (-col("b_id")).as("nb"))).as("__m"))
      .select(col("vec_id"), col("n_bench_hits"),
        col("__m.c").as("max_sim"),
        (-col("__m.nb")).cast("long").as("worst_bench_id"))
  }

  /** 2^49 — the fixed-point accumulation grid of [[groupCentroids]]. A
    * power of two, so `x * CentroidScale` is an EXACT double (only the
    * exponent shifts) and `floor` of it is unambiguous in every engine —
    * unlike a double→decimal cast, whose half-way ties Spark rounds
    * HALF_UP and DuckDB half-even (measured: float 0.1983642578125 is an
    * exact tie at 12 decimal digits and the two engines disagree by 1e-12).
    */
  val CentroidScale: Double = 562949953421312.0

  /** Deterministic fixed-point SUM of `floor(v·2^49)` over a group —
    * the quantizer-side twin of `promql.Compiler.gridSum` (the r15
    * LongType-floor saturation class; this was its FOURTH instance,
    * found by the r16 audit): Spark's `floor(double)` returns LongType
    * and silently saturates at ±2^63, so the old per-row
    * `floor(x·2^49)` corrupted centroid/gradient accumulation once
    * |x| ≥ 2^14 — routine unnormalized feature magnitudes — while the
    * DuckDB mirrors (double `floor`, binary-exact decimal cast) stayed
    * correct, i.e. silent cross-engine divergence outside gate-data
    * magnitudes. The split `floor(v·2^49) = floor(v)·2^49 +
    * floor((v−floor(v))·2^49)` is exact integer arithmetic for any
    * finite |v| < 2^63 (power-of-two scaling shifts exponents only;
    * v−floor(v) is Sterbenz-exact), and distributivity moves the
    * decimal multiply to once per GROUP: per-row cost is two long
    * floors + two long→decimal casts, the same map-side-combinable
    * partial-sum shape as before. |v| ≥ 2^63 raises loudly (the sumDet
    * contract; DuckDB raises at its own decimal bound — neither engine
    * is silent); group Σ|v| must stay under ~1.7e23 (decimal(38,0)
    * headroom at 2^49 scale), also loud under ANSI.
    */
  def gridFloorSum(v0: Column): Column = {
    val v = when(abs(v0) >= lit(9.223372036854776e18), raise_error(lit(
      "quantize: |value| >= 2^63 exceeds the fixed-point grid's long " +
        "range")).cast("double")).otherwise(v0)
    val i = floor(v)
    val g = floor((v - i.cast("double")) * lit(CentroidScale))
    sum(i.cast("decimal(20,0)")) *
      lit(562949953421312L).cast("decimal(15,0)") +
      sum(g.cast("decimal(20,0)"))
  }

  /** `floor` with DOUBLE semantics at every magnitude — for
    * presentation/rounding grids whose result stays a double (no
    * decimal accumulation): any |y| ≥ 2^52 is already integral in
    * double, so `floor(y) = y` there and the LongType floor (exact
    * below 2^63, silently saturating past it) is never consulted in
    * the regime where it lies. Mirrors DuckDB's `floor(double)` —
    * which IS double→double — bit-for-bit at all magnitudes,
    * NaN/±Inf included (they take the ≥2^52 arm and pass through).
    */
  def floorD(y: Column): Column =
    when(abs(y) >= lit(4.503599627370496e15) || isnan(y), y)
      .otherwise(floor(y).cast("double"))

  /** Per-group embedding centroids in long format (group, d, w): one
    * posexplode + hash aggregate. Means are fixed-point-accumulated per
    * (group, dim): each value is floored onto the 2^-49 grid (an exact,
    * tie-free double op — see [[CentroidScale]]), summed exactly as an
    * integer DECIMAL(38,0) (order-independent; overflows at ~10^17 rows
    * per group, loudly), and divided back in double. The centroid is
    * bit-identical across partitionings and engines; the grid bias is
    * ≤ 2^-49 per value — twelve orders below float input precision.
    * (The [[ivfCells]] decimal discipline keyed by a semantic group; at
    * 100 TB the output is |groups| × dims rows — a broadcastable
    * dimension however large the corpus.)
    */
  def groupCentroids(vectors: DataFrame, group: String): DataFrame =
    vectors.select(col(group),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col(group), col("d").cast("long").as("d"),
        col("x").cast("double").as("x"))
      .groupBy(group, "d")
      .agg((gridFloorSum(col("x")).cast("double") /
        count(lit(1)) / CentroidScale).as("w"))

  /** Prototype-based data pruning (Sorscher et al., "Beyond neural
    * scaling laws", NeurIPS 2022): within each group, rank examples by
    * cosine similarity to the group centroid — the most prototypical
    * (highest-cosine) examples carry the least training signal — and
    * keep the `keepFrac` hardest (lowest-cosine) ones. Deterministic:
    * the centroid is decimal-accumulated, every cosine an ordered fold,
    * ties broken by id. Plan shape: centroid dim (|groups| rows,
    * broadcast) joined back to the corpus, one window shuffle on the
    * group key — no pairwise comparisons at all, which is what makes
    * this the scale path next to pairwise SemDeDup ([[cosineNearDupPairs]]).
    */
  def prototypePrune(vectors: DataFrame, keepFrac: Double,
      group: String = "label"): DataFrame = {
    val cen = groupCentroids(vectors, group)
      .groupBy(group)
      .agg(transform(sort_array(collect_list(struct(col("d"), col("w")))),
        e => e.getField("w")).as("cen"))
    val bygrp = Window.partitionBy(group)
    val win = bygrp.orderBy(col("cos_sim"), col("vec_id"))
    vectors.join(broadcast(cen), group)
      .withColumn("cos_sim",
        cosine(col("embedding"), col("cen"),
          norm2(col("embedding")), norm2(col("cen"))))
      .withColumn("rnk", row_number().over(win).cast("long"))
      .withColumn("__cnt", count(lit(1)).over(bygrp))
      .withColumn("keep", col("rnk") <=
        ceil(lit(keepFrac) * col("__cnt").cast("double")).cast("long"))
      .select(col("vec_id"), col(group), col("cos_sim"), col("keep"))
  }

  /** Fixed-iteration Lloyd k-means over the embedding corpus — the
    * clustering stage behind semantic dedup (SemDeDup partitions the
    * corpus into k-means cells before pairwise comparison), topic
    * balancing, and cluster-aware sampling. Deterministic and
    * engine-exact by construction:
    *  - seeds are the k first ids in md5(id) order (ties → smaller id);
    *    the CLUSTER LABEL IS THE SEED's id (no ranking window needed,
    *    stable in any engine). Hashing decorrelates the seed set from
    *    ingest order — "k smallest ids" degenerates when small ids
    *    cluster in embedding space (e.g. a corpus prefix from one
    *    source) — while staying deterministic and engine-portable;
    *  - every distance is [[sqdist]]'s ordered IEEE fold, so both engines
    *    compare bit-identical doubles; argmin ties break on the smaller
    *    cluster id (lexicographic struct-min = the oracle's
    *    ORDER BY d, cid);
    *  - each update re-quantizes the mean on the [[CentroidScale]]
    *    fixed-point grid (exact integer DECIMAL sums, order-independent),
    *    so iteration i+1 starts from bit-identical centroids in any
    *    engine and under any partitioning.
    * Clusters emptied by a round drop out (their seed id stops
    * appearing); both engines agree because the update is an inner
    * aggregate over the same assignment.
    *
    * Plan shape per iteration: the k centroids ride as ONE array-of-
    * structs row (k·d doubles — k-bounded by the caller, so the
    * broadcast hint is safe), which makes ASSIGNMENT A PURE PROJECTION —
    * an `array_min` over the k (distance, cid) structs per row, zero
    * shuffle. The only corpus-scale shuffle per iteration is the
    * (cluster, dim) mean aggregate, and it partial-aggregates to ≤ k·d
    * groups map-side. `iters` is a small fixed constant — a bounded,
    * reproducible pipeline stage, not convergence hunting; at 100 TB
    * each extra iteration is one more corpus scan.
    */
  def kmeans(vectors: DataFrame, k: Int, iters: Int,
      id: String = "vec_id"): DataFrame =
    kmeansAssign(vectors, k, iters, id)
      .select(col(id), col("cid").as("cluster"))

  /** [[kmeans]] keeping each row's embedding alongside its final cell —
    * the form [[semdedup]] consumes without re-joining the corpus.
    */
  private def kmeansAssign(vectors: DataFrame, k: Int, iters: Int,
      id: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}
    val v = vectors.select(col(id), col("embedding"))
    val spark = v.sparkSession
    // one row: array of (cid, cen) structs as a driver-built LITERAL
    // ([[dimLit]]) — array_min below is order-insensitive, elements are
    // sorted by cid string only for plan determinism
    val censElem = StructType(Seq(
      StructField("cid", v.schema(id).dataType),
      StructField("cen", ArrayType(DoubleType))))
    def censLit(cens: Seq[Row]): DataFrame =
      dimLit(spark, censElem, cens, "__cens")
    val seed = censLit(
      v.orderBy(md5(col(id).cast("string")), col(id)).limit(k)
        .select(col(id).as("cid"),
          col("embedding").cast("array<double>").as("cen"))
        .collect().toSeq.map(r => Row(r.get(0), r.getSeq[Double](1))))
    def assign(cens: DataFrame): DataFrame =
      v.crossJoin(broadcast(cens))
        .withColumn("__m", array_min(transform(col("__cens"),
          c => struct(sqdist(col("embedding"), c.getField("cen")).as("d"),
            c.getField("cid").as("cid")))))
        .select(col(id), col("__m.cid").as("cid"), col("embedding"))
    // the mean IS groupCentroids keyed by cell — one fixed-point
    // discipline, not a re-implementation the oracle could drift from.
    // ONE (cid, d, w) aggregate per iteration reaches Spark; the
    // nest-to-one-row reshape happens on the driver over ≤ k·d doubles
    // (the w values are the collected aggregate outputs, bit-unchanged)
    def update(assigned: DataFrame): Seq[Row] =
      groupCentroids(assigned.select(col("cid"), col("embedding")), "cid")
        .collect().toSeq
        .groupBy(_.get(0)).toSeq.sortBy(_._1.toString)
        .map { case (cid, rs) =>
          Row(cid, rs.sortBy(_.getLong(1)).map(_.getDouble(2))) }
    // pin each iteration's centroid literal: without it, the t-th
    // broadcast's plan re-executes iterations 0..t-1 (quadratic
    // corpus scans) and the serialized lineage grows per round
    val finalCens = (1 to iters).foldLeft(seed) { (cens, _) =>
      censLit(update(assign(cens)))
    }
    assign(finalCens)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): embedding-space
    * near-duplicate PAIRS found by clustering the corpus into k-means
    * cells and comparing pairs only WITHIN a cell — the published recipe
    * for web-scale semantic dedup, where the cell structure (not random
    * hyperplanes) bounds the quadratic. Exact duplicates always share a
    * cell (identical vectors assign identically), so exact-dup recall is
    * total; cross-cell near-dups are deliberately out of scope — that
    * recall/cost trade IS the method ([[cosineNearDupPairs]] is the
    * SRP-bucketed alternative with the complementary trade).
    *
    * Scale shape: one k-means chain (projection assignment), then a
    * self-join keyed on the cell id — quadratic only within a cell. At
    * 100 TB, k grows with the corpus (cells stay ~constant-sized), the
    * join shuffles each row once on its cell key, and cosine is the
    * ordered IEEE fold — engine-exact, like every distance here.
    */
  def semdedup(vectors: DataFrame, k: Int, iters: Int, threshold: Double,
      id: String = "vec_id"): DataFrame = {
    // materialize the assignment ONCE at the cluster→pair boundary: both
    // self-join sides reuse it instead of re-running the k-means chain's
    // corpus scans and k·d distance folds per side. DURABLE pin
    // (staged parquet, Stage.pin): the relation carries the embeddings
    // — corpus-scale — so an executor-local pin would be a
    // fault-tolerance cliff on a real cluster
    val a = graft.store.Stage.pin(
      kmeansAssign(vectors, k, iters, id)
        .withColumn("__n2", norm2(col("embedding"))), "semdedup-asg")
    val l = a.select(col("cid"), col(id).as("vec_a"),
      col("embedding").as("__ea"), col("__n2").as("__na"))
    val r = a.select(col("cid").as("__rcid"), col(id).as("vec_b"),
      col("embedding").as("__eb"), col("__n2").as("__nb"))
    l.join(r, col("cid") === col("__rcid") && col("vec_a") < col("vec_b"))
      .withColumn("cos_sim",
        cosine(col("__ea"), col("__eb"), col("__na"), col("__nb")))
      .where(col("cos_sim") >= threshold)
      .select("vec_a", "vec_b", "cos_sim")
  }

  /** Subspace `s` of an embedding under a fixed `subDim` split (Jégou et
    * al. 2011 product quantization: dims [s·subDim, (s+1)·subDim)).
    */
  private def subSlice(emb: Column, s: Column, subDim: Int): Column =
    slice(emb, (s * subDim + 1).cast("int"), lit(subDim))

  /** The m-way code assignment: one projection over the corpus against
    * the one-row broadcast codebook array (see [[pqCodes]]).
    */
  private def pqAssign(v: DataFrame, cens: DataFrame, m: Int, subDim: Int,
      id: String): DataFrame = {
    val subs = sequence(lit(0), lit(m - 1))
    v.crossJoin(broadcast(cens))
      .withColumn("codes", transform(subs, s =>
        struct(s.as("sub"),
          array_min(transform(
            filter(col("__cens"), c => c.getField("sub") === s),
            c => struct(
              sqdist(subSlice(col("embedding"), s, subDim),
                c.getField("cen")).as("d"),
              c.getField("cid").as("cid")))).getField("cid").as("cid"))))
      .select(col(id), col("embedding"), col("codes"))
  }

  /** Trained codebooks as the one-row `__cens` array of (sub, cid, cen)
    * — the Lloyd chain of [[pqCodes]]'s scaladoc.
    */
  private def pqTrain(v: DataFrame, m: Int, subDim: Int, k: Int,
      iters: Int, id: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
    val spark = v.sparkSession
    // one row: array of (sub, cid, cen) structs as a driver-built
    // LITERAL ([[dimLit]]); downstream consumers filter by sub and
    // sort_array, so element order is plan cosmetics only
    val censElem = StructType(Seq(
      StructField("sub", IntegerType),
      StructField("cid", v.schema(id).dataType),
      StructField("cen", ArrayType(DoubleType))))
    def censLit(cens: Seq[Row]): DataFrame =
      dimLit(spark, censElem, cens, "__cens")
    val subs = sequence(lit(0), lit(m - 1))
    val seed = censLit(
      v.orderBy(md5(col(id).cast("string")), col(id)).limit(k)
        .select(col(id).as("cid"), col("embedding").as("emb"))
        .select(col("cid"), explode(subs).as("sub"), col("emb"))
        .select(col("sub"), col("cid"),
          subSlice(col("emb"), col("sub"), subDim).as("cen"))
        .collect().toSeq
        .map(r => Row(r.getInt(0), r.get(1), r.getSeq[Double](2))))
    // ONE (sub, cid, d, w) aggregate per iteration reaches Spark; the
    // two nest-to-one-row reshapes happen on the driver over ≤ m·k·d
    // doubles (w values are the collected aggregate outputs, unchanged)
    def update(asg: DataFrame): Seq[Row] =
      asg.select(col("embedding"), explode(col("codes")).as("c"))
        .select(col("c.sub").as("sub"), col("c.cid").as("cid"),
          posexplode(subSlice(col("embedding"), col("c.sub"), subDim))
            .as(Seq("d", "x")))
        .select(col("sub"), col("cid"), col("d").cast("long").as("d"),
          col("x").cast("double").as("x"))
        .groupBy("sub", "cid", "d")
        .agg((gridFloorSum(col("x")).cast("double") /
          count(lit(1)) / CentroidScale).as("w"))
        .collect().toSeq
        .groupBy(r => (r.getInt(0), r.get(1))).toSeq
        .sortBy { case ((s, c), _) => (s, c.toString) }
        .map { case ((s, c), rs) =>
          Row(s, c, rs.sortBy(_.getLong(2)).map(_.getDouble(3))) }
    (1 to iters).foldLeft(seed)((c, _) =>
      censLit(update(pqAssign(v, c, m, subDim, id))))
  }

  /** Product quantization (Jégou, Douze, Schmid, "Product quantization
    * for nearest neighbor search", TPAMI 2011): split each embedding
    * into `m` subspaces of `subDim` dims, run an independent k-codeword
    * Lloyd chain per subspace, and code every vector as its m
    * per-subspace argmin codewords — the compressed form behind
    * billion-scale ANN (an IVF cell list stores m bytes per vector, not
    * m·subDim floats). Output in long format: (id, sub, code).
    *
    * Scale shape — ONE corpus scan per iteration TOTAL, not per
    * subspace: all m codebooks ride as a single array-of-structs row
    * (m·k·subDim = k·dims doubles, same broadcast budget as [[kmeans]]),
    * so the m-way assignment is one pure projection (per-row work
    * m·k·subDim = the k·dims of plain k-means), and the only shuffle per
    * iteration is the (sub, codeword, dim) mean — ≤ m·k·dims groups,
    * map-side combined. Training on the full corpus keeps the oracle
    * exact; a production run trains codebooks on a sample and reuses the
    * same broadcast-projection encode, which this plan shape already is.
    *
    * Engine-exact by the [[kmeans]] discipline: per-subspace seeds are
    * the k first ids in md5(id) order (codeword label = seed id), every
    * distance [[sqdist]]'s ordered IEEE fold, argmin ties to the smaller
    * codeword id, means re-quantized on the [[CentroidScale]] grid.
    */
  def pqCodes(vectors: DataFrame, m: Int, subDim: Int, k: Int, iters: Int,
      id: String = "vec_id"): DataFrame = {
    val v = vectors.select(col(id),
      col("embedding").cast("array<double>").as("embedding"))
    pqAssign(v, pqTrain(v, m, subDim, k, iters, id), m, subDim, id)
      .select(col(id), explode(col("codes")).as("c"))
      .select(col(id), col("c.sub").cast("long").as("sub"),
        col("c.cid").as("code"))
  }

  /** Asymmetric-distance (ADC) top-k search over the PQ-compressed
    * corpus: each query's distance to a vector is the ordered sum over
    * subspaces of sqdist(query sub-slice, that subspace's codeword
    * centroid) — the query stays exact, the corpus is m codes per row.
    *
    * Scale shape: codebooks (m·k centroids) and the query set broadcast;
    * the corpus side streams CODES ONLY (the embedding column is
    * dropped before scoring — at 100 TB the codes relation is the
    * persisted index and the raw vectors never move). Ranking is the
    * bounded-state [[TopKAgg]] per query (distance ascending via negated
    * score), so k candidates ship per map task, never the scored corpus.
    */
  def pqAdcTopK(vectors: DataFrame, queries: DataFrame, m: Int, subDim: Int,
      k: Int, iters: Int, topK: Int, id: String = "vec_id"): DataFrame = {
    val (cens, codes) = pqIndex(vectors, m, subDim, k, iters, id)
    pqAdcTopKWith(codes, cens, queries, subDim, topK, id)
  }

  /** Build-once PQ index: the pinned one-row codebook relation and the
    * per-id code table `(nn_id, codes)` — the persisted artifacts of the
    * ADC family. At 100 TB these are written next to the IVF index and
    * reused probe-after-probe; the inline [[pqAdcTopK]]/[[pqAdcRerank]]/
    * [[ivfAdcRerank]] entry points train per call only to keep each
    * oracle chain self-contained. The codebook row feeds BOTH the encode
    * projection and the ADC scoring lookup — pinned once (m·k centroids,
    * aggregate-small per the SCALE.md discipline) so the training
    * chain's corpus scans run once, not once per consumer.
    */
  def pqIndex(vectors: DataFrame, m: Int, subDim: Int, k: Int, iters: Int,
      id: String = "vec_id"): (DataFrame, DataFrame) = {
    val v = vectors.select(col(id),
      col("embedding").cast("array<double>").as("embedding"))
    // pqTrain already returns a driver-built literal — flat lineage by
    // construction, so a localCheckpoint here would only add a job and
    // block-manager residency
    val cens = pqTrain(v, m, subDim, k, iters, id)
    val codes = pqAssign(v, cens, m, subDim, id)
      .select(col(id).as("nn_id"), col("codes"))
    (cens, codes)
  }

  /** Positional reshape of the one-row codebook relation: `__poscid(s)`
    * = the sub-s codeword ids sorted ascending, `__poscen(s)` = their
    * centroids in the same order — the O(1)-addressable layout behind
    * the ADC distance table (cid labels are seed vec_ids per the
    * [[kmeans]] discipline, so they need a dense re-index before any
    * array lookup can replace the per-pair codebook scan).
    */
  private def censPositional(cens: DataFrame, m: Int): DataFrame =
    cens.select(
      transform(sequence(lit(0), lit(m - 1)), s =>
        transform(sort_array(filter(col("__cens"),
          c => c.getField("sub") === s)), c => c.getField("cid")))
        .as("__poscid"),
      transform(sequence(lit(0), lit(m - 1)), s =>
        transform(sort_array(filter(col("__cens"),
          c => c.getField("sub") === s)), c => c.getField("cen")))
        .as("__poscen"))

  /** Code table re-indexed to codebook POSITIONS: (sub, cid) → (sub,
    * pos) with pos 1-based into `__poscid(sub)`. One O(m·k) projection
    * per corpus row — amortized index work, paid once per scan instead
    * of once per (query, row) pair.
    */
  private def codesPositional(codes: DataFrame,
      censPos: DataFrame): DataFrame =
    codes.crossJoin(broadcast(censPos))
      .withColumn("__codesp", transform(col("codes"), cd =>
        struct(cd.getField("sub").as("sub"),
          array_position(
            element_at(col("__poscid"),
              (cd.getField("sub") + 1).cast("int")),
            cd.getField("cid")).cast("int").as("pos"))))
      .select(col("nn_id"), col("__codesp"))

  /** The per-query ADC distance table (Jégou et al. 2011 §III.B): m·k
    * subspace distances precomputed ONCE per query — `__lut(s)(p)` =
    * sqdist(query sub-slice s, codeword p of subspace s). The scoring
    * join then costs m O(1) array lookups per (query, row) pair instead
    * of m codebook scans + m subDim-dim sqdists; the summed doubles are
    * the SAME values in the SAME order, so rankings (and the hash
    * oracles) are bit-identical to the direct form.
    */
  private def queriesWithLut(queries: DataFrame, censPos: DataFrame,
      subDim: Int, id: String): DataFrame =
    queries.select(col(id).as("q_id"),
        col("embedding").cast("array<double>").as("q_emb"))
      .crossJoin(broadcast(censPos))
      .withColumn("__lut", transform(col("__poscen"), (cenArr, s) =>
        transform(cenArr, cen =>
          sqdist(subSlice(col("q_emb"), s, subDim), cen))))
      .select(col("q_id"), col("__lut"))

  /** ADC score via the distance table: ordered sum over the row's m
    * positional codes of `__lut(sub)(pos)` (negated — ranking ascends).
    */
  private def adcScore(lut: Column, codesp: Column): Column =
    -aggregate(codesp, lit(0.0), (acc, cd) =>
      acc + element_at(
        element_at(lut, (cd.getField("sub") + 1).cast("int")),
        cd.getField("pos")))

  /** [[pqAdcTopK]] over a prebuilt [[pqIndex]] — the query-only half of
    * the build-once/probe-many split (codes may themselves be pinned or
    * read from the persisted index).
    */
  def pqAdcTopKWith(codes: DataFrame, cens: DataFrame, queries: DataFrame,
      subDim: Int, topK: Int, id: String = "vec_id"): DataFrame = {
    // m from the codebook row itself (one-row action on a pinned frame)
    val m = cens.select(size(array_distinct(
      transform(col("__cens"), c => c.getField("sub"))))).head().getInt(0)
    val censPos = censPositional(cens, m)
    val q = queriesWithLut(queries, censPos, subDim, id)
    val scored = codesPositional(codes, censPos)
      .join(broadcast(q), col("nn_id") =!= col("q_id"))
      .withColumn("cos", adcScore(col("__lut"), col("__codesp")))
      .select(col("q_id"), col("nn_id"), col("cos"))
    rankTopK(scored, topK)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("nn_id"), (-col("cos_sim")).as("dist_adc"))
  }

  /** The production ADC pattern: PQ-ADC generates `nCand` candidates per
    * query from CODES ONLY (the corpus embeddings never stream through
    * the scoring join), then an exact cosine rerank over just those
    * candidates picks the final top-k (Jégou et al. 2011 §V "IVFADC +
    * re-ranking"). At 100 TB the first stage reads the code table
    * (~64:1 smaller than the embeddings) and the second reads
    * queries × nCand embedding rows by id — the candidate list
    * broadcasts into the corpus scan, so full-precision vectors are
    * touched only for ~nCand rows per query. Short PQ codes are recall-
    * weak as a FINAL ranking (0.05-0.36@10, SCALE.md "Round-11: the
    * clustered-corpus column") but strong as
    * a candidate filter; the rerank restores exactness over the
    * shortlist.
    */
  def pqAdcRerank(vectors: DataFrame, queries: DataFrame, m: Int,
      subDim: Int, k: Int, iters: Int, nCand: Int, topK: Int,
      id: String = "vec_id"): DataFrame = {
    val (cens, codes) = pqIndex(vectors, m, subDim, k, iters, id)
    pqAdcRerankWith(vectors, queries, codes, cens, subDim, nCand, topK, id)
  }

  /** [[pqAdcRerank]] over a prebuilt [[pqIndex]] — query-only. */
  def pqAdcRerankWith(vectors: DataFrame, queries: DataFrame,
      codes: DataFrame, cens: DataFrame, subDim: Int, nCand: Int,
      topK: Int, id: String = "vec_id"): DataFrame = {
    val cand = pqAdcTopKWith(codes, cens, queries, subDim, nCand, id)
      .select(col("q_id"), col("nn_id"))
    exactRerank(vectors, queries, cand, topK, id)
  }

  /** Exact-cosine rerank over a (q_id, nn_id) shortlist: the candidate
    * list broadcasts into the corpus scan, so full-precision embeddings
    * are touched for only queries × nCand rows (stage 2 of the ADC
    * re-ranking pattern — shared by [[pqAdcRerank]] and
    * [[ivfAdcRerank]]).
    */
  private def exactRerank(vectors: DataFrame, queries: DataFrame,
      cand: DataFrame, topK: Int, id: String): DataFrame = {
    val c = vectors.select(col(id).as("nn_id"),
      col("embedding").cast("array<double>").as("nn_emb"))
      .withColumn("nn_norm", norm2(col("nn_emb")))
    val q = queries.select(col(id).as("q_id"),
      col("embedding").cast("array<double>").as("q_emb"))
      .withColumn("q_norm", norm2(col("q_emb")))
    val scored = c.join(broadcast(cand), Seq("nn_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cos",
        cosine(col("q_emb"), col("nn_emb"), col("q_norm"), col("nn_norm")))
    rankTopK(scored, topK)
  }

  /** IVFADC + re-ranking, composed end-to-end (Jégou et al. 2011 §V —
    * the production billion-scale ANN operator): each query (1) probes
    * its `nProbe` nearest coarse cells, (2) ADC-scans the PQ CODES of
    * only those cells' inverted lists for an `nCand` shortlist, and
    * (3) exact-cosine-reranks the shortlist from full-precision
    * vectors. Codebooks are GLOBAL over raw vectors (the layout without
    * residual encoding; the oracle reproduces the same choice).
    * [[ivfAdcResidualRerank]] is the residual-encoded upgrade (eq.
    * 12-14) — same plan shape, higher shortlist recall.
    *
    * Scale shape — the reason this beats [[pqAdcRerank]]: v10's ADC
    * stage still streams the ENTIRE code table per query batch; here
    * the probe list (queries × nProbe cell ids, broadcast) prunes the
    * inverted file to ~nProbe/K of the corpus before any distance is
    * computed. At 100 TB: cells (K rows) and codebooks (m·k centroids)
    * broadcast; the codes+cell relation is the persisted index
    * partitioned by cell, so a probe reads only its cells' partitions;
    * full-precision vectors are fetched for queries × nCand rows.
    * Per-query compute falls from O(N·m) to O(N·m·nProbe/K + nCand·d).
    *
    * `cells`/`asg` come from [[graft.store.Store.buildIvfIndex]] —
    * build-once, probe-many, like v3.
    */
  def ivfAdcRerank(vectors: DataFrame, queries: DataFrame,
      cells: DataFrame, asg: DataFrame, m: Int, subDim: Int, k: Int,
      iters: Int, nProbe: Int, nCand: Int, topK: Int,
      id: String = "vec_id"): DataFrame = {
    val (cens, codes) = pqIndex(vectors, m, subDim, k, iters, id)
    ivfAdcRerankWith(vectors, queries, cells, asg, codes, cens, subDim,
      nProbe, nCand, topK, id)
  }

  /** [[ivfAdcRerank]] over prebuilt IVF + PQ indexes — query-only. */
  def ivfAdcRerankWith(vectors: DataFrame, queries: DataFrame,
      cells: DataFrame, asg: DataFrame, codes: DataFrame, cens: DataFrame,
      subDim: Int, nProbe: Int, nCand: Int, topK: Int,
      id: String = "vec_id"): DataFrame = {
    // per-query probe ranking over the K broadcast cells (v3's shape)
    val w = Window.partitionBy(id).orderBy(col("dist"), col("c"))
    val probes = assignCellsAll(queries, cells)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= nProbe)
      .select(col(id).as("q_id"), col("c"))
    val m = cens.select(size(array_distinct(
      transform(col("__cens"), c => c.getField("sub"))))).head().getInt(0)
    val censPos = censPositional(cens, m)
    val q = queriesWithLut(queries, censPos, subDim, id)
      .join(probes, "q_id")
    // inverted-file prune FIRST: the broadcast (q, cell) list hits the
    // codes relation before any ADC arithmetic — only probed cells score
    val coded = codesPositional(codes, censPos)
      .join(asg.select(col(id).as("nn_id"), col("c")), "nn_id")
    val scored = coded.join(broadcast(q), Seq("c"))
      .where(col("nn_id") =!= col("q_id"))
      .withColumn("cos", adcScore(col("__lut"), col("__codesp")))
      .select(col("q_id"), col("nn_id"), col("cos"))
    val cand = rankTopK(scored, nCand).select(col("q_id"), col("nn_id"))
    exactRerank(vectors, queries, cand, topK, id)
  }

  /** Residual relation of an IVF-assigned corpus: each vector minus its
    * cell's centroid, `r(x) = x − q₁(x)` (Jégou et al. 2011 §II-C).
    * Cells broadcast (K rows); the subtraction is a pure projection.
    */
  private def residuals(vectors: DataFrame, cells: DataFrame,
      asg: DataFrame, id: String): DataFrame =
    vectors.select(col(id),
        col("embedding").cast("array<double>").as("embedding"))
      .join(asg.select(col(id), col("c")), id)
      .join(broadcast(cells.select(col("c"), col("cen"))), "c")
      .select(col(id),
        zip_with(col("embedding"), col("cen"), (x, c) => x - c)
          .as("embedding"))

  /** Residual-encoded PQ index (Jégou et al. 2011 §II-C eq. 12-14, the
    * FAISS `IVFx,PQy` default): codebooks are GLOBAL but trained on the
    * RESIDUALS `x − q₁(x)`, and every vector's codes quantize its
    * residual. Residual energy is a fraction of raw vector energy
    * (the coarse quantizer explains the cell-mean component), so the
    * same m·k code budget spends its resolution on the informative
    * remainder — the recall gap v11's raw-vector codebooks leave at
    * high nCand closes without touching the plan shape. Same
    * build-once artifacts as [[pqIndex]]: one-row codebooks + the
    * per-id code table.
    */
  def pqIndexResidual(vectors: DataFrame, cells: DataFrame,
      asg: DataFrame, m: Int, subDim: Int, k: Int, iters: Int,
      id: String = "vec_id"): (DataFrame, DataFrame) = {
    val r = residuals(vectors, cells, asg, id)
    val cens = pqTrain(r, m, subDim, k, iters, id) // literal, see pqIndex
    val codes = pqAssign(r, cens, m, subDim, id)
      .select(col(id).as("nn_id"), col("codes"))
    (cens, codes)
  }

  /** Residual-encoded IVFADC + re-ranking — [[ivfAdcRerank]] upgraded
    * per Jégou et al. 2011 §II-C eq. 12-14: codes quantize residuals,
    * so the ADC distance for a candidate in cell c estimates
    * `‖(q − cen(c)) − pq(r(x))‖²` and the LUT becomes per
    * (query, PROBED CELL) — nProbe tables of m·k entries per query
    * instead of one (eq. 14's stated cost), still
    * queries × nProbe × m·k doubles, broadcast-small. Everything
    * downstream is v11's shape: the broadcast (query, cell, lut) list
    * prunes the inverted file BEFORE any ADC arithmetic, candidates
    * rank through the bounded [[TopKAgg]], and the exact rerank
    * touches full-precision vectors for queries × nCand rows only.
    */
  def ivfAdcResidualRerank(vectors: DataFrame, queries: DataFrame,
      cells: DataFrame, asg: DataFrame, m: Int, subDim: Int, k: Int,
      iters: Int, nProbe: Int, nCand: Int, topK: Int,
      id: String = "vec_id"): DataFrame = {
    val (cens, codes) =
      pqIndexResidual(vectors, cells, asg, m, subDim, k, iters, id)
    ivfAdcResidualRerankWith(vectors, queries, cells, asg, codes, cens,
      subDim, nProbe, nCand, topK, id)
  }

  /** [[ivfAdcResidualRerankBudgetWith]] with inline index training —
    * the self-contained oracle entry point (v15), mirroring
    * [[ivfAdcResidualRerank]]'s shape.
    */
  def ivfAdcResidualRerankBudget(vectors: DataFrame, queries: DataFrame,
      cells: DataFrame, asg: DataFrame, m: Int, subDim: Int, k: Int,
      iters: Int, budget: Long, nCand: Int, topK: Int,
      id: String = "vec_id"): DataFrame = {
    val (cens, codes) =
      pqIndexResidual(vectors, cells, asg, m, subDim, k, iters, id)
    ivfAdcResidualRerankBudgetWith(vectors, queries, cells, asg, codes,
      cens, subDim, budget, nCand, topK, id)
  }

  /** Budget-adaptive MULTI-PROBE cell selection (the principle of Lv et
    * al. 2007 "Multi-Probe LSH", applied to the inverted file): rank
    * each query's cells by coarse distance — exactly the fixed-nProbe
    * ordering — but probe until the CUMULATIVE inverted-list mass
    * reaches `budget` candidates instead of stopping at a fixed cell
    * count. A fixed nProbe spends wildly different ADC work per query
    * (cells are skewed: IVF_CHURN measured max/med ≈ 26 under drift)
    * and its recall ceiling is set by the WORST-covered query; the
    * budget rule gives boundary queries (whose nearest cells are small
    * or whose neighbors straddle cells) MORE cells and dense-cell
    * queries fewer, equalizing per-query pair cost at ~budget. The
    * first-ranked cell always probes (its cum-before is 0), so every
    * query keeps at least v3's nProbe=1 guarantee. Cell sizes come
    * from one K-group aggregate over the inverted file — index-build
    * metadata, broadcast-small; empty cells carry no candidates and
    * drop out of the ranking harmlessly.
    *
    * `minCells` is the SKEW guard: a pure mass budget saturates on a
    * giant cell (IVF_CHURN_r14's drift-skewed index: one cell holds
    * most of the drifted mass, so a query landing near it exhausts the
    * whole budget on cell 1 and never sees the small neighboring cells
    * — recall 0.982 at an np8-equivalent budget vs 0.996 for fixed
    * nProbe=8 on the same index). Probing at least `minCells`
    * distance-ranked cells restores the fixed rule's coverage floor
    * while keeping the budget's cost equalization everywhere else;
    * the default 1 is exactly the pre-floor behavior.
    */
  def probeCellsBudget(queries: DataFrame, cells: DataFrame,
      asg: DataFrame, budget: Long, id: String = "vec_id",
      minCells: Int = 1): DataFrame = {
    val sizes = asg.groupBy("c").agg(count(lit(1)).as("__csz"))
    val ord = Window.partitionBy(id).orderBy(col("dist"), col("c"))
    val w = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    assignCellsAll(queries, cells)
      .join(broadcast(sizes), Seq("c"))
      .withColumn("__cum", sum(col("__csz")).over(w))
      .withColumn("__rn", row_number().over(ord))
      .where(col("__cum") - col("__csz") < budget ||
        col("__rn") <= minCells)
      .select(col(id).as("q_id"), col("c"))
  }

  /** [[ivfAdcResidualRerankWith]] with the budget-adaptive probe rule —
    * v15's entry point: same residual chain, the probe list comes from
    * [[probeCellsBudget]] instead of a fixed nProbe.
    */
  def ivfAdcResidualRerankBudgetWith(vectors: DataFrame,
      queries: DataFrame, cells: DataFrame, asg: DataFrame,
      codes: DataFrame, cens: DataFrame, subDim: Int, budget: Long,
      nCand: Int, topK: Int, id: String = "vec_id"): DataFrame =
    ivfAdcResidualProbes(vectors, queries, cells, asg, codes, cens,
      subDim, probeCellsBudget(queries, cells, asg, budget, id), nCand,
      topK, id)

  /** [[ivfAdcResidualRerank]] over prebuilt IVF + residual-PQ indexes —
    * query-only.
    */
  def ivfAdcResidualRerankWith(vectors: DataFrame, queries: DataFrame,
      cells: DataFrame, asg: DataFrame, codes: DataFrame, cens: DataFrame,
      subDim: Int, nProbe: Int, nCand: Int, topK: Int,
      id: String = "vec_id"): DataFrame = {
    val w = Window.partitionBy(id).orderBy(col("dist"), col("c"))
    val probes = assignCellsAll(queries, cells)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= nProbe)
      .select(col(id).as("q_id"), col("c"))
    ivfAdcResidualProbes(vectors, queries, cells, asg, codes, cens,
      subDim, probes, nCand, topK, id)
  }

  /** The residual-IVFADC chain downstream of an arbitrary (q_id, c)
    * probe list — shared by the fixed-nProbe (v14) and budget-adaptive
    * (v15) selectors; plan shape is unchanged from v14.
    */
  private def ivfAdcResidualProbes(vectors: DataFrame,
      queries: DataFrame, cells: DataFrame, asg: DataFrame,
      codes: DataFrame, cens: DataFrame, subDim: Int, probes: DataFrame,
      nCand: Int, topK: Int, id: String): DataFrame = {
    val m = cens.select(size(array_distinct(
      transform(col("__cens"), c => c.getField("sub"))))).head().getInt(0)
    val censPos = censPositional(cens, m)
    // per-(query, probed cell) RESIDUAL, then its ADC table: lut rows
    // key on (q_id, c) — a candidate in cell c is scored against the
    // query residual w.r.t. THAT cell, the asymmetry eq. 13 prescribes
    val q = queries.select(col(id).as("q_id"),
        col("embedding").cast("array<double>").as("q_emb"))
      .join(probes, "q_id")
      .join(broadcast(cells.select(col("c"), col("cen"))), "c")
      .select(col("q_id"), col("c"),
        zip_with(col("q_emb"), col("cen"), (x, c) => x - c).as("q_emb"))
      .crossJoin(broadcast(censPos))
      .withColumn("__lut", transform(col("__poscen"), (cenArr, s) =>
        transform(cenArr, cen =>
          sqdist(subSlice(col("q_emb"), s, subDim), cen))))
      .select(col("q_id"), col("c"), col("__lut"))
    val coded = codesPositional(codes, censPos)
      .join(asg.select(col(id).as("nn_id"), col("c")), "nn_id")
    val scored = coded.join(broadcast(q), Seq("c"))
      .where(col("nn_id") =!= col("q_id"))
      .withColumn("cos", adcScore(col("__lut"), col("__codesp")))
      .select(col("q_id"), col("nn_id"), col("cos"))
    val cand = rankTopK(scored, nCand).select(col("q_id"), col("nn_id"))
    exactRerank(vectors, queries, cand, topK, id)
  }
}
