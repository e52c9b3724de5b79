package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftSession, SparkEntry}

/** Dumps `explain("formatted")` of SparkEntry queries — the plan-shape
  * evidence (pushed filters, broadcast joins, single-shuffle aggregates,
  * no nested-loop grid joins) reviewed per optimization.
  *
  * With a query list, each plan goes to its own file
  * `<outDir>/<query>_<suffix>.txt` (the before/after evidence under
  * `plans/rNN/`). Without one, the headline set goes into
  * `<outDir>/PLANS.md` and `suffix` is unused.
  *
  * Usage: PlanDump <outDir> <suffix> <sfDir> [query ...]
  */
object PlanDump {
  private val Headline = Seq(
    "s4_raw_scan", "f1_matchers", "f6_matchers_negative", "a1_downsample_5m",
    "w1_instant_lookback", "w3_rate_1h", "j1_points_join_series",
    "tpch_q5_region_revenue", "d3_lsh_candidates", "v1_ann_brute",
    "pql1_rate_sum", "pql13_group_left", "pql4_hist_quantile",
    "e2e_stream_slice", "d8_decontaminate", "q2_sessionize",
    "x8_sequence_pack", "d4_jaccard_verify", "x11_tfidf_keywords",
    "v6_kmeans", "x14_length_gate", "x15_dsir_weights",
    "x16_chunk_dedup", "q4_cohort_retention", "q5_rollup_pricing",
    "v7_knn_classify", "q6_asof_join", "v8_pq_codes", "v9_pq_adc_topk",
    "v11_ivfadc", "x18_bigram_nll", "x19_moore_lewis",
    "x20_weighted_sample", "x21_substring_dedup", "v13_ann_filtered",
    "x22_source_overlap", "x23_split_leakage", "d10_semantic_decon",
    "pql20_limit_sampling", "pql21_mad_tsof", "pql22_info",
    "d11_edit_verify", "d12_cluster_best", "mm5_image_dhash",
    "x24_dedup_report", "pql23_hist_rate",
    "v14_ivfadc_residual", "mm7_hamming_neardup",
    "v15_ivf_multiprobe", "mm8_media_keep",
    "pql24_sum_large", "v16_centroid_sat", "o2_dedup_lww",
    "v4_label_centroids")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <outDir> <suffix> <sfDir> [query ...]")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val sfDir = args(2)
    val names = args.drop(3).toSeq
    Files.createDirectories(outDir)
    val spark = GraftSession.configure(
      SparkSession.builder().master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(FormattedMode)
    if (names.nonEmpty) names.foreach { name =>
      val p = outDir.resolve(s"${name}_$suffix.txt")
      Files.writeString(p, plan(name))
      println(s"wrote $p")
    } else {
      val sb = new StringBuilder
      sb.append("# PLANS — formatted physical plans of headline queries\n\n")
      sb.append(s"Generated by `graft.tools.PlanDump` on `$sfDir`. " +
        "Review criteria: filters reach the scan (PushedFilters), dims " +
        "broadcast, grid evaluation is explode+hash-agg (never a broadcast " +
        "nested-loop join), aggregates are partial+final with one exchange.\n")
      for (name <- Headline)
        sb.append(s"\n## $name\n\n```\n${plan(name)}```\n")
      val p = outDir.resolve("PLANS.md")
      Files.writeString(p, sb.toString)
      println(s"wrote $p")
    }
    spark.stop()
  }
}
