package perfbench

import org.apache.spark.sql.SparkSession

import graft.functions.SigIndex

/** A named workload: the registered queries it times and the stores it
  * builds cold before its warm-up pass.
  */
final case class Workload(name: String, keys: Seq[String],
                          stores: Seq[(String, (SparkSession, String) => Unit)]) {
  def groupOf(key: String): String =
    if (Keys.operatorFamily.contains(key)) "operators" else "functions"
}

object Workloads {
  val all: Seq[String] = Seq("batch", "stream")

  def apply(name: String): Workload = name match {
    case "batch" => Workload("batch", Keys.OpsTimed ++ Keys.CorpusTimed, StoreFamilies)
    case "stream" => Workload("stream", Nil, Nil)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${all.mkString(", ")})")
  }

  /** The store families the timed corpus keys serve from, each built through its
    * public stage function with the geometry the serving query uses. The
    * IVF/PQ (ann, ann_auto, ann_incr), BM25, BPE, shingle, cluster and
    * bucketed-band stores are left out: built cold they take 37 s of a run.
    */
  val StoreFamilies: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "sig" -> ((s, d) => SigIndex.stageOnce(s, d)),
    "vlsh" -> ((s, d) => SigIndex.stageEmbLsh(s, d)))
}

/** How the registry divides between the workloads. Every registered key
  * sits in exactly one of the four lists (the benchmark's tests check it),
  * so a new key fails the tests until it is placed.
  */
object Keys {
  import graft.operators._

  /** Keys registered by graft.operators: the batch twins of the DataStream
    * surface plus the TPC-H set.
    */
  def operatorFamily: Set[String] =
    (Stateless.defs ++ KeyedAggs.defs ++ Windows.defs ++ MultiStream.defs ++
      Extended.defs ++ Scale.defs ++ Relational.defs).map(_.key).toSet

  /** Correctness baselines with production twins: they stay in the oracle
    * gate and are never timed (the set graft.Bench skips at scale).
    */
  val GateOnly: Seq[String] = Seq(
    "dedup_embedding", "dedup_embedding_lsh", "semdedup_pairs", "dedup_ngram",
    "dedup_containment", "dedup_qa_report", "dedup_ngram_staged",
    "dedup_containment_staged", "dedup_simhash", "dedup_simhash_md5")

  /** The operator half of the `batch` workload: one or more keys from
    * every graft.operators module, on tiny inputs, so per-query fixed cost
    * (construction, Catalyst, job and stage scheduling) dominates.
    */
  val OpsTimed: Seq[String] = Seq(
    "fizzbuzz", "keyed_reduce_sum", // Stateless, KeyedAggs
    "tumbling_count", // Windows
    "interval_join", // MultiStream
    "event_gaps", // Extended
    "partition_pruned_scan", // Scale (stages a partitioned table)
    "q1_pricing", "json_props" // Relational
)

  /** The corpus half of the `batch` workload: compiled text expressions,
    * the contamination scan, and the serves of the staged stores.
    */
  val CorpusTimed: Seq[String] = Seq(
    "token_count", "pii_scrub", // TextAnalysis
    "dedup_minhash_staged", // SigIndex serve
    "dedup_embedding_lsh_auto_staged" // vector-LSH store serve
)

  /** Keys covered by neither timed set. A run is kept to about a minute
    * (setup, store builds, three warm-up passes and at least six timed passes);
    * these run only in the engine's own gate.
    */
  val Untimed: Seq[String] = Seq(
    "bm25_topk_staged", "bpe_encode_k4_staged", "contamination_check", "coprocess_ratio",
    "dedup_minhash", "knn_lsh", "q18_big_orders",
    "ann_recall_report", "anti_join", "approx_distinct", "approx_percentiles", "asof_join",
    "bigram_logprob", "bm25_topk", "bpe_encode_k4", "bpe_merge_pairs", "bpe_merges_k4",
    "bpe_merges_k4_batched", "bpe_merges_k8_batched", "bpe_vocab_k4", "bucketed_join",
    "cms_counters", "contamination_bloom", "corpus_diff", "corpus_shuffle", "count_window",
    "count_window_keyed", "cube_counts", "curriculum_order", "data_split", "dedup_clusters",
    "dedup_clusters_staged", "dedup_containment_staged_sampled", "dedup_embedding_lsh_auto",
    "dedup_exact", "dedup_incremental", "dedup_incremental_staged", "dedup_keep_best",
    "dedup_minhash_est", "dedup_minhash_est_staged", "dedup_ngram_staged_sampled",
    "dedup_pipeline", "dedup_pipeline_staged", "dedup_qa_report_staged", "dedup_simhash_auto",
    "distinct_users", "doc_chunks", "doc_fingerprint", "doc_len_stats", "doc_pagerank",
    "doc_pagerank_staged", "doc_repetition", "dup_ratio_by_source", "embedding_centroids",
    "embedding_dedup_qa", "embedding_norm_stats", "embedding_quantize_int8", "except_op",
    "filter_eq", "flatmap_range", "funnel_steps", "hard_negatives", "hard_negatives_staged",
    "heavy_hitters_cms", "intersect_op", "ivf_cell_stats", "ivf_drift_report",
    "ivf_drift_report_staged", "ivfpq_knn", "ivfpq_knn_rerank_staged", "ivfpq_knn_staged",
    "ivfpq_recon_error", "key_skew_profile", "keyed_tumbling_count", "knn_brute", "knn_ivf",
    "knn_ivf_auto", "knn_ivf_auto_staged", "knn_ivf_incremental", "knn_ivf_staged",
    "knn_ivf_staged_incr", "lang_id", "map_double", "mixture_sqrt_sample", "mrl_recall",
    "multimodal_features", "orders_by_month", "packing_stats", "pivot_counts", "pq_codes",
    "pq_codes_incremental", "pq_knn", "pq_knn_rerank", "pq_knn_rerank_staged", "pq_knn_staged",
    "pq_knn_staged_incr", "pq_recon_error", "q10_returned", "q11_important_parts",
    "q12_priority_class", "q13_cust_orders", "q14_promo", "q15_top_supplier",
    "q16_supplier_cnt", "q17_small_qty", "q19_disjunct", "q20_excess_suppliers", "q21_waiting",
    "q22_idle_custs", "q2_min_cost_supp", "q3_top_orders", "q4_order_priority",
    "q5_region_revenue", "q6_forecast", "q7_nation_volume", "q8_market_share", "q9_profit",
    "quality_filter", "quality_survival", "quality_token_budget", "resample_locf",
    "retention_cohorts", "rollup_counts", "running_sum", "semdedup_auto",
    "semdedup_auto_staged", "semi_join", "seq_packing", "session_count", "session_count_keyed",
    "skew_join_salted", "sliding_count", "source_cap", "source_mix", "span_dedup",
    "split_leakage", "split_leakage_staged", "sql_surface", "stratified_sample",
    "text_normalize", "text_quality", "tfidf_top_terms", "token_rarity", "token_surprisal",
    "top_bigrams", "topk_per_key", "topk_window", "tumbling_count_agg", "union_streams",
    "value_histogram", "value_percentiles", "value_quartiles", "video_frames",
    "window_elements", "window_join", "zipf_tokens")
}
