package graft.tools

import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** Dumps `explain("formatted")` for the headline queries to a markdown
  * artifact (docs/PLANS.md) so plan shapes are reviewable without a
  * running session. `runMain graft.tools.ExplainDump [sfDir] [outFile]`.
  */
object ExplainDump {

  val headline: Seq[String] = Seq(
    "q_agg_pricing", "q_join_revenue", "q_sessionize", "q_asof_join",
    "q_asof_native", "q_topk", "q_dedup_minhash", "q_dedup_simhash",
    "q_ann_topk", "q_ann_bucketed", "q_tfidf", "q_topk_agg",
    "q_batch_scaled", "q_curate", "q_pack_shards",
    "q_decontaminate", "q_repetition", "q_zorder",
    "q_semantic_dedup", "q_unigram_logprob", "q_domain_mix",
    "q_top_ngrams", "q_bm25", "q_ann_rerank", "q_chunk_tokens",
    "q_hybrid_cluster", "q_outlier_filter", "q_pipeline_e2e",
    "q_ann_multiprobe", "q_ann_recall", "q_bigram_logprob",
    "q_dedup_lines", "q_sample_exact", "q_decontam_overlap",
    "q_minhash_recall", "q_cluster_sizes", "q_ivf_stats",
    "q_shard_manifest", "q_dedup_lines_incr", "q_ann_ivf_persisted",
    "q_upload_report", "q_pii_redact", "q_ann_ivf_incremental",
    "q_embed_centroid", "q_corpus_drift", "q_upsert", "q_key_skew",
    "q_embed_standardize", "q_hashing_tf", "q_k_anon", "q_cms_counts",
    "q_rolling_range", "q_retention", "q_dataset_card", "q_linear_count",
    "q_compress_ratio", "q_orc_roundtrip", "q_cow_merge",
    "q_pagerank", "q_bloom_prune", "q_scd2", "q_gap_fill",
    "q_inverted_index", "q_pmi", "q_media_neardup", "q_winsorize",
    "q_attribution", "q_rolling_z", "q_l_diversity", "q_snapshot_diff",
    "q_table_stats", "q_token_entropy", "q_containment",
    "q_fuzzy_join", "q_trend_lines", "q_chi_square",
    "q_transitions", "q_basket_pairs", "q_weighted_sample",
    "q_triangles", "q_jaccard_capped", "q_semantic_dedup_capped",
    "q_hll_distinct", "q_scd_asof", "q_psi",
    "q_bfs_levels", "q_schema_merge",
    "q_rrf_fusion", "q_mmr", "q_ks_test", "q_theilsen",
    "q_seasonal_decomp", "q_bootstrap_ci", "q_zipf_fit",
    "q_curriculum",
    // round-8 continuation additions
    "q_sql_q3", "q_sql_q5", "q_sql_q18", "q_sql_q7", "q_hits",
    "q_ams_f2", "q_url_dedup", "q_mi_features", "q_ann_ivfpq",
    "q_cluster_incremental", "q_ppl_filter", "q_sax_symbols",
    "q_source_overlap", "q_ann_int8", "q_bloom_fpr", "q_adamic_adar",
    "q_lm_interp", "q_roc_points", "q_rolling_dau", "q_weighted_median",
    "q_forecast_eval", "q_welch_t", "q_clustering_coef",
    "q_kmeans_exact", "q_mahalanobis", "q_doc_expectations",
    "q_grouped_ols", "q_phrase_search", "q_lag_features", "q_one_hot",
    "q_target_encoding", "q_robust_scale", "q_table_checksum",
    "q_mlm_mask", "q_banding_curve", "q_crosslingual_dups",
    "q_kendall_tau", "q_runs_test", "q_heldout_nll",
    "q_uncertainty_sample", "q_ctfidf", "q_assortativity", "q_twap",
    // round-9 additions
    "q_sql_q6", "q_sql_q16", "q_sql_q4", "q_sql_q13", "q_sql_q15",
    "q_sql_q22", "q_dedup_substring", "q_media_spectrum",
    "q_ann_ivf_kmeans", "q_sql_q11", "q_sql_q14", "q_sql_q17",
    "q_sql_q19", "q_sql_q21", "q_dedup_substring_stats",
    "q_sql_q2", "q_sql_q8", "q_sql_q9", "q_sql_q12", "q_sql_q20",
    // round-10/11 additions (q_jdbc_roundtrip deliberately absent: its
    // returned frame is a JDBC scan whose plan shows nothing, and the
    // build spins up Derby; q_stream_*_sliced likewise return memory
    // sink reads)
    "q_csv_roundtrip", "q_dedup_precision", "q_bucketed_join",
    // round-17 additions: the PPJoin production family
    "q_prefix_jaccard", "q_prefix_jaccard_capped",
    "q_prefix_jaccard_incr", "q_prefix_jaccard_incr_idx",
    "q_prefix_jaccard_incr_append", "q_pipeline_nightly",
    "q_cosine_allpairs",
    // round-18 additions: the cosine index family + two-night gate
    "q_cosine_incr", "q_cosine_incr_idx", "q_cosine_incr_append",
    "q_cosine_allpairs_capped", "q_pipeline_nightly2",
    "q_pipeline_nightly_cos")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("docs/PLANS.md")
    val spark = GraftSession.local()
    try {
      val sb = new StringBuilder
      sb.append("# PLANS — formatted physical plans of headline queries\n\n")
      sb.append(s"Generated by `graft.tools.ExplainDump` over `$sfDir`.\n")
      sb.append("Key shapes (pushdown, broadcasts, partial aggs, " +
        "no-cartesian) are asserted in `PlanSpec`; this file is the " +
        "human-readable view.\n\n" +
        "Note: `q_batch` and `q_reshape` (not listed here) are " +
        "DEMO-ONLY faithful ports of the reference's single-partition " +
        "semantics and the suite's only single-partition windows; " +
        "their `_scaled` twins below (q_batch_scaled, " +
        "q_reshape_scaled) are the production forms — see " +
        "docs/SCALE.md, round-9 addendum.\n")
      // same per-query cache hygiene as Verify/Bench: builders
      // eagerly materialize ledger caches; ~170 headline queries
      // without release accumulate them all for the whole dump
      headline.foreach { name =>
        val formatted = graft.ops.QueryCaches.scoped(spark) {
          SparkEntry.queries(name)(spark, sfDir).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode)
        }
        sb.append(s"\n## $name\n\n```\n$formatted```\n")
      }
      Files.createDirectories(Paths.get(out).toAbsolutePath.getParent)
      Files.writeString(Paths.get(out), sb.toString)
      println(s"wrote $out")
    } finally spark.stop()
  }
}
