"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Everything is delegated to the utils_spark package; the registry in
utils_spark/registry.py is the single source of truth so Spark callables
and oracle SQL can never drift apart.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Per-group multi-agg with exact quantiles (SURVEY §2.4 A1, the
    reference's canonical recipe R/utils.R:7-14), TPC-H Q1 shaped.
    """
    from utils_spark.registry import load_all

    registry = load_all()
    return registry["grouped_quantiles"].fn(spark, "/root/testdata/sf0.001")


# Least-verified-RECENTLY first: the driver samples a ~50-query prefix of
# this dict (rows+schema+hash vs the DuckDB oracle -> CORRECTNESS_r{N}).
# GENERATED by `python tools/gen_priority.py --write` from
# CORRECTNESS_r01..r16.json — do not hand-edit.
# Latest-green histogram at generation: {'r11': 23, 'r12': 50, 'r13': 50, 'r14': 50, 'r15': 50, 'r16': 50}.
# The 50-slot sample for round 17 is: 23 r11-latest + 27 r12-latest;
# the remainder continues in oldest-evidence order (never-sampled
# queries rank at tier 5.5 per the VERDICT r9 soft-unfreeze rule).
# Verify with `python tools/gen_priority.py --check` (must exit 0).
_PRIORITY = (
    "stream_session_windows_append",  # r11
    "stream_stateful_dedup",  # r11
    "stream_custom_state_profile",  # r11
    "stream_static_enrich",  # r11
    "stream_stream_interval_join",  # r11
    "stream_curation_funnel",  # r11
    "stream_sliding_counts",  # r11
    "sequence_packing",  # r11
    "pii_scrub",  # r11
    "boilerplate_strip",  # r11
    "dedup_keep_best",  # r11
    "vocab_coverage",  # r11
    "char_entropy_filter",  # r11
    "curation_pipeline",  # r11
    "quality_classifier_filter",  # r11
    "bm25_retrieval",  # r11
    "importance_weights_dsir",  # r11
    "curated_export_roundtrip",  # r11
    "cross_doc_ngram_duplication",  # r11
    "lm_perplexity_filter",  # r11
    "bpe_merge_candidates",  # r11
    "corpus_datasheet",  # r11
    "line_level_dedup",  # r11
    "support_filter",  # r12
    "binned_agg",  # r12
    "grouping_sets_cube",  # r12
    "pseudobulk_sum",  # r12
    "ora_enrichment",  # r12
    "term_semantic_clusters",  # r12
    "pagerank_interactions",  # r12
    "triangle_count_knn",  # r12
    "leiden_refined_communities",  # r12
    "projection_variants",  # r12
    "per_column_quantiles",  # r12
    "stage_tally",  # r12
    "aligned_cbind",  # r12
    "random_subset",  # r12
    "mean_var_topk",  # r12
    "sample_distances",  # r12
    "ma_pairs",  # r12
    "grouping_rollup",  # r12
    "grouped_mode",  # r12
    "xml_roundtrip_scan",  # r12
    "atlas_loader_pipeline",  # r12
    "qc_filter_pipeline",  # r12
    "filter_project",  # r12
    "conditional_expr",  # r12
    "string_ops",  # r12
    "pair_key_unite",  # r12
    "make_unique_names",  # r12
    "lookup_join",  # r12
    "left_join_agg",  # r12
    "stream_cms_sketch_state",  # r12
    "windowed_event_dedup",  # r12
    "event_funnel_conversion",  # r12
    "event_transition_matrix",  # r12
    "event_pair_affinity",  # r12
    "daily_ewma_smoothing",  # r12
    "hourly_percentile_bands",  # r12
    "incremental_dedup_batch",  # r12
    "k_anonymity_audit",  # r12
    "suffix_lcp_dedup",  # r12
    "count_mean_sketch_frequency",  # r12
    "split_leakage_audit",  # r12
    "pretokenizer_token_counts",  # r12
    "ngram_novelty_curve",  # r12
    "late_shipment_priority_counts",  # r12
    "priority_class_line_counts",  # r12
    "top_revenue_supplier",  # r12
    "important_part_values",  # r12
    "semantic_dedup_keep",  # r12
    "margin_bitext_mining",  # r12
    "ann_recall_audit",  # r12
    "pairwise_cvm",  # r13
    "benford_digit_audit",  # r13
    "adamic_adar_link_prediction",  # r13
    "lpa_communities",  # r13
    "kcore_decomposition",  # r13
    "hits_hub_authority",  # r13
    "harmonic_closeness_seeds",  # r13
    "semi_anti_join",  # r13
    "union_distinct",  # r13
    "set_difference",  # r13
    "melt_unpivot",  # r13
    "pivot_onehot",  # r13
    "freq_ordered_levels",  # r13
    "weighted_sample",  # r13
    "group_entropy",  # r13
    "hll_cardinality_sketch",  # r13
    "partition_skew_audit",  # r13
    "join_fanout_audit",  # r13
    "mad_outliers",  # r13
    "zscore_squish",  # r13
    "spearman_rank_correlation",  # r13
    "chi_square_independence",  # r13
    "mann_whitney_u",  # r13
    "kruskal_wallis",  # r13
    "mann_kendall_trend",  # r13
    "jackknife_cv_se",  # r13
    "bootstrap_ci",  # r13
    "kaplan_meier_retention",  # r13
    "mutual_information_assoc",  # r13
    "proportions_ab_test",  # r13
    "welch_t_test",  # r13
    "brown_forsythe_levene",  # r13
    "fisher_exact_priority_late",  # r13
    "wilcoxon_signed_rank",  # r13
    "friedman_test",  # r13
    "logrank_test",  # r13
    "cochran_armitage_trend",  # r13
    "g_test_independence",  # r13
    "ewma_anomaly_flags",  # r13
    "rolling_correlation",  # r13
    "seasonal_decomposition",  # r13
    "theil_sen_trend",  # r13
    "bpe_training_rounds",  # r13
    "bpe_encoding_apply",  # r13
    "exact_substring_dedup",  # r13
    "lm_trigram_backoff_filter",  # r13
    "bloom_decontamination",  # r13
    "customer_order_distribution",  # r13
    "sole_late_supplier_counts",  # r13
    "hard_negative_mining",  # r13
    "grouped_trend_fits",  # r14
    "factor_decomposition",  # r14
    "clustree_transitions",  # r14
    "pseudotime_lineages",  # r14
    "louvain_communities",  # r14
    "knn_snn_lisi",  # r14
    "spline_exact_recovery",  # r14
    "pca_exact_recovery",  # r14
    "harmony_null_correction",  # r14
    "star_connected_components",  # r14
    "ks_test",  # r14
    "quantile_thresholds",  # r14
    "variance_explained",  # r14
    "log_normalize",  # r14
    "grouped_regression",  # r14
    "permutation_test_daily",  # r14
    "autocorrelation_lags",  # r14
    "cusum_changepoints",  # r14
    "ljung_box_test",  # r14
    "holt_linear_forecast",  # r14
    "holt_winters_seasonal",  # r14
    "periodogram_peak",  # r14
    "dtw_pairwise_distance",  # r14
    "isotonic_daily_fit",  # r14
    "kendall_tau_daily",  # r14
    "gopher_quality_rules",  # r14
    "countmin_heavy_hitters",  # r14
    "winnowing_fingerprints",  # r14
    "distinct_ngram_diversity",  # r14
    "zipf_law_fit",  # r14
    "exact_dedup",  # r14
    "ngram_jaccard_pairs",  # r14
    "minhash_lsh_pairs",  # r14
    "dup_cluster_assignments",  # r14
    "fuzzy_name_pairs",  # r14
    "tfidf_top_terms",  # r14
    "fuzzy_decontamination",  # r14
    "wordpiece_training_rounds",  # r14
    "simhash_hamming_pairs",  # r14
    "containment_prefix_pairs",  # r14
    "sorted_neighborhood_pairs",  # r14
    "naive_bayes_langid",  # r14
    "cdc_chunk_dedup",  # r14
    "roc_auc_quality_signal",  # r14
    "cross_source_ngram_overlap",  # r14
    "gini_source_inequality",  # r14
    "tokenizer_fertility",  # r14
    "curriculum_length_stages",  # r14
    "embedding_int8_quantization",  # r14
    "by_adjust_dependent",  # r14
    "na_drop_subset",  # r15
    "array_row_aggs",  # r15
    "delta_from_median",  # r15
    "asof_join",  # r15
    "range_join_bands",  # r15
    "filter_scan_agg",  # r15
    "pairwise_ks",  # r15
    "simhash_signature",  # r15
    "knee_detection",  # r15
    "module_score",  # r15
    "asof_join_forward_tolerance",  # r15
    "ambient_pool_significance",  # r15
    "grouped_quantiles",  # r15
    "distinct_rows",  # r15
    "group_sizes",  # r15
    "functional_dependency_check",  # r15
    "crosstab_proportions",  # r15
    "group_cv",  # r15
    "qc_metrics_bundle",  # r15
    "loess_exact_recovery",  # r15
    "mds_exact_recovery",  # r15
    "start_vs_end_test",  # r15
    "condition_diff_recovery",  # r15
    "nth_event_snapshot",  # r15
    "null_ordering",  # r15
    "multiway_join_revenue",  # r15
    "top_orders_by_revenue",  # r15
    "reorder_to_input",  # r15
    "stream_near_dup_registry",  # r15
    "monthly_rollup",  # r15
    "tumbling_window",  # r15
    "json_extract",  # r15
    "pacf_durbin_levinson",  # r15
    "mixture_temperature_weights",  # r15
    "unigram_lm_tokenizer",  # r15
    "unigram_encoding_apply",  # r15
    "cosine_topk",  # r15
    "ann_ivf_bucketed",  # r15
    "ann_ivf_pq",  # r15
    "ann_ivfadc",  # r15
    "rank_in_group",  # r15
    "topk_per_group",  # r15
    "top2_delta",  # r15
    "bh_adjust",  # r15
    "stratified_sample",  # r15
    "cumulative_frames",  # r15
    "lag_lead_delta",  # r15
    "sessionize",  # r15
    "rolling_time_range",  # r15
    "equidepth_histogram",  # r15
    "strict_na_aggregation",  # r16
    "pairwise_ks_one_sided",  # r16
    "spline_trend_fits",  # r16
    "batch_correction",  # r16
    "pca_embedding",  # r16
    "denoised_feature_selection",  # r16
    "cca_anchor_identity",  # r16
    "cluster_blobs_certificate",  # r16
    "harmony_shift_recovery",  # r16
    "sweep_exact_recovery",  # r16
    "csv_roundtrip_scan",  # r16
    "jsonl_roundtrip_scan",  # r16
    "orc_roundtrip_scan",  # r16
    "converter_roundtrip",  # r16
    "multimodal_decode_certificate",  # r16
    "media_dedup_certificate",  # r16
    "video_frame_sampling",  # r16
    "audio_energy_certificate",  # r16
    "image_stats_certificate",  # r16
    "cluster_pipeline",  # r16
    "sliding_window",  # r16
    "session_window_native",  # r16
    "embedding_near_dup",  # r16
    "approx_sketch_aggs",  # r16
    "skew_salted_join",  # r16
    "train_holdout_split",  # r16
    "zorder_layout",  # r16
    "quantile_normalize",  # r16
    "grouped_correlation",  # r16
    "grouped_moments",  # r16
    "stream_tumbling_counts",  # r16
    "stream_session_windows",  # r16
    "hierarchical_time_rollup",  # r16
    "cohort_retention",  # r16
    "token_stats",  # r16
    "quality_score",  # r16
    "lang_id_ngram",  # r16
    "doc_fingerprint",  # r16
    "minhash_signature",  # r16
    "bpe_style_tokens",  # r16
    "chunk_documents",  # r16
    "benchmark_decontamination",  # r16
    "corpus_mixture_sample",  # r16
    "repetition_filter",  # r16
    "min_per_group_join_back",  # r16
    "having_threshold_join",  # r16
    "distinct_suppliers_per_attr",  # r16
    "date_arithmetic",  # r16
    "embedding_stats",  # r16
    "label_centroids",  # r16
)


def _ordered() -> dict:
    from utils_spark.registry import load_all

    reg = load_all()
    ordered = {n: reg[n] for n in _PRIORITY if n in reg}
    ordered.update((n, qd) for n, qd in reg.items() if n not in ordered)
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: qd.fn for name, qd in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for every SQL-expressible query."""
    return {name: qd.oracle for name, qd in _ordered().items() if qd.oracle is not None}
