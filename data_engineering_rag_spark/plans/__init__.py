"""Query catalog: every operator from SURVEY.md §2 as a named query.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with
an equivalent ANSI/DuckDB SQL string for the driver's oracle check
(``None`` → rows-only check, used for genuinely non-SQL-expressible
ops). Registration happens at import time via the ``@query`` decorator.

Cross-engine determinism rules (why every aggregate looks the way it
does):
- double sums are order-dependent across engines → aggregate exact
  decimals (``cast(x as decimal(18,k))``), then ``round(cast(.. as
  double), k)`` so both engines emit bit-identical doubles.
- per-row double arithmetic is IEEE-identical when written identically
  in both dialects — safe without decimals.
- any value produced by a float *reduction* (norms, cosines, scores) is
  rounded explicitly in BOTH dialects.
- every computed column is aliased identically in both dialects (the
  driver hash-compares by sorted column name).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name=name, spark=fn, oracle=oracle)
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    from ..sources.catalog import read_parquet_table

    return read_parquet_table(spark, sf_dir, table)


def source_digest(spec: QuerySpec) -> str:
    """Stable digest of a query's result-producing definition: the
    decorated function's AST (docstring and decorators stripped, so
    comment/doc edits don't churn it) plus the raw oracle SQL. The
    checked-in manifest (source_digests.json) pairs each digest with
    the LAST_CHANGED value at recording time; the staleness-automation
    test fails when a digest changes without a LAST_CHANGED bump —
    removing the human-memory dependency in the evidence chain (r14,
    VERDICT item 4). Scope: the decorated function's own source only —
    a change inside a shared helper (e.g. rag._docs_model) still needs
    the human judgment call it always did."""
    import ast
    import hashlib
    import inspect
    import textwrap

    src = textwrap.dedent(inspect.getsource(spec.spark))
    tree = ast.parse(src)
    fn = tree.body[0]
    fn.decorator_list = []  # the @query decorator embeds the oracle; hashed raw below
    if (
        fn.body
        and isinstance(fn.body[0], ast.Expr)
        and isinstance(fn.body[0].value, ast.Constant)
        and isinstance(fn.body[0].value.value, str)
    ):
        fn.body = fn.body[1:] or [ast.Pass()]
    payload = ast.dump(tree) + "\n#oracle\n" + (spec.oracle or "")
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def staleness_ledger_violations(
    manifest: dict, digests: dict[str, str], last_changed: dict[str, int]
) -> tuple[list[str], list[str], list[str], list[str]]:
    """The staleness-automation judgment (r14, VERDICT item 4), pure so
    tests can drive it with synthetic edits. Returns (missing, dead,
    unbumped, pending): queries absent from the manifest, manifest rows
    for queries that no longer exist, queries whose digest drifted from
    the manifest WITHOUT a LAST_CHANGED bump past the manifest's
    recorded value — the defect this exists for — and (ADVICE r15)
    queries whose LAST_CHANGED exceeds the manifest's recorded round:
    a bump committed without running scripts/update_source_digests.py.
    Without the pending check a stale manifest row masks any LATER body
    edit to the same query (digest still differs, bump still exceeds
    the old record), so regeneration is enforced, not a convention."""
    missing = sorted(set(digests) - set(manifest))
    dead = sorted(set(manifest) - set(digests))
    unbumped = sorted(
        n
        for n, d in digests.items()
        if n in manifest
        and d != manifest[n]["digest"]
        and last_changed.get(n, 0) <= manifest[n]["last_changed"]
    )
    pending = sorted(
        n
        for n in digests
        if n in manifest and last_changed.get(n, 0) > manifest[n]["last_changed"]
    )
    return missing, dead, unbumped, pending


# Import for side effects: each module registers its queries.
from . import relational  # noqa: E402,F401
from . import rag  # noqa: E402,F401
from . import textops  # noqa: E402,F401
from . import vectors  # noqa: E402,F401
from . import streaming_q  # noqa: E402,F401
from . import logsq  # noqa: E402,F401
from . import ingestq  # noqa: E402,F401
from . import mediaq  # noqa: E402,F401
from . import tpch_extra  # noqa: E402,F401
from . import pipelineq  # noqa: E402,F401
from . import cdcq  # noqa: E402,F401
from . import corpusq  # noqa: E402,F401
from . import auditq  # noqa: E402,F401
from . import analyticsq  # noqa: E402,F401
from . import curationq  # noqa: E402,F401
from . import round7q  # noqa: E402,F401
from . import round8q  # noqa: E402,F401
from . import stattestsq  # noqa: E402,F401
from . import forecastq  # noqa: E402,F401
from . import sketchq  # noqa: E402,F401
from . import linkageq  # noqa: E402,F401
from . import round9q  # noqa: E402,F401

# The driver's per-round correctness check covers only the first ~50
# REGISTRY entries, so insertion order decides which queries get
# driver-side oracle evidence each round. Ordering policy (see
# _reorder_for_driver_window):
#   0. STALE — queries whose Spark body was materially rewritten AFTER
#      their latest driver-green row (LAST_CHANGED > evidence round):
#      the local oracle-parity test still pins them, but the hard
#      driver signal predates the code, so they lead the window.
#   1. never-driver-checked oracle queries (new this round).
#   2. rows-only queries (weak check only — don't consume slots).
#   3. driver-verified queries whose evidence postdates their code.
# tests/test_registry_evidence.py cross-checks these maps against the
# CORRECTNESS_r*.json files so neither can silently rot.
_DRIVER_VERIFIED_BY_ROUND: dict[int, frozenset[str]] = {}

_DRIVER_VERIFIED_BY_ROUND[1] = frozenset(
    {
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
        "agg_rollup_status", "agg_cube_orders", "agg_distinct_stats",
        "agg_avg_acctbal_by_nation", "join_semi_big_orders",
        "join_anti_customers_no_orders", "join_left_order_counts",
        "join_full_outer_nation_presence", "join_cross_region_status",
        "join_range_nonequi", "window_top3_orders_per_customer",
        "window_order_date_lag", "window_running_revenue",
        "setop_active_customers", "scalar_string_part", "scalar_date_orders",
        "scalar_math_lineitem", "grouping_sets_priority", "scalar_array_funcs",
        "scalar_conditional_funcs", "q4_order_priority_exists",
        "q17_small_quantity_correlated", "q18_large_orders_having",
        "q19_disjunctive_filter", "q22_notexists_scalar_subquery",
        "pivot_status_by_priority", "agg_percentiles", "agg_approx_distinct",
        "scalar_map_funcs", "window_ranking_sweep", "fuzzy_levenshtein_pairs",
        "unpivot_order_measures", "agg_statistics", "scalar_string_extended",
        "scalar_date_events", "agg_collect_strings", "generated_series_source",
        "scalar_array_setops", "q7_volume_shipping", "q10_returned_items",
        "q14_promo_revenue_pct", "q16_supplier_part_counts",
        "q21_waiting_supplier", "revenue_share_of_total",
        "q2_min_cost_supplier", "window_range_frames", "null_semantics",
    }
)

_DRIVER_VERIFIED_BY_ROUND[3] = frozenset(
    {
        "ann_cosine_topk", "bm25_search_topk", "chunk_documents",
        "chunk_documents_default_params", "dedup_clusters_levenshtein",
        "dedup_exact_stats", "deterministic_sample_docs", "doc_fingerprints",
        "embedding_near_dup_pairs", "embedding_near_dup_via_ivf",
        "eval_check_rates", "eval_cost_metrics", "eval_generate_questions",
        "eval_judge_prompts", "hybrid_rrf_related_docs", "ingest_enrich_stub",
        "ingest_parse_corpus", "ingest_path_rules", "ivf_ann_topk",
        "jaccard_similarity_sample", "label_centroids", "lang_breakdown",
        "lang_confusion_matrix", "language_id_heuristic", "logs_qa_extract",
        "logs_tool_usage", "media_audio_windows", "media_feature_stats",
        "media_frame_index", "media_resize_audit", "minhash_dedup_canonical",
        "minhash_lsh_candidate_pairs", "minhash_signatures", "quality_scores",
        "rag_context_assembly", "rerank_stub_topk", "retrieval_eval_metrics",
        "simhash_near_dup_pairs", "simhash_signatures", "strip_code_fence",
        "text_stats", "tfidf_doc_weights", "tfidf_multiquery_topk",
        "tfidf_search_filtered", "tfidf_search_rocchio", "tfidf_search_topk",
        "token_counts_bpe_ish", "token_frequencies_top20",
        "token_sort_fingerprints", "vector_norms",
    }
)

_DRIVER_VERIFIED_BY_ROUND[4] = frozenset(
    {
        "events_hourly_stats", "events_json_props", "events_user_activity",
        "events_sessionize_batch", "events_sliding_counts",
        "events_view_purchase_funnel", "events_enriched_static",
        "events_asof_last_view", "events_hourly_gapfill",
        "events_weekly_retention", "events_value_histogram",
        "events_longest_gap_pandas", "events_conversion_cogroup",
        "events_replay_filtered", "events_rolling_zscore",
        "events_asof_next_purchase", "events_winsorized_values",
        "events_daily_rollup_merge", "events_cohort_retention",
        "events_markov_transitions", "events_errors_per_session",
        "events_first_type_occurrence", "events_view_purchase_left",
        "events_seasonal_profile", "events_funnel_steps_ordered",
        "events_journey_patterns", "pii_redact", "dataset_split_assign",
        "stratified_rebalance", "bigram_pmi_top20", "dedup_canonical_docs",
        "sample_n_per_lang", "sequence_pack_greedy", "repetition_stats",
        "decontaminate_overlap", "gopher_quality_rules",
        "dedup_incremental_batch", "vocab_oov_stats",
        "unigram_logprob_quality", "normalize_nfc_stats",
        "corpus_materialize_clean", "temporal_split_audit",
        "column_profile_orders", "weighted_sample_docs",
        "bigram_lm_quality", "crossdoc_ngram_dup_fraction",
        "boilerplate_ngrams_top20", "bpe_train_merges",
        "bpe_apply_symbol_stats", "quality_decile_tiers",
    }
)

_DRIVER_VERIFIED_BY_ROUND[5] = frozenset(
    {
        "agg_rollup_grouping_flags", "ann_recall_at10",
        "basket_part_pairs_top20", "benford_first_digit_audit",
        "char_entropy_quality", "chunk_tokens_windows",
        "corpus_mixture_weights", "data_quality_audit",
        "dedup_size_histogram", "domain_balance_entropy",
        "ivf_ann_multiprobe", "ivf_bucket_stats", "join_key_skew_audit",
        "kmeans_lloyd_2iter", "kmv_distinct_sketch", "knn_graph_by_label",
        "knn_triangle_stats", "length_drift_psi", "line_dedup_clean",
        "lpa_communities_2iter", "lsh_ann_topk", "lsh_candidate_quality",
        "media_dedup_payloads", "minhash_decontaminate",
        "mmr_diversified_topk", "ngram_novelty_rate",
        "orders_pareto_frontier", "orders_rfm_segments",
        "packing_efficiency_stats", "pagerank_knn_2iter",
        "pca_power_top_component", "q11_important_parts",
        "q12_late_shipment_priority", "q13_customer_order_distribution",
        "q15_top_supplier", "q20_dominant_part_suppliers",
        "q6_forecast_revenue", "q8_market_share", "q9_product_profit",
        "quantized_ann_topk", "rp_reduce_vectors", "scalar_regex_funcs",
        "scd2_order_priority_history", "search_facet_counts",
        "snapshot_diff_orders", "spell_suggest_terms",
        "tfidf_search_pruned", "tokenizer_fertility_by_lang",
        "top_terms_per_lang", "zipf_fit_stats",
    }
)

_DRIVER_VERIFIED_BY_ROUND[6] = frozenset(
    {
        "bloom_prefilter_audit", "bm25_search_topk", "bpe_apply_symbol_stats",
        "code_detect_heuristic", "context_length_buckets",
        "contrastive_negatives_sample", "dedup_retention_by_source",
        "doc_prefix_dedup", "embedding_centroid_shift",
        "embedding_decontaminate", "events_attribution_last_touch",
        "events_conversion_cogroup", "events_journey_patterns",
        "events_winsorized_values", "funnel_time_to_convert",
        "good_turing_counts", "hits_hub_authority", "hybrid_rrf_related_docs",
        "k_anonymity_audit", "kmv_overlap_matrix", "line_dedup_clean",
        "lsh_banding_design_curve", "markov_stationary_power",
        "markup_residue_audit", "minhash_jaccard_calibration",
        "partition_file_planner", "phrase_search_positions",
        "pq_codebook_train", "quality_decile_tiers", "retrieval_eval_metrics",
        "robust_outlier_audit", "script_mix_audit", "sequence_pack_greedy",
        "session_gap_survival", "shingle_containment_pairs",
        "source_term_drift_kl", "split_leakage_audit", "temporal_split_audit",
        "term_cooccur_pmi_topk", "tfidf_doc_weights", "tfidf_keywords_per_doc",
        "tfidf_multiquery_topk", "tfidf_search_filtered",
        "tfidf_search_rocchio", "tfidf_search_topk", "time_weighted_user_value",
        "truncation_loss_audit", "vocab_coverage_curve", "vocab_oov_stats",
        "zorder_layout_audit",
    }
)

_DRIVER_VERIFIED_BY_ROUND[7] = frozenset(
    {
        "acctbal_gini_by_nation", "basket_pair_lift_top20",
        "bigram_lm_perplexity_buckets", "bootstrap_mean_ci_poisson",
        "curriculum_order_assign", "customer_ltv_cohort",
        "dsir_importance_scores", "dup_span_stats",
        "embedding_near_dup_pairs", "embedding_near_dup_via_ivf",
        "events_attribution_linear", "events_hourly_anomaly",
        "ewma_user_value", "good_turing_counts", "ivm_join_delta_merge",
        "join_cardinality_estimate", "knn_degree_powerlaw",
        "knn_two_hop_reach", "l_diversity_audit", "lang_source_chisq",
        "lateral_topn_customers", "length_decile_normalize",
        "logreg_gradient_step", "merge_upsert_orders",
        "nb_source_confusion", "neyman_budget_allocation",
        "orders_status_trend_ols", "pandas_udaf_geomean",
        "part_abc_classification", "pipe_syntax_returns_summary",
        "pipeline_retention_funnel", "pyds_stream_telemetry_agg",
        "pyds_telemetry_agg", "q11_important_parts",
        "recursive_cte_bfs_hops", "referential_integrity_audit",
        "repeat_purchase_intervals", "robust_outlier_audit",
        "rolling_7d_active_users", "scalar_variant_events",
        "semantic_cluster_dedup", "sessions_bounce_rate_daily",
        "stream_state_introspection", "supplier_scorecard",
        "text_readability_scores", "tfidf_search_pruned",
        "tfidf_sharded_merge_search", "trigram_blocked_fuzzy_join",
        "weighted_median_price_by_flag", "window_value_functions",
    }
)

_DRIVER_VERIFIED_BY_ROUND[8] = frozenset(
    {
        "anova_f_price_by_status", "arrow_byte_stats_by_lang",
        "association_rules_conviction_topk", "bh_fdr_nation_acctbal",
        "bitmap_rolling_actives", "changepoint_daily_events",
        "collated_source_rollup", "conformal_interval_coverage",
        "cuped_ab_test", "decision_stump_train", "dp_noised_counts_audit",
        "equidepth_histogram_totalprice", "feature_hashing_collision_audit",
        "feature_mi_ranking", "fellegi_sunter_linkage",
        "huber_mean_value_by_type", "item_cosine_similarity_topk",
        "kendall_tau_acctbal_orders", "kfold_cv_mean_predictor",
        "km_user_churn", "kneser_ney_bigram_topk",
        "kruskal_wallis_value_by_type", "levene_variance_test",
        "listagg_sources_by_lang", "logreg_calibration_bins",
        "mann_whitney_purchase_vs_rest", "mode_median_lineitem_stats",
        "obrien_fleming_sequential_ab", "observe_pipeline_metrics",
        "ols_price_qty_discount", "orders_drift_ks_binned",
        "overdispersion_daily_counts", "page_hinkley_daily_drift",
        "parameterized_sql_orders", "parquet_encoding_planner",
        "pinball_quantile_grid", "pit_feature_join_purchases",
        "postings_compression_audit", "quantile_normalize_value_by_type",
        "ridge_path_price_qty_discount", "simhash_near_dup_pairs",
        "simhash_signatures", "spearman_acctbal_orders",
        "sql_sugar_group_by_all", "sql_udf_net_revenue", "t_closeness_audit",
        "target_encoding_loo", "theil_sen_daily_trend",
        "trigram_blocked_fuzzy_join", "two_proportion_ztest_weekend",
    }
)

_DRIVER_VERIFIED_BY_ROUND[9] = frozenset(
    {
        "agg_avg_acctbal_by_nation", "agg_cube_orders", "agg_distinct_stats",
        "agg_rollup_status", "daily_count_acf", "did_estimator_purchases",
        "grouping_sets_priority", "gumbel_block_maxima_fit",
        "holt_forecast_by_event_type", "holt_linear_daily_forecast",
        "ivm_agg_delta_merge", "jaccard_prefix_filter_pairs",
        "join_anti_customers_no_orders", "join_cross_region_status",
        "join_full_outer_nation_presence", "join_left_order_counts",
        "join_range_nonequi", "join_semi_big_orders",
        "kendall_tau_acctbal_orders", "lof_embedding_outliers",
        "lsh_candidate_recall_audit", "mann_kendall_trend",
        "mcnemar_purchase_halves", "misra_gries_heavy_tokens",
        "ml_minhash_similarity_join", "ndcg_retrieval_eval",
        "partition_checksum_manifest", "q17_small_quantity_correlated",
        "q18_large_orders_having", "q19_disjunctive_filter",
        "q1_pricing_summary", "q22_notexists_scalar_subquery",
        "q3_shipping_priority", "q4_order_priority_exists",
        "q5_local_supplier_volume", "runs_test_daily_counts",
        "scalar_array_funcs", "scalar_conditional_funcs",
        "scalar_date_orders", "scalar_math_lineitem", "scalar_string_part",
        "setop_active_customers", "stl_weekly_decompose_events",
        "stream_ivm_agg_merge", "theil_sen_daily_trend",
        "window_order_date_lag", "window_running_revenue",
        "window_top3_orders_per_customer", "winnowing_fingerprint_pairs",
        "yuen_trimmed_ttest",
    }
)

_DRIVER_VERIFIED_BY_ROUND[10] = frozenset(
    {
        "agg_collect_strings", "agg_percentiles", "agg_statistics",
        "ann_cosine_topk", "chunk_documents", "chunk_documents_default_params",
        "dedup_clusters_levenshtein", "dedup_exact_stats",
        "deterministic_sample_docs", "doc_fingerprints",
        "eval_generate_questions", "fuzzy_levenshtein_pairs",
        "generated_series_source", "ingest_path_rules", "ivf_ann_topk",
        "jaccard_similarity_sample", "label_centroids", "lang_breakdown",
        "lang_confusion_matrix", "language_id_heuristic",
        "lof_embedding_outliers", "logs_qa_extract", "minhash_dedup_canonical",
        "minhash_lsh_candidate_pairs", "minhash_signatures", "null_semantics",
        "pivot_status_by_priority", "q10_returned_items",
        "q14_promo_revenue_pct", "q16_supplier_part_counts",
        "q21_waiting_supplier", "q2_min_cost_supplier", "q7_volume_shipping",
        "quality_scores", "rag_context_assembly", "rerank_stub_topk",
        "revenue_share_of_total", "scalar_array_setops", "scalar_date_events",
        "scalar_map_funcs", "scalar_string_extended", "strip_code_fence",
        "text_stats", "token_counts_bpe_ish", "token_frequencies_top20",
        "token_sort_fingerprints", "unpivot_order_measures", "vector_norms",
        "window_range_frames", "window_ranking_sweep",
    }
)

_DRIVER_VERIFIED_BY_ROUND[11] = frozenset(
    {
        "bigram_pmi_top20", "dataset_split_assign", "dedup_canonical_docs",
        "embedding_near_dup_via_ivf", "eval_check_rates", "eval_cost_metrics",
        "eval_judge_prompts", "events_asof_last_view",
        "events_asof_next_purchase", "events_cohort_retention",
        "events_daily_rollup_merge", "events_enriched_static",
        "events_errors_per_session", "events_first_type_occurrence",
        "events_funnel_steps_ordered", "events_hourly_gapfill",
        "events_hourly_stats", "events_json_props", "events_longest_gap_pandas",
        "events_markov_transitions", "events_replay_filtered",
        "events_rolling_zscore", "events_seasonal_profile",
        "events_sessionize_batch", "events_sliding_counts",
        "events_user_activity", "events_value_histogram",
        "events_view_purchase_funnel", "events_view_purchase_left",
        "events_weekly_retention", "hits_hub_authority", "ingest_enrich_stub",
        "ingest_parse_corpus", "knn_degree_powerlaw", "knn_graph_by_label",
        "knn_triangle_stats", "knn_two_hop_reach", "logs_tool_usage",
        "lpa_communities_2iter", "media_audio_windows", "media_dedup_payloads",
        "media_feature_stats", "media_frame_index", "media_resize_audit",
        "pagerank_knn_2iter", "pii_redact", "recursive_cte_bfs_hops",
        "repetition_stats", "sample_n_per_lang", "stratified_rebalance",
    }
)

_DRIVER_VERIFIED_BY_ROUND[12] = frozenset(
    {
        "agg_rollup_grouping_flags", "ann_recall_at10",
        "basket_part_pairs_top20", "benford_first_digit_audit",
        "bigram_lm_quality", "boilerplate_ngrams_top20", "bpe_train_merges",
        "char_entropy_quality", "chunk_tokens_windows",
        "column_profile_orders", "corpus_materialize_clean",
        "crossdoc_ngram_dup_fraction", "data_quality_audit",
        "decontaminate_overlap", "dedup_incremental_batch",
        "fellegi_sunter_linkage", "gopher_quality_rules",
        "hits_hub_authority", "ivf_ann_multiprobe", "ivf_bucket_stats",
        "join_key_skew_audit", "kmeans_lloyd_2iter", "kmv_distinct_sketch",
        "knn_degree_powerlaw", "knn_graph_by_label", "knn_triangle_stats",
        "knn_two_hop_reach", "lpa_communities_2iter", "lsh_ann_topk",
        "lsh_candidate_quality", "mmr_diversified_topk",
        "normalize_nfc_stats", "orders_pareto_frontier",
        "pagerank_knn_2iter", "pca_power_top_component",
        "q12_late_shipment_priority", "q18_large_orders_having",
        "q6_forecast_revenue", "q8_market_share", "q9_product_profit",
        "quantized_ann_topk", "recursive_cte_bfs_hops",
        "rp_reduce_vectors", "scalar_regex_funcs", "search_facet_counts",
        "spell_suggest_terms", "top_terms_per_lang",
        "unigram_logprob_quality", "weighted_sample_docs", "zipf_fit_stats",
    }
)

_DRIVER_VERIFIED_BY_ROUND[13] = frozenset(
    {
        "bm25_search_topk", "bpe_apply_symbol_stats",
        "code_detect_heuristic", "context_length_buckets",
        "corpus_mixture_weights", "dedup_retention_by_source",
        "dedup_size_histogram", "domain_balance_entropy",
        "embedding_decontaminate", "embedding_near_dup_via_ivf",
        "events_conversion_cogroup", "events_journey_patterns",
        "events_winsorized_values", "fellegi_sunter_linkage",
        "hybrid_rrf_related_docs", "length_drift_psi",
        "line_dedup_clean", "markup_residue_audit",
        "minhash_decontaminate", "minhash_jaccard_calibration",
        "mmr_diversified_topk", "ndcg_retrieval_eval",
        "ngram_novelty_rate", "orders_rfm_segments",
        "packing_efficiency_stats", "phrase_search_positions",
        "q13_customer_order_distribution", "q15_top_supplier",
        "q20_dominant_part_suppliers", "quality_decile_tiers",
        "rag_context_assembly", "rerank_stub_topk",
        "retrieval_eval_metrics", "scd2_order_priority_history",
        "script_mix_audit", "sequence_pack_greedy",
        "snapshot_diff_orders", "source_term_drift_kl",
        "temporal_split_audit", "term_cooccur_pmi_topk",
        "tfidf_doc_weights", "tfidf_keywords_per_doc",
        "tfidf_multiquery_topk", "tfidf_search_filtered",
        "tfidf_search_rocchio", "tfidf_search_topk",
        "tokenizer_fertility_by_lang", "truncation_loss_audit",
        "vocab_coverage_curve", "vocab_oov_stats",
    }
)

_DRIVER_VERIFIED_BY_ROUND[14] = frozenset(
    {
        "acctbal_gini_by_nation", "basket_pair_lift_top20",
        "bloom_prefilter_audit", "contrastive_negatives_sample",
        "customer_ltv_cohort", "doc_prefix_dedup",
        "embedding_centroid_shift", "embedding_near_dup_pairs",
        "embedding_near_dup_via_ivf", "events_attribution_last_touch",
        "events_attribution_linear", "events_hourly_anomaly",
        "ewma_user_value", "fellegi_sunter_linkage",
        "funnel_time_to_convert", "good_turing_counts",
        "ivm_join_delta_merge", "k_anonymity_audit", "kmv_overlap_matrix",
        "l_diversity_audit", "lang_source_chisq", "length_decile_normalize",
        "lsh_banding_design_curve", "markov_stationary_power",
        "merge_upsert_orders", "orders_status_trend_ols",
        "pandas_udaf_geomean", "part_abc_classification",
        "partition_file_planner", "pq_codebook_train", "pyds_telemetry_agg",
        "q11_important_parts", "referential_integrity_audit",
        "repeat_purchase_intervals", "robust_outlier_audit",
        "rolling_7d_active_users", "scalar_variant_events",
        "session_gap_survival", "sessions_bounce_rate_daily",
        "shingle_containment_pairs", "split_leakage_audit",
        "stream_state_introspection", "supplier_scorecard",
        "text_readability_scores", "tfidf_search_pruned",
        "tfidf_sharded_merge_search", "time_weighted_user_value",
        "weighted_median_price_by_flag", "window_value_functions",
        "zorder_layout_audit",
    }
)

_DRIVER_VERIFIED_BY_ROUND[15] = frozenset(
    {
        "anova_f_price_by_status", "arrow_byte_stats_by_lang",
        "bh_fdr_nation_acctbal", "bigram_lm_perplexity_buckets",
        "bitmap_rolling_actives", "bootstrap_mean_ci_poisson",
        "collated_source_rollup", "conformal_interval_coverage",
        "cuped_ab_test", "curriculum_order_assign",
        "decision_stump_train", "dp_noised_counts_audit",
        "dsir_importance_scores", "dup_span_stats",
        "equidepth_histogram_totalprice",
        "feature_hashing_collision_audit", "feature_mi_ranking",
        "huber_mean_value_by_type", "join_cardinality_estimate",
        "kfold_cv_mean_predictor", "km_user_churn",
        "kruskal_wallis_value_by_type", "lateral_topn_customers",
        "listagg_sources_by_lang", "logreg_calibration_bins",
        "logreg_gradient_step", "mann_whitney_purchase_vs_rest",
        "ml_minhash_similarity_join", "mode_median_lineitem_stats",
        "nb_source_confusion", "neyman_budget_allocation",
        "observe_pipeline_metrics", "ols_price_qty_discount",
        "parameterized_sql_orders", "parquet_encoding_planner",
        "pinball_quantile_grid", "pipe_syntax_returns_summary",
        "pipeline_retention_funnel", "pit_feature_join_purchases",
        "postings_compression_audit", "pyds_stream_telemetry_agg",
        "quantile_normalize_value_by_type",
        "ridge_path_price_qty_discount", "semantic_cluster_dedup",
        "simhash_near_dup_pairs", "simhash_signatures",
        "sql_sugar_group_by_all", "sql_udf_net_revenue",
        "t_closeness_audit", "target_encoding_loo",
    }
)

#: Latest driver-green round per query (derived from the per-round sets).
DRIVER_EVIDENCE_ROUND: dict[str, int] = {}
for _rnd, _names in sorted(_DRIVER_VERIFIED_BY_ROUND.items()):
    for _n in _names:
        DRIVER_EVIDENCE_ROUND[_n] = _rnd

#: Round in which a query's Spark body last MATERIALLY changed (the
#: result-producing logic, not comments/aliases). Only queries changed
#: after round 1 need an entry; absent → assume evidence is fresh.
#: UPDATE THIS whenever you rewrite a registered query's body — the
#: staleness gate in tests/test_registry_evidence.py enforces that its
#: latest driver row is >= this round or that it leads the next window.
LAST_CHANGED: dict[str, int] = {
    # round-5 narrow-tf rewrite (operators/tfidf.py) — evidence from
    # r3. Most of this cohort was superseded by the r13 shared-model
    # refactor block below (ONE key per name, latest round); the two
    # non-shared variants keep their r5 entries:
    "bm25_search_topk": 5,
    # (tfidf_search_filtered's r5 entry superseded by the r16
    # build_tfidf block below — one key per name.)
    # round-5 scale-kernel rewrites — evidence from r4
    "quality_decile_tiers": 5, "temporal_split_audit": 5,
    "vocab_oov_stats": 5, "sequence_pack_greedy": 5,
    "events_winsorized_values": 5, "events_journey_patterns": 5,
    "bpe_apply_symbol_stats": 5,
    # round-6 rewrite: struct-min first-occurrence + empty-doc NULL
    # (plans/pipelineq.py line_dedup_clean) — evidence from r5
    "line_dedup_clean": 6,
    # round-6 rewrite: per-side vts/pts rename fixing the flaky
    # right-side column pruning at multi-file SFs — evidence from r4
    "events_conversion_cogroup": 6,
    # round-7 refactor: body moved into the shared exact/approx kernel
    # (_robust_outlier_audit) with explicit double casts — result-
    # identical by construction, but the conservative call is a driver
    # re-check — evidence from r6
    "robust_outlier_audit": 7,
    # round-7 rewrite: absolute f <= 10 cut replaced with the 10
    # smallest observed frequency classes (the absolute cut was
    # vacuously empty on the closed-vocabulary corpus) — evidence
    # from r6 predates the fix
    "good_turing_counts": 7,
    # round-7 signal-audit fixes: each of these held a driver-green row
    # earned on a VACUOUS 0 = 0 match (the query returned zero rows at
    # every SF). Retuned to emit real rows — the old evidence certifies
    # nothing, so they lead the window again.
    "q11_important_parts": 7,          # fixed fraction -> 1.5x-average gate
    # (tfidf_search_pruned's r7 entry superseded by the r16 block
    # below — one key per name.)
    "embedding_near_dup_pairs": 7,     # cos 0.62 > max(0.513) -> 0.40
    # embedding_near_dup_via_ivf: r7 threshold fix superseded by the
    # r11 norm-hoist entry below — ONE key, latest round, no duplicate
    # dict literal (a removed later duplicate would silently revert
    # the staleness gate to 7)
    # round-8 ADVICE fix: length>=3 guard before the trigram explode
    # (descending F.sequence on 2-char names) + oracle's 200-position
    # cap removed — result-identical on current data, but the body
    # changed, so the r7 row is conservatively stale.
    "trigram_blocked_fuzzy_join": 8,
    # round-9 ADVICE fixes: the quadratic-join cap guards were dead
    # (assert_true column dropped → pruned by Catalyst); rewritten to
    # raise_error threaded through a consumed output column. Result-
    # identical on any input under the cap, but the body changed, so
    # the r8 rows are conservatively stale.
    "kendall_tau_acctbal_orders": 9,
    "theil_sen_daily_trend": 9,
    # round-8 kernel rewrite: 60-way bit explode -> 60 wide combinable
    # sums (one shuffle), shared hash_mode kernel. Identical exact
    # integer sums by construction, but a material body change —
    # evidence from r3 predates it; near_dup_pairs consumes the kernel.
    # (simhash_signatures / simhash_near_dup_pairs r8 kernel-rewrite
    # entries superseded by the r16 block below — one key per name.)
    # round-10 rewrite (VERDICT r9 item 3): exact-kNN universe bounded
    # to the deterministic vec_id < LOF_SAMPLE calibration sample.
    # Results identical at sf <= 0.01 (sample = full table there) but
    # the body and the sf0.1+ result changed — the r9 row is stale.
    "lof_embedding_outliers": 10,
    # round-11 rewrite (VERDICT r10 item 3): synthetic_media now emits
    # REAL PNG/WAV payloads and the media family runs fake=False with
    # restructured closed-form oracles; media_dedup_payloads gained the
    # overlapping-recrawl union (non-vacuous at every SF). frame_index
    # is result-identical (video branch unchanged) but the shared
    # generator changed under it — conservative re-check.
    # (r11 media cohort superseded by the r16 block below — one key
    # per name.)
    # round-16 OPTIMIZATION: synthetic_media now guards its input with
    # ensure_scan_parallelism — a single-file corpus ran the whole
    # Python encode mapInPandas stage in ONE worker (media_feature_stats
    # 2.00 s -> 1.14 s at sf0.1). Round-robin repartition only; all five
    # oracle queries re-verified at sf0.001 (+ feature_stats and
    # dedup_payloads at sf0.01) this round — shared-generator change,
    # conservative driver re-check (the r11 convention).
    "media_feature_stats": 16,
    "media_resize_audit": 16,
    "media_audio_windows": 16,
    "media_dedup_payloads": 16,
    "media_frame_index": 16,
    # round-11 scale fix (LOF pattern): the exact kNN-graph kernel and
    # its seven consumers re-earned r11 evidence after the
    # vec_id < KNN_UNIVERSE bound; those entries are superseded by the
    # round-12 block below — ONE key per name, latest round.
    # round-11: per-vector norm hoisted out of the pair loop — entry
    # superseded by the r13 salted-triangle rewrite below (ONE key per
    # name, latest round).
    # round-12 ADVICE fix: the KNN_UNIVERSE calibration-sample bound is
    # now SURFACED as a constant ``knn_universe`` output column on the
    # graph query and all seven consumers (identical literal in both
    # dialects), so a sample-built graph can't be mistaken for a
    # full-corpus one downstream. Values are otherwise identical, but
    # the schema changed — conservative re-check in the r12 window.
    # round-12 scale rewrite: q18 now pre-aggregates lineitem by
    # l_orderkey and applies the HAVING filter BEFORE the 1:1 join to
    # orders (o_custkey is functionally dependent on the orders PK) —
    # the old plan shuffled the full joined fact and spilled at the
    # sf10 probe (16-85 s walls; new plan ~7 s). Result-identical by
    # construction, but a material body change — conservative re-check.
    "q18_large_orders_having": 12,
    # round-12 scale rewrite: FS linkage candidate pairs now come from
    # the FINE (nation, mktsegment, $100-band) equi-join whenever it
    # yields >= FS_TOPK pairs (band_agree implies sign_agree and
    # dominates the weights, so the global top-k is provably within
    # the fine pairs) with the coarse join as the tiny-N fallback —
    # the coarse block key has fixed cardinality, so its pair space
    # grew quadratically (9e9 pairs / 361 s at the sf10 soak).
    # Result-identical at sf0.001/0.01/0.1 (verified row-for-row in
    # order), but a material body change — conservative re-check.
    # (Superseded by the r13 dominance-guard entry below — one key.)
    # round-13 ADVICE fix: the fine-path dominance assumption is now an
    # executable guard (1-row u collect; fall back to coarse when
    # u_band/u_sign no longer leave a > 2e-6 log-weight gap).
    # (Superseded by the r14 entry below — one key, latest round.)
    # round-14 ADVICE fix: u estimates computed with try_divide (ANSI
    # divide-by-zero on 0/1-row tables) and the dominance guard treats
    # None/NaN u as failure. Result-identical on every table with
    # n >= 2 (all testdata SFs), but the body changed — conservative
    # re-check.
    "fellegi_sunter_linkage": 14,
    "knn_graph_by_label": 12,
    "pagerank_knn_2iter": 12,
    "knn_triangle_stats": 12,
    "lpa_communities_2iter": 12,
    "knn_degree_powerlaw": 12,
    "knn_two_hop_reach": 12,
    "recursive_cte_bfs_hops": 12,
    "hits_hub_authority": 12,
    # round-11 late-drop fix (all rows-only, so the oracle staleness
    # gate ignores these — recorded for honesty): watermarked stream
    # builders now drain multi-file replays in a SINGLE availableNow
    # batch (streaming/events.py::_table_stream). Output at the driver
    # single-file layout is byte-identical (it was already one batch);
    # multi-file layouts previously dropped rows behind the first
    # file's watermark (6% retention measured at 32 files). Pinned by
    # test_watermarked_streams_are_replay_layout_invariant.
    "stream_hourly_stats": 11,
    "stream_sessionize": 11,
    "stream_session_journeys": 11,
    "stream_sliding_counts": 11,
    "stream_dedup_first_arrivals": 11,
    "stream_view_purchase_funnel": 11,
    "stream_view_purchase_left": 11,
    "stream_daily_rollup": 11,
    "stream_rolling_actives": 11,
    # round-13 refactor (VERDICT r12 item 4): the ten identical-model
    # search-family builders now route through the shared
    # _docs_model/_chunks_model helpers (plans/rag.py) so a bench/soak
    # session can reuse ONE persisted index (SPARK_GRAFT_TFIDF_REUSE=1;
    # default OFF = byte-identical plans to before). Result-identical
    # by construction and unit-pinned, but the bodies changed —
    # conservative driver re-check.
    # (The whole r13 cohort superseded by the r16 build_tfidf block
    # below — one key per name, latest round.)
    # round-13 scale rewrite (caught by the NEW scaleprobe gate on its
    # first expanded run): the IVF near-dup self-join on the bare
    # 10-value label capped the join at 10 tasks and blew the SMJ
    # in-memory group buffer at sf10 (20k-row buckets; 4,991 s for the
    # same 10.8M-pair answer). Salted triangle decomposition — each
    # pair lands in exactly one (label, p, q) block, diagonal blocks
    # dedup by the id residual. Same rows at sf0.001/0.01/0.1/1
    # (oracle-verified), but a material body change — conservative
    # re-check; the unchanged coarse oracle makes driver equality the
    # losslessness proof.
    # (Superseded by the r14 entry below — one key, latest round.)
    # round-14 (VERDICT item 1): the salt count S is now DERIVED per
    # bucket from the bucket-size aggregate via
    # S = clamp(ceil(n/IVF_SALT_GROUP_TARGET), 1, 64) — divisor 2048 =
    # SMJ_GROUP_ROWS/2, the A/B-measured target — broadcast back onto
    # the vectors (plans/vectors.py::ivf_self_join_salt) instead of
    # the fixed S=8 constant. Exactly-once geometry unchanged (same S on both sides
    # of each label), same rows at every testdata SF and the oracle
    # keeps the plain label self-join — but a material body change, so
    # conservative driver re-check.
    # (Superseded by the r16 entry below — one key, latest round.)
    # round-16 (VERDICT item 1): the vector projection now passes
    # through operators/scale.py::ensure_scan_parallelism before the
    # salted fan-out — a single-file corpus (one scan partition — the
    # r15 probe's 16.5x serialization) is repartitioned to
    # defaultParallelism//2 with a named warning; multi-file inputs
    # are returned unchanged. Results identical by construction
    # (round-robin repartition only), but the body changed —
    # conservative driver re-check.
    "embedding_near_dup_via_ivf": 16,
    # (r15 memo-key entry superseded by the r16 entry below.)
    # round-16 OPTIMIZATION: operators/lsh_ml.py now guards the corpus
    # scan with ensure_scan_parallelism and durable_checkpoints the
    # vector table (it fed the CV fit, the LSH fit and BOTH
    # approxSimilarityJoin sides; each re-ran tokenize+transform from a
    # 1-partition scan). Output re-verified against the brute-force
    # oracle at sf0.001/0.01/0.1 this round (exact-distance
    # verification bounds any candidate-set perturbation at the
    # recorded ≤2.4e-10/pair miss probability) — shared-operator
    # change, conservative driver re-check.
    "ml_minhash_similarity_join": 16,
    # round-16 (VERDICT item 5): past_salt_cap diagnostics column added
    # (true when a bucket exceeds CAP×TARGET = 131,072 rows — the
    # measured past-cap regime). Existing columns byte-identical, but
    # the schema and both dialects changed — conservative driver
    # re-check.
    "ivf_bucket_stats": 16,
    # (jaccard_prefix_filter_pairs r16 checkpoint entry superseded by
    # the r17 block below — one key per name.)
    # round-16 OPTIMIZATION: the shared MinHash/SimHash kernels
    # (textops._minhash_wide / _simhash_signatures) now pass the
    # documents scan through ensure_scan_parallelism — a single-file
    # corpus serialized the shingle/tokenize+md5 map stage to one core
    # (measured 2.94 s -> ~1.0 s on the md5 minhash kernel at sf0.1).
    # Round-robin repartition only, results identical by construction
    # and oracle-verified at sf0.001/sf0.01 this round, but the shared
    # kernel under every consumer changed — conservative driver
    # re-check for all oracle-bearing consumers (the r11 media-family
    # convention).
    "minhash_signatures": 16,
    "minhash_lsh_candidate_pairs": 16,
    "minhash_decontaminate": 16,
    "minhash_jaccard_calibration": 16,
    "lsh_banding_design_curve": 16,
    "lsh_candidate_recall_audit": 16,
    # round-16 ADVICE (r17 fix): lsh_candidate_quality and
    # minhash_dedup_canonical also route through _lsh_candidate_pairs →
    # _minhash_wide but were missed by the r16 shared-kernel bump —
    # since source_digest hashes only the query function's own AST, the
    # staleness gate could not flag them; bumped so their pre-r16
    # evidence cannot silently certify the changed kernel.
    "lsh_candidate_quality": 16,
    "minhash_dedup_canonical": 16,
    # (simhash_* r16 kernel-guard entries superseded by the r17 block
    # below — one key per name.)
    # round-16 OPTIMIZATION: operators/tfidf.py::build_tfidf now (a)
    # guards its corpus scan with ensure_scan_parallelism (single-file
    # inputs serialized the tokenize/run-length map stage to one core)
    # and (b) materializes the per-field tf table once with
    # durable_checkpoint — the tfidf_search_topk before-plan carried 10
    # `Scan parquet` nodes because ReuseExchange was not deduplicating
    # the dfreq/w/qvec consumers (plans/r16/). Results identical by
    # construction (same rows into the same arithmetic; all 12
    # consumers oracle-verified at sf0.001 and the flagship four at
    # sf0.01 this round), but the shared builder changed under every
    # consumer — conservative driver re-check (r13 convention).
    # (tfidf-family r16 entries superseded by the r17 block below —
    # one key per name.)
    # round-16 OPTIMIZATION: winnow_fingerprints now guards its scan
    # (ensure_scan_parallelism) and the pair query materializes the
    # fingerprint set once (durable_checkpoint) — the before-plan ran
    # the tokenize→gram-md5→window→distinct pipeline 8x. Integer rows,
    # results identical; oracle-verified at sf0.001/sf0.01 this round.
    "winnowing_fingerprint_pairs": 16,
    # round-16 OPTIMIZATION: ann_cosine_topk's corpus side now passes
    # through ensure_scan_parallelism (the broadcast-scored pass does
    # |queries| 64-dim dots per row; a one-file scan serialized it).
    # Alternating same-session A/B: ~0.63 s -> ~0.56 s at sf0.1.
    # Round-robin repartition only; oracle-verified at sf0.001/sf0.01.
    "ann_cosine_topk": 16,
    # round-16 OPTIMIZATION: _crossdoc_grams (the shared 8-token-gram
    # kernel) now guards its documents scan with ensure_scan_parallelism
    # (alternating A/B: crossdoc_ngram_dup_fraction ~2.2 s -> ~1.5 s,
    # boilerplate_ngrams_top20 ~1.4 s -> ~0.95 s at sf0.1). Round-robin
    # repartition only; all five consumers oracle-verified at sf0.001
    # (+2 at sf0.01) this round — shared-kernel convention.
    "split_leakage_audit": 16,
    "shingle_containment_pairs": 16,
    "crossdoc_ngram_dup_fraction": 16,
    "boilerplate_ngrams_top20": 16,
    # (kmv_overlap_matrix r16 gram-kernel entry superseded by the r17
    # block below — one key per name.)
    #
    # ------------------------------------------------------------------
    # round-17 OPTIMIZATION (round 2 of 2). Every entry below changed a
    # query body or a shared kernel under it; results verified
    # identical against the DuckDB oracles at sf0.001 AND sf0.01 this
    # round (scripts/check_queries.py), and the full parity suite on
    # the final tree — conservative driver re-check per the
    # shared-kernel convention.
    #
    # SimHash kernel (textops._simhash_signatures): per-(doc, term)
    # counts now come from the narrow run-length kernel shared with the
    # TF-IDF build instead of explode → groupBy(doc_id, term) — the
    # widest exchange in the plan (the full token-term string stream)
    # disappears; identical (doc_id, term, tf) rows into identical
    # integer vote arithmetic.
    "simhash_signatures": 17,
    "simhash_near_dup_pairs": 17,
    "simhash_near_dup_topk": 17,
    # TF-IDF build (operators/tfidf.py::build_tfidf): the corpus count
    # is collected once at build time and inlined as a literal — same
    # long arithmetic, no more 1-row crossJoin/BroadcastExchange per
    # consumer (6 n_docs broadcast exchanges dropped from
    # tfidf_search_topk's plan, 10 -> 4 BroadcastExchange nodes; the 4
    # survivors are the legit term-keyed idf/query-weight joins).
    # The tf-table materialization is now a LAZY persist() instead of
    # the r16 eager durable_checkpoint: at sf0.1 the shapes are within
    # ~0.4 s (plans/r17/ab_tfidf.json: ckpt 2.50 / persist 2.87 / none
    # 2.80 on search; flat on multiquery) but the sf10 interleaved A/B
    # (plans/r17/ab_tfidf_sf10.json, VERDICT r16 item 6) measured the
    # checkpoint barrier at 2.2-2.5x the wall once the tf table is big
    # (search 28.9 s ckpt vs 11.6 persist; multi 9.1 vs 7.5) — the
    # one-tokenize-pass structure is kept, the barrier is not.
    "tfidf_doc_weights": 17,
    # (the search consumers' r17 entries are superseded by the r18
    # block below — one key per name.)
    "hybrid_rrf_related_docs": 17,
    "tfidf_search_rocchio": 17,
    "retrieval_eval_metrics": 17,
    "ndcg_retrieval_eval": 17,
    # Jaccard prefix-filter: the distinct (doc_id, h) trigram table is
    # now computed per row with array_distinct (doc_id is unique per
    # input row, so per-row dedup ≡ the global distinct) — the
    # Aggregate(distinct) exchange ahead of the checkpoint disappears.
    "jaccard_prefix_filter_pairs": 17,
    # Item-item cosine: sym pairs via a narrow 2-way explode instead of
    # union(co, swap(co)) (the union re-executed the whole co-count
    # pipeline), and the basket table pre-partitions on l_orderkey so
    # the distinct and both self-join sides share one exchange.
    "item_cosine_similarity_topk": 17,
    # RFM segments: the per-customer aggregate is persisted across the
    # three ntile branches (each branch's repartitionByRange sampling
    # pass re-ran the orders groupBy — up to 8 evaluations).
    "orders_rfm_segments": 17,
    # grouped_top_k simplification (operators/scale.py): one row_number
    # window + rank<=k filter — Spark plans the per-partition
    # WindowGroupLimit before the exchange (SPARK-37099), making the
    # manual two-phase kernel strictly more expensive (2 exchanges / 4
    # sorts vs 1 / 2). Identical rows and ranks; all four consumers
    # re-verified. kmv additionally persists its tiny sk sketch (fed
    # kth AND usk_in — the salt+md5+top-k pipeline ran twice).
    "kmv_overlap_matrix": 17,
    "top_terms_per_lang": 17,
    "sample_n_per_lang": 17,
    "contrastive_negatives_sample": 17,
    #
    # ------------------------------------------------------------------
    # round-18: TF-IDF search (operators/tfidf.py). search_topk builds
    # the query vector on the driver from the fitted idf (collected once
    # per fit) and scores with one filtered scan of the weights — no
    # query-table createDataFrame, idf join, qnorm groupBy or broadcast
    # join. search_topk_batch is now a thin wrapper over search_topk_df
    # (in-JVM query tokenizing; search_topk_df itself is unchanged, so
    # its eval consumers keep their entries). merge_tf_fragments shares
    # build_tfidf's idf/weight arithmetic (_fit_field) and takes N as a
    # collected literal. Every query on these paths is re-checked.
    "tfidf_search_topk": 18,
    "tfidf_multiquery_topk": 18,
    "tfidf_search_filtered": 18,
    "tfidf_search_pruned": 18,
    "rerank_stub_topk": 18,
    "mmr_diversified_topk": 18,
    "rag_context_assembly": 18,
    "tfidf_sharded_merge_search": 18,
}


def _is_stale(name: str) -> bool:
    evidence = DRIVER_EVIDENCE_ROUND.get(name)
    return evidence is not None and LAST_CHANGED.get(name, 0) > evidence


_MODULE_PRIORITY = {
    # round-7 window: zero stale rewrites remain (every r6 rewrite
    # earned a driver row), so the 40 never-driver-checked round-6
    # oracle queries lead (module order below), the 10 remaining slots
    # fall to rows-only entries, and verified-fresh queries rotate to
    # the back.
    "auditq": 0, "analyticsq": 0, "corpusq": 0, "pipelineq": 0, "textops": 1, "vectors": 2, "relational": 3,
    "tpch_extra": 4, "rag": 5, "mediaq": 6, "streaming_q": 7,
    "cdcq": 8, "ingestq": 9, "logsq": 10,
    # round-7 additions queue BEHIND every round-6 never-checked query
    # so they cannot displace the r6 backlog from the r7 window
    "round7q": 11,
    # round-8 additions queue BEHIND the 24 never-checked round-7
    # queries that own the round-8 window
    "round8q": 12,
    # round-9 additions queue BEHIND the 15 never-checked round-8
    # queries that lead the round-9 window
    "round9q": 13,
}


def _reorder_for_driver_window() -> None:
    # Rank tiers (VERDICT r8 item 2 added tier 2): 0 = stale rewrites
    # re-earning evidence; 1 = never-driver-checked oracle queries;
    # 2 = fresh-verified oracle queries, OLDEST evidence first, so
    # leftover window slots refresh r1/r3-era rows instead of being
    # wasted on rows-only entries; 3 = rows-only (no oracle — a window
    # slot only buys them the weak rows-only check, so they go last).
    def rank(item: tuple[str, QuerySpec]) -> tuple[int, int]:
        name, spec = item
        if _is_stale(name) and spec.oracle is not None:
            return (0, 0)
        if name in DRIVER_EVIDENCE_ROUND:
            if spec.oracle is None:
                return (3, 0)
            return (2, DRIVER_EVIDENCE_ROUND[name])
        if spec.oracle is None:
            return (3, 0)
        mod = spec.spark.__module__.rsplit(".", 1)[-1]
        return (1, _MODULE_PRIORITY.get(mod, 0))

    ordered = sorted(REGISTRY.items(), key=rank)  # stable: keeps module order within rank
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder_for_driver_window()
