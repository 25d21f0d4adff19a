"""Registry mapping query names to (Spark callable, DuckDB oracle SQL).

Contract (see ``__spark_entry__.py``): each Spark callable takes
``(spark, sf_dir)`` and returns a DataFrame; the oracle SQL runs on
DuckDB views named after the parquet tables. Column names must match
exactly between the two (the driver sorts columns by name and hashes
values), so every computed column is aliased identically on both sides.

Float policy (rewritten r7 after the r6 driver hash failures proved
the old "rounding collapses ulp noise" claim wrong — a value within
one ulp of a rounding boundary rounds DIFFERENTLY per engine):

1. Quantize to integer/decimal BEFORE any cross-row reduction, never
   after. Money columns sum as DECIMAL/integer cents (functions/agg.py
   money_sum, or per-row cents BIGINTs); computed per-row doubles are
   round()-quantized per row and summed as DECIMAL. Decimal/integer
   addition is associative, so results are partition-order and engine
   independent. round(sum(raw double)) is BANNED.
2. No libm transcendental (ln/log/exp/pow) may touch a twinned
   surface: libm differs in the last ulp between engine builds, which
   flips quantization at boundaries. Use operators/portablemath.py
   (pln_sql/pexp_sql — pure IEEE arithmetic shared verbatim by both
   engines, bit-identical by construction) or restructure the twin to
   an integer domain. sqrt is exempt (IEEE-correctly-rounded).
3. Per-row double arithmetic (+ - * /) on engine-identical inputs is
   safe: IEEE requires correct rounding, and neither engine
   reassociates — keep the expression trees syntactically parallel.

plans/lint.py:lint_all_twins enforces 1-2 over every registered twin
(wired into tests/test_float_policy.py).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    sql: str | None  # DuckDB oracle twin; None => rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, sql: str | None = None, doc: str = ""):
    """Decorator: register a query under ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, sql=sql, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    return dict(_REGISTRY)


def get(name: str) -> QuerySpec:
    return _REGISTRY[name]


# The driver's correctness gate checks the first 50 entries of
# ``queries()``; this order is the driver contract. tests/test_oracle_parity.py
# checks every twin, and the window's twins again at sf0.01.
_PRIORITY = [
    "bm25_topk_docs",
    "copurchase_adamic_adar",
    "copurchase_assortativity",
    "copurchase_kcore_peel",
    "corpus_zipf_fit",
    "custkey_overlap_setops",
    "customers_without_orders",
    "daily_revenue_cusum",
    "dedup_minhash_portable",
    "dedup_segments_reassembled",
    "dedup_simhash_portable",
    "dedup_span_coverage",
    "delta_read_column_mapping",
    "delta_read_snapshot",
    "doc_bigram_backoff_nll",
    "doc_perplexity_by_source",
    "doc_quality_auc",
    "doc_quality_by_source",
    "doc_repetition_by_source",
    "doc_winnow_stats",
    "documents_stratified_portable",
    "dsir_target_selection",
    "event_entropy_rate",
    "event_funnel",
    "events_props_extract",
    "events_stickiness",
    "events_user_heavy_hitters",
    "fillna_policy",
    "hours_parse",
    "hybrid_rrf_topk",
    "iceberg_read_pos_delete",
    "iceberg_read_snapshot",
    "lang_id_confusion",
    "lineitem_metric_unpivot",
    "lpa_convergence_trace",
    "map_literal_parse",
    "monthly_revenue_forecast",
    "null_audit_orders",
    "orders_incremental_quantile",
    "orders_pit_segment_revenue",
    "pagerank_convergence_trace",
    "part_like_filter",
    "regional_revenue",
    "segment_pivot",
    "status_recode_operator",
    "string_date_parse",
    "user_current_state_cdc",
    "yelp_basetable_mini",
    "embedding_hubness_audit_ann",
    "dedup_semantic_groups",
    "benchmark_contamination",
    "boilerplate_ngrams",
    "bucketed_revenue_join",
    "copurchase_triangles",
    "corpus_ngram_novelty",
    "customer_reorder_survival",
    "customer_revenue_pareto",
    "customer_scd2_merge",
    "daily_revenue_acf",
    "daily_revenue_trend_robust",
    "dedup_components",
    "dedup_embedding_cosine",
    "dedup_exact_docs",
    "dedup_incremental_ingest",
    "dedup_jaccard_pairs",
    "dedup_jaccard_prefix",
    "dedup_winnow_pairs",
    "discount_quantity_ols",
    "discount_quantity_spearman",
    "doc_chunk_windows",
    "embedding_label_stats",
    "event_sessions_builtin",
    "event_type_hour_mutual_info",
    "event_value_welch_ab",
    "events_multires_rollup",
    "knn_cosine_brute",
    "leakage_safe_corpus_split",
    "monthly_forecast_accuracy",
    "monthly_revenue_seasonality",
    "order_rollup_flagship",
    "orders_benford_digits",
    "orders_price_psi",
    "part_copurchase_pagerank",
    "pretraining_corpus_pipeline",
    "purchase_click_window",
    "purchase_last_click_asof",
    "purchase_markov_attribution",
    "purchase_shapley_attribution",
    "referential_integrity_audit",
    "salted_status_rollup",
    "segment_revenue_bootstrap_ci",
    "segment_revenue_gini",
    "source_mixture_plan",
    "tfidf_top_terms",
    "token_shard_packing",
    "user_value_hourly_ffill",
    "waiting_supplier_lines",
    "dedup_containment_prefix",
    "corpus_token_drift",
    "customer_tcloseness",
    "doc_length_quantiles",
    "doc_token_stats",
    "documents_dp_release",
    "documents_temperature_mixture",
    "embedding_centroids",
    "event_sessions",
    "event_transition_matrix",
    "event_value_stats",
    "events_burstiness",
    "events_daily_completeness",
    "events_hourly",
    "events_kmv_setops",
    "events_rolling_dau",
    "frequent_big_spenders",
    "gdpr_erasure_cascade",
    "lang_source_chi2",
    "monthly_revenue",
    "nation_customer_value",
    "nation_supplier_hhi",
    "orders_above_customer_avg",
    "orders_incremental_rollup",
    "orders_mannwhitney",
    "part_basket_lift",
    "part_name_tokens",
    "pricing_summary",
    "priority_recode",
    "priority_union",
    "purchase_decay_attribution",
    "returnflag_price_corr",
    "revenue_rollup",
    "revenue_tail_hill",
    "segment_revenue_share",
    "sentinel_audit_orders",
    "signup_retention_cohorts",
    "source_overlap_matrix",
    "status_priority_cube",
    "status_priority_mode",
    "token_skipgram_counts",
    "top100_orders",
    "topk_orders_per_customer",
    "user_value_anomalies",
    "user_value_sliding_1h",
    "vocab_oov_rate",
    "multimodal_image_ahash_dedup",
    "dedup_containment_pairs",
    "orders_fd_violations",
    "embedding_hubness_audit",
    "events_value_anova",
    "bloom_semijoin_audit",
    "bm25_ndcg_eval",
    "copurchase_clustering_coefficient",
    "copurchase_local_bridges",
    "corpus_heaps_beta",
    "corpus_ngram_entropy",
    "customer_ldiversity",
    "doc_quality_rules_kappa",
    "doc_token_length_histogram",
    "doc_tokenizer_fertility",
    "embedding_centroid_shift",
    "embedding_matryoshka_audit",
    "events_cms_heavy_hitters",
    "orders_merge_upsert_rollup",
    "orders_price_ks",
    "orders_price_quantile_sketch",
    "vocab_coverage_curve",
    "ann_recall_report",
    "approx_distinct_sketch",
    "bpe_corpus_stats",
    "dedup_simhash",
    "dedup_tier_quality_report",
    "documents_stratified_sample",
    "embedding_cluster_silhouette",
    "embedding_pca_variance",
    "multimodal_audio_resample",
    "multimodal_video_frames",
    "observed_rollup_audit",
    "part_copurchase_communities",
    "streaming_cms_heavy_hitters",
    "streaming_ingest_monitor",
    "streaming_merge_upsert",
    "streaming_segment_revenue",
    "streaming_unattributed",
    "streaming_upsert_rollup",
    "streaming_value_drift",
    "synthetic_source_rollup",
    "bulk_rename",
    "customer_order_coverage",
    "customer_rfm_segments",
    "customer_spend_deciles",
    "customers_with_urgent_orders",
    "dedup_canonical_docs",
    "dedup_cluster_size_spectrum",
    "dedup_orders_keep_first",
    "discount_band_histogram",
    "distinct_customer_count",
    "distinct_status_priority",
    "doc_bpe_token_estimate",
    "doc_fingerprints",
    "corpus_shuffle_shards",
    "corpus_vocabulary",
    "customer_kanonymity",
    "customer_order_count_distribution",
    "daily_revenue_changepoint",
    "dedup_fuzzy_part_names",
    "dedup_impact_by_source",
    "documents_balanced_per_lang",
    "documents_weighted_sample",
    "dominant_part_suppliers",
    "embedding_hard_negatives",
    "embedding_int8_audit",
    "embedding_outlier_audit",
    "events_props_variant",
    "events_user_kmv_distinct",
    "idle_rich_customers",
    "knn_cosine_int8",
    "late_line_priority_split",
    "late_ship_priority_counts",
    "narrow_discount_revenue",
    "nation_market_share",
    "nation_product_profit",
    "nation_trade_balance_sql",
    "orders_custkey_skew",
    "orders_price_jsd",
    "orders_profile",
    "orders_quality_gate",
    "orders_snapshot_diff",
    "part_attr_supplier_counts",
    "pii_scrub_audit",
    "priority_status_cramers_v",
    "promo_revenue_multibrand",
    "promo_revenue_share",
    "purchase_hits_scores",
    "regional_min_price_suppliers",
    "returned_item_customers",
    "segment_top_open_orders",
    "shard_packing_efficiency",
    "small_qty_part_revenue",
    "source_mixture_ess",
    "supplier_value_concentration",
    "top_revenue_supplier",
    "top_volume_orders",
    "ml_features_split",
    "corpus_heaps_fit",
    "streaming_stateless_rollup",
    "streaming_dedup",
    "ml_calibration_bins",
    "ml_confusion_matrix",
    "ml_learning_curve",
    "knn_ivf_ann",
    "knn_pq_ann",
    "ml_cv_select",
    "streaming_rolling_dau",
    "ml_train_eval",
    "multimodal_features",
    "streaming_corpus_ingest",
    "doc_length_quantiles_approx",
    "dedup_minhash_pairs",
    "knn_lsh_ann",
    "ml_feature_importance",
    "streaming_hourly_counts",
    "streaming_sessions",
    "streaming_attribution",
    "yelp_basetable",
]


def ordered_queries() -> dict[str, QuerySpec]:
    """Registry in driver-check order: ``_PRIORITY`` first, then the
    remaining entries in registration order."""
    missing = [n for n in _PRIORITY if n not in _REGISTRY]
    if missing:
        raise ValueError(f"_PRIORITY names not registered: {missing}")
    out = {n: _REGISTRY[n] for n in _PRIORITY}
    out.update((n, s) for n, s in _REGISTRY.items() if n not in out)
    return out
