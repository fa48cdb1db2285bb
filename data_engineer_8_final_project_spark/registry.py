"""Named query registry: the driver-facing correctness surface.

Every implemented operator from SURVEY.md §2 is registered here as a
:class:`Query`: a callable ``(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) an equivalent ANSI-SQL oracle string that DuckDB runs
over the same parquet tables. The driver compares row-count + schema +
order-insensitive value hash, so:

- every computed column is aliased IDENTICALLY in the Spark code and
  the oracle SQL;
- integer aggregate outputs are cast to BIGINT on both sides (DuckDB
  ``SUM(int)`` returns HUGEINT, Spark returns LONG);
- no wall-clock anywhere (FIXTURES.md determinism rules);
- every ranked output has a tiebreak-complete ORDER BY.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    """One registered engine query + its DuckDB oracle."""

    name: str
    fn: QueryFn
    oracle: str | None  # None → non-SQL-expressible; driver does rows-only check
    survey_ref: str = ""  # SURVEY.md §2 operator ids this query covers


_REGISTRY: dict[str, Query] = {}


def register(
    name: str, oracle: str | None, survey_ref: str = ""
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, survey_ref=survey_ref)
        return fn

    return deco


#: Driver-facing registration order. The driver's CORRECTNESS pass
#: verifies the FIRST 50 queries in ``queries()`` iteration order
#: (round-1 finding: positions 50+ get no driver evidence).
DRIVER_PRIORITY: tuple[str, ...] = (
    # ---- Round-17 window (first 50; the driver verifies only these). ----
    # Rotation per VERDICT r16 item 8: head with the eight r12 greens
    # staged at the boundary last round (their rollover grace expires
    # this round), then 42 of the 50-query r13-green cohort — the
    # oldest remaining evidence. The EIGHT r13 greens outside the
    # window are staged immediately after the boundary; each has an
    # operator-family sibling with fresher evidence:
    # dedup_stream (dedup_stream_watermarked in THIS window),
    # event_funnel_stream (event_funnel r15), events_by_segment_stream
    # (events_hourly_stream r16), kmeans_clusters (label_centroids r16),
    # bm25_doc_ranking (tfidf_topk_terms r15), knn_bfs_hops (knn_graph
    # r15, knn_kcore in THIS window), maxsim_multivector_topk
    # (embedding_topk r16), snapshot_reconcile (scd2_event_history r15).
    # -- (a) the eight r12 greens (grace expires at the r17 horizon) --
    "latest_event_snapshot",
    "clicks_last_error",
    "customers_without_orders",
    "distinct_customers_salted",
    "doc_repetition_scores",
    "events_hourly_gapfill",
    "events_trailing_hour_window",
    "knn_pagerank",
    # -- (b) 42 of the r13-green cohort (prior relative order kept) --
    "dedup_stream_watermarked",
    "matches_clean",
    "event_type_drift",
    "scd2_point_in_time_join",
    "table_profile",
    "quality_model_filter",
    "cluster_balanced_sample",
    "attribution_last_touch",
    "ewma_user_value",
    "value_outliers_mad",
    "revenue_trend_by_nation",
    "rfm_segments",
    "brand_affinity_pairs",
    "conversion_latency_stats",
    "lang_source_contingency",
    "quality_percentile_norm",
    "pq_reconstruction_error",
    "session_bounce_stats",
    "knn_kcore",
    "event_transition_matrix",
    "time_weighted_value",
    "revenue_pareto_deciles",
    "hourly_volume_spikes",
    "fd_violation_audit",
    "revenue_trend_theilsen",
    "benford_first_digit",
    "revenue_gini",
    "token_prefix_completions",
    "part_price_boxplot",
    "cohort_ltv",
    "ab_test_conversion",
    "activity_heatmap",
    "embedding_norm_outliers",
    "rolling_wau",
    "user_churn_rate",
    "brand_hhi_by_year",
    "supplier_latency_league",
    "curation_pipeline",
    "embedding_covariance",
    "token_cms_heavy_hitters",
    "embedding_pca_scores",
    "revenue_bootstrap_ci",
    # ---- driver window boundary (50) ----
    # -- the eight r13 greens deferred to the r18 head (rationale above) --
    "dedup_stream",
    "event_funnel_stream",
    "events_by_segment_stream",
    "kmeans_clusters",
    "bm25_doc_ranking",
    "knn_bfs_hops",
    "maxsim_multivector_topk",
    "snapshot_reconcile",
    # -- r14/r15/r16 greens (newest evidence; prior relative order kept) --
    "pq_recall_eval",
    "weighted_sample_per_source",
    "jaccard_near_dup",
    "semantic_dedup",
    "semantic_decontamination",
    "embedding_topk",
    "ann_lsh_topk",
    "label_centroids",
    "knn_communities",
    "knn_label_vote",
    "knn_triangle_stats",
    "watermark_drop_audit",
    "pricing_summary",
    "high_value_customers_semi",
    "top_customers_per_nation",
    "rollup_region_nation",
    "shipping_priority",
    "returned_items",
    "text_stats_by_lang",
    "doc_quality_scores",
    "token_topk",
    "lang_id_heuristic",
    "embedding_near_dup_pairs",
    "bpe_token_topk",
    "doc_winnow_fingerprints",
    "corpus_clean_pipeline",
    "media_manifest",
    "media_features",
    "media_frame_sample",
    "events_hourly_stream",
    "events_sliding_stream",
    "standings_stream",
    "event_sessions",
    "purchases_in_sessions",
    "events_time_rollup",
    "stratified_sample",
    "events_sliding",
    "per_source_cap",
    "temperature_mixture_sample",
    "training_shuffle_order",
    "ivfpq_ann_topk",
    "source_shingle_kmv",
    "incremental_ingest_dedup",
    "leakage_safe_split",
    "hard_negative_mining",
    "token_budget_pack",
    "source_overlap_matrix",
    "source_minhash_similarity",
    "near_dup_rate_by_source",
    "ivf2_ann_topk",
    "ann_recall_eval",
    "ngram_containment_pairs",
    "mmr_diverse_topk",
    "dedup_attrition_curve",
    "curriculum_order",
    "simhash_dedup_verdicts",
    "dup_clusters_twostar",
    "tfidf_topk_terms",
    "lang_mixture_weights",
    "minhash_lsh_pairs",
    "pq_adc_topk",
    "knn_graph",
    "full_outer_coalesce",
    "dedup_exact",
    "html_matches_extract",
    "scalar_cleaning_suite",
    "lsh_near_dup_pairs",
    "events_json_extract",
    "large_volume_customers",
    "small_qty_part_revenue",
    "lone_late_supplier",
    "priority_order_counts",
    "customer_order_distribution",
    "idle_rich_customers",
    "nation_pair_volume",
    "top_revenue_supplier",
    "part_supplier_counts",
    "cheapest_part_per_brand",
    "market_share_by_year",
    "product_profit_by_nation_year",
    "disjunctive_pred_revenue",
    "excess_shipped_suppliers",
    "events_hourly",
    "dup_span_stats",
    "order_chains_recursive",
    "events_props_variant",
    "dup_cluster_representatives",
    "doc_chunks",
    "forecast_revenue_change",
    "importance_weights",
    "bpe_merge_candidates",
    "event_funnel",
    "retention_cohorts",
    "session_path_topk",
    "scd2_event_history",
    "value_histogram",
    "late_shipment_priority",
    "vocab_coverage_oov",
    "bigram_logprob",
    "weighted_sample_topk",
    "user_totals_stateful",
    "events_session_stream",
    "view_click_stream_join",
    "event_sessions_native",
    "grouping_sets_revenue",
    "revenue_mom_growth",
    "weekday_seasonality",
    "group_count",
    "group_sum_multi",
    "revenue_by_nation",
    "top_orders",
    "order_gaps_lag",
    "part_price_rank",
    "custkey_set_ops",
    "cube_flag_status",
    "promo_revenue_share",
    "price_quantiles",
    "pivot_qty_by_status",
    "order_value_quartiles",
    "doc_fingerprints",
    "simhash_near_dup",
    "text_normalize",
    "unpivot_order_metrics",
    "standings",
    "media_decode_fake",
    "reference_standings",
    "orders_by_month",
    "day_name_dimension",
    "season_year_inference",
    "completed_before_cutoff",
    "minhash_native_pairs",
    "ivf_ann_topk",
    "dup_clusters",
    "training_manifest",
    "hash_split_assignments",
    "sequence_packing",
    "pii_scrub_stats",
    "doc_unigram_logprob",
    "dq_audit",
    "customer_name_fuzzy_pairs",
    "order_qty_sequences",
    "sorted_neighborhood_pairs",
    "events_winsorized_stats",
    "status_reconciliation_nullsafe",
    "doc_median_length_udaf",
    "doc_norm_length_grouped",
    "doc_tokens_udtf",
    "ngram_decontamination",
    "vocab_build",
    "skewed_user_join",
)

def all_queries() -> dict[str, Query]:
    """Name → Query for every registered query (imports all modules).

    Iteration order follows :data:`DRIVER_PRIORITY`; names missing from
    the priority list (a bug tests/test_registry.py catches) would sort
    after it in registration order.
    """
    # Import for side effects: each module registers its queries.
    from .queries import (  # noqa: F401
        core,
        corpus_q,
        extended,
        flagship,
        multimodal_q,
        reference_pipeline,
        scalar,
        skew_q,
        streaming_q,
        training_q,
        udf_q,
    )

    rank = {name: i for i, name in enumerate(DRIVER_PRIORITY)}
    ordered = sorted(_REGISTRY, key=lambda n: (rank.get(n, len(rank)),))
    return {name: _REGISTRY[name] for name in ordered}
