"""PySpark-native analytics engine with the query/data-processing surface of
the reference Spotify ETL repo (Shravan-0024/data-engineering-spotify-etl-Airflow-AWS),
re-expressed Spark-first, plus LLM-data-pipeline extension operators
(dedup, similarity search, multimodal columns, text analysis).

Layout:
    session    - tuned SparkSession factory
    tables     - testdata parquet loaders (nanos-timestamp safe)
    registry   - query/oracle registry consumed by __spark_entry__
    operators/ - relational surface + extension operators
    sources/   - REST API Python DataSource, CSV-with-warehouse-options
    pipeline/  - the Spotify star-schema ETL (schemas, transforms, Q1-Q4
                 in DataFrame and spark.sql forms)
    streaming/ - Structured Streaming ingest (Snowpipe analog), windowed
                 aggregation twins, bounded-state dedup, stream-stream
                 interval join, applyInPandasWithState custom state
    functions/ - shared column-expression helpers
    plans/     - plan inspection/explain helpers
"""

__version__ = "0.1.0"


# The round driver audits only the FIRST 50 registered queries
# (row-count + schema + value-hash vs the DuckDB oracle); the rest get
# only the local parity suite. Since round 7 the 50-slot window is
# COMPUTED, not hand-listed (round-6 verdict #6): _compute_audit_first()
# below scans the driver's CORRECTNESS_r*.json history LIVE at load
# time (audit.scan_last_green; the generated audit_ledger.py snapshot is
# only a fallback for trees without the history files) under the
# standing priority rule:
#   1. PIN_FIRST - queries whose implementation or oracle CHANGED in
#      round PIN_ROUND (the only hand-maintained input; update both
#      each round there are changes). A pin expires BY ITSELF once the
#      query has a green audit row from round >= PIN_ROUND, so a stale
#      pin can never waste a slot; a FAILED re-audit keeps the pin.
#   2. never-audited - no green driver row in any CORRECTNESS file,
#      ordered by blast radius (module priority below), then
#      registration order.
#   3. evidence rotation - oldest green round first, then registration
#      order.
# load_all_operators() fills AUDIT_FIRST in place and reorders the
# registry so the driver's first-50 window IS this list.
AUDIT_FIRST: list[str] = []

AUDIT_WINDOW = 50

# Round 15 changed set: the tree-wide decimal->double conversion-class
# closure (r14 verdict ask #1) touched 132 queries - every Spark-side
# decimal-sourced .cast("double") now takes .cast("string") first, and
# every oracle CAST(<HUGEINT/DECIMAL> AS DOUBLE) takes the VARCHAR hop
# (one-shot rewrite tool apply_string_hop_r15.py, in git history at
# a552ed4; measurement basis
# evidence/decimal_double_rounding_probe.json: DuckDB native wide casts
# diverge from the correctly-rounded hop above 2^53, Spark's agree
# everywhere, double round-trips exactly - so the rewrite is
# value-preserving at tested scales and correct-by-spec above 2^53).
# All 132 are pinned; the window takes the first 50 this round and the
# remainder carries forward automatically (a pin expires only on a
# green row from round >= PIN_ROUND). Ordering: true conversion-class
# members (oracle wide-native or Spark decimal-native pre-rewrite)
# first, collateral hops (BIGINT-narrowed counts, exact either path)
# last. The seventh AST lint (tests/test_accumulator_hygiene.py)
# freezes the convention on both engines.
PIN_ROUND = 15
PIN_FIRST: list[str] = [
    "autocorr_daily_value",
    "binseg_changepoints",
    "bloom_filter_semi_join",
    "bm25_doc_ranking",
    "bootstrap_ci_event_value",
    "business_day_latency",
    "calibration_curve_clicks",
    "cohort_ltv_matrix",
    "cosine_vs_l2_rank_agreement",
    "cube_flag_status",
    "cuped_ab_adjustment",
    "cusum_changepoint_daily",
    "daily_trend_ols",
    "daily_value_correlation",
    "decile_lift_table",
    "degree_assortativity",
    "degree_powerlaw_check",
    "discount_elasticity_profile",
    "dow_adjusted_anomaly_days",
    "dow_seasonality_profile",
    "embedding_anisotropy",
    "embedding_centroid_drift",
    "embedding_covariance_matrix",
    "embedding_dim_stats",
    "ewma_control_chart",
    "fd_violation_profile",
    "forecast_model_bakeoff",
    "gini_customer_value",
    "hash_sample_bias_audit",
    "hhi_supplier_concentration",
    "incremental_agg_refresh",
    "interarrival_stats_by_type",
    "intraday_volume_curve",
    "k_anonymity_profile",
    "kmeans_embedding_clusters",
    "label_centroids",
    "left_outer_join_agg",
    "length_quality_correlation",
    "ltv_by_order_index",
    "macro_session_rollup",
    "multimodal_jpeg_decode_stats",
    "multimodal_png_decode_stats",
    "multimodal_ppm_decode_stats",
    "multimodal_resize_stats",
    "multimodal_wav_decode_stats",
    "multimodal_y4m_decode_stats",
    "near_dup_removal_impact",
    "nested_subsample_curve",
    "order_header_reconcile",
    "orders_above_cust_avg",
    "pagerank_trade_graph",
    "part_adoption_speed",
    "price_volume_mix_bridge",
    "props_json_stats",
    "rank_movers_wow",
    "rate_limit_flags",
    "region_flow_matrix",
    "retractable_agg_refresh",
    "return_rate_by_brand",
    "rolling_value_7d",
    "rollup_share_of_parent",
    "seasonal_naive_error",
    "segment_price_quartiles_exact",
    "session_bounce_rate",
    "session_type_affinity",
    "simplified_silhouette_by_label",
    "skew_profile_orders",
    "skewness_kurtosis_by_type",
    "source_mixture_weights",
    "sre_error_budget_burn",
    "stl_daily_decomposition",
    "stream_multimodal_decode",
    "stream_rate_limit_flags",
    "stream_session_rollup",
    "supplier_recs_fof",
    "tfidf_cosine_pairs",
    "time_hierarchy_rollup",
    "time_weighted_avg_value",
    "topk_plus_other_parts",
    "tpch_q11_important_stock",
    "tpch_q9_product_profit",
    "unigram_logprob_filter",
    "user_value_trend_slopes",
    "value_zscore_outliers",
    "vocab_coverage_curve",
    "vocab_oov_rate",
    "watermark_delay_profile",
    "weighted_median_price_by_brand",
    "welch_t_weekend_effect",
    "winsorized_stats_by_type",
    "zipf_token_slope",
    "auc_click_propensity",
    "basket_size_dispersion",
    "bucketed_colocated_join",
    "cascade_delete_users",
    "char_entropy_gate",
    "chi_square_lang_source",
    "diurnal_circular_profile",
    "dynamic_partition_pruned_join",
    "group_avg_join",
    "late_data_restatement",
    "ohlc_downsample",
    "orc_roundtrip_agg",
    "orders_nested_export",
    "pca_power_iteration",
    "pricing_summary",
    "promo_range_join",
    "quality_pruning_curve",
    "range_clustered_scan",
    "rfm_customer_segments",
    "rollup_agg",
    "schema_evolution_union",
    "skew_salted_join_agg",
    "sliding_window_agg",
    "star_join_agg",
    "target_encoding_segment",
    "tpch_q10_returned_items",
    "tpch_q14_promo_effect",
    "tpch_q15_top_supplier",
    "tpch_q17_small_quantity_revenue",
    "tpch_q18_large_volume_customer",
    "tpch_q19_disjunctive_revenue",
    "tpch_q22_dormant_balance",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "trailing_7d_sum_per_event",
    "ts_gap_fill",
    "tumbling_window_agg",
    "zorder_box_scan",
]

# Blast-radius ordering for the never-audited class. Round 8 drained
# the LLM-pipeline core (dedup/mlprep/curation/text/clusters/multimodal
# + windows); the remaining debt is the BI long tail, and round-8
# verdict #1 orders it by user traffic: insights (26) ahead of extras
# (38), with the windows/temporal/filtering/statistics mid-tier
# remainder keeping its standing rank. After a green r9 the never-
# audited set should be ~insights-tail + extras only, finishable in
# r10.
_MODULE_PRIORITY: dict[str, int] = {
    "dedup": 0,
    "mlprep": 1,
    "curation": 2,
    "text": 3,
    "clusters": 4,
    "multimodal": 5,
    "rest_api_stream": 6,
    "windows": 7,
    "temporal": 8,
    "filtering": 9,
    "statistics": 10,
    "relational": 11,
    "maintenance": 12,
    "insights": 13,
    "extras": 14,
    # streaming decode twin ties with multimodal: it carries the same
    # north-star modality claim, so it must not queue behind the BI tail
    "decode": 5,
    # r10 timer-bounded sessionization (the transformWithState ask):
    # the round's one new surface must not queue behind the BI tail
    "sessions": 6,
}


def _compute_audit_first(queries: dict) -> list[str]:
    from .audit import last_green_audit

    ledger = last_green_audit()
    names = list(queries)
    reg_order = {n: i for i, n in enumerate(names)}

    def bucket(n: str) -> int:
        mod = queries[n].__module__.rsplit(".", 1)[-1]
        return _MODULE_PRIORITY.get(mod, 99)

    pinned = [
        n
        for n in PIN_FIRST
        if n in queries and ledger.get(n, -1) < PIN_ROUND
    ]
    rest = [n for n in names if n not in pinned]
    never = sorted(
        (n for n in rest if n not in ledger),
        key=lambda n: (bucket(n), reg_order[n]),
    )
    rotation = sorted(
        (n for n in rest if n in ledger),
        key=lambda n: (ledger[n], reg_order[n]),
    )
    return (pinned + never + rotation)[:AUDIT_WINDOW]


def load_all_operators() -> None:
    """Import every operator module so its @query registrations land in
    the central registry, then compute the driver's 50-query audit window
    from the audit ledger and pin it by reordering the registry (tail
    keeps original registration order). Idempotent."""
    from .pipeline import transforms, sql_api  # noqa: F401
    from .sources import csv_source, json_recovery, rest_api  # noqa: F401
    from .sources import rest_api_stream  # noqa: F401
    from .streaming import aggregations, ingest  # noqa: F401
    from .operators import (  # noqa: F401
        relational,
        windows,
        dedup,
        similarity,
        text,
        multimodal,
        temporal,
        curation,
        clusters,
        merge,
        filtering,
        extras,
        tpch,
        statistics,
        mlprep,
        insights,
        maintenance,
    )
    from .streaming import decode as streaming_decode  # noqa: F401
    from .streaming import sessions as streaming_sessions  # noqa: F401
    from .streaming import dedup as streaming_dedup  # noqa: F401
    from .streaming import enrich as streaming_enrich  # noqa: F401
    from .streaming import joins as streaming_joins  # noqa: F401
    from .streaming import stateful as streaming_stateful  # noqa: F401
    from .streaming import upsert_sink as streaming_upsert  # noqa: F401

    from .registry import ORACLES, QUERIES

    missing = [n for n in PIN_FIRST if n not in QUERIES]
    if missing:
        raise RuntimeError(f"PIN_FIRST names unknown queries: {missing}")
    AUDIT_FIRST[:] = _compute_audit_first(QUERIES)
    rank = {n: i for i, n in enumerate(AUDIT_FIRST)}
    tail = [n for n in QUERIES if n not in rank]
    ordered = AUDIT_FIRST + tail
    for d in (QUERIES, ORACLES):
        reordered = {n: d[n] for n in ordered if n in d}
        d.clear()
        d.update(reordered)
