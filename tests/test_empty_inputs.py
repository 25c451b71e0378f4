"""Empty-input hardening: representative builders from each operator
family must plan and run (0 rows, stable schema) on empty tables — the
all-partitions-pruned / empty-upstream case every 100 TB pipeline hits.
"""

from __future__ import annotations

import pytest

from dmi_ingestor_spark.catalog import TABLES, table
from dmi_ingestor_spark.registry import load_all

REGISTRY = load_all()

# one per family: scan-agg, fact join, window, dedup ladder, similarity,
# text, as-of, set op, clustering
EMPTY_SAFE = [
    "q1_pricing_summary",
    "join_inner_orders_lineitem",
    "window_rank_orders_per_customer",
    "dedup_minhash_lsh",
    "dedup_components",
    "sim_topk_bruteforce",
    "text_tfidf_top_terms",
    "join_asof_latest_order_per_event",
    "setop_union_all",
    # round-2 second-wave families
    "pack_sequences_cumsum",
    "text_repetition_filter",
    "mix_strata_weighted",
    "udtf_rle_tokens",
    "layout_zorder_buckets",
    "graph_pagerank_trade",
    "join_range_binned_funnel",
    "scd2_dimension_merge",
    "cohort_weekly_retention",
    "agg_histogram_totalprice",
    "integrity_table_fingerprint",
    "join_null_safe_semantics",
    "ts_gapfill_interpolate",
    "sim_pq_adc",
    "rollup_incremental_merge",
    "ts_rollup_ohlc",
    # round-2 third wave
    "join_bloom_prefilter",
    "dedup_bag_of_words",
    "table_diff_rowhash",
    "text_inverted_index",
    "text_bigram_lm",
    "cluster_kmeans_embeddings",
    "join_point_in_time_scd2",
    "agg_argmax_pack",
    "skyline_pareto_parts",
    "vector_int8_quantize",
    "dedup_substring_containment",
    "agg_histogram_equifreq",
    "cogroup_reconcile_pandas",
    "setop_intersect_all",
    "setop_except_all",
    "cdc_apply_changes",
    "st_session_dynamic_gap",
    "agg_mode_exact",
    "scalar_bitwise_pack",
    "reshape_explode_outer_nulls",
    "anomaly_zscore_acctbal",
    "shuffle_deterministic_hash",
    "layout_partition_prune_count",
    "sql_api_join_hints",
    "dedup_incremental_minhash",
    "join_asof_next_purchase_after_click",
    "pipeline_e2e_corpus",
    "sample_bernoulli_hash",
    "sql_api_filter_clause",
    "window_frame_semantics",
    "dedup_cluster_select",
    "transform_winsorize_values",
    # round-2 seventh wave
    "text_chunk_sliding",
    "sample_cap_per_domain",
    "topk_per_group_aggregate",
    "reshape_union_by_name_evolution",
    "sql_api_lateral_topn",
    "agg_multi_distinct_expand",
    "agg_boolean_pack",
    "setop_null_semantics",
    "scalar_xml_parse",
    "ts_time_weighted_avg",
    "agg_covariance_exact",
    "sql_api_group_by_all",
    "window_running_distinct",
    "agg_percentile_disc",
    "analytics_cep_pattern",
    "agg_bitmap_distinct",
    "agg_listagg_ordered",
    "scalar_map_hof_pack",
    "text_lm_score",
    "analytics_mom_growth",
    "analytics_rfm_segments",
    "analytics_copurchase_pairs",
    "analytics_revenue_concentration",
    "join_right_outer_lineitem_customer",
    "agg_grouping_id_pin",
    "reshape_explode_map",
    "sort_limit_offset_page",
    "scalar_array_index_semantics",
    "sim_ann_lsh_buckets",
    "sim_ann_recall_eval",
    "dedup_semantic_cluster",
    "join_fuzzy_token_blocked",
    "mm_audio_energy",
    "ts_ewma_trailing",
    "graph_triangle_count",
    "ml_negative_sampling",
    "text_bpe_merges",
    "sample_exact_stratified",
    "text_bpe_apply",
    "ts_rolling_anomaly",
    # round-2 waves 12-17
    "dedup_paragraph_rewrite",
    "ml_feature_hashing",
    "join_interval_overlap",
    "window_gaps_islands",
    "spatial_radius_join_grid",
    "agg_approx_top_k",
    "udtf_analyze_polymorphic",
    "privacy_k_anonymity",
    "profile_skew_keys",
    "ts_seasonal_naive_mae",
    "text_compression_ratio",
    "scalar_business_days",
    "analytics_ab_test_z",
    "ml_eval_confusion_lang_id",
    "analytics_markov_transitions",
    "join_asof_tolerance_bucketed",
    "mm_image_patches",
    "sql_api_pipe_syntax",
    # round-2 eighteenth wave
    "transform_global_row_number",
    "sample_weighted_reservoir",
    "ml_chi2_feature_selection",
    "graph_label_propagation",
    "analytics_price_trend_ols",
    # round-2 nineteenth wave
    "analytics_item_item_cosine",
    "window_conditional_cumsum",
    "nested_build_flatten_roundtrip",
    "text_arrow_native_stats",
    # round-2 twentieth wave
    "ml_target_encoding",
    "ml_psi_drift",
    "agg_exact_median_twopass",
    "sql_api_identifier_clause",
    # round-2 twenty-first wave
    "dedup_url_canonicalize",
    "ml_calibration_reliability",
    "udtf_table_partition_by",
    # round-2 twenty-second wave
    "analytics_cohort_ltv_curve",
    "ts_downsample_maxdev",
    # round-2 twenty-third wave
    "agg_skew_kurtosis_exact",
    "graph_bfs_shortest_hops",
    "agg_weighted_median",
    "ingest_dead_letter_split",
    # round-2 twenty-fourth wave (dq_referential_integrity and
    # pipeline_incremental_watermark emit their fixed audit/run rows on
    # empty input by contract, like dq_expectations_summary)
    "mm_modality_router",
    # round-2 twenty-fifth wave
    "agg_entropy_exact",
    "transform_outlier_mad",
    # round-2 twenty-sixth wave
    "agg_gini_coefficient",
    # round-2 twenty-seventh wave
    "ml_kfold_assignment",
    "window_alert_debounce",
    # round-2 twenty-eighth wave
    "window_median_rolling",
    # round-2 twenty-ninth wave
    "scalar_ip_cidr_ops",
    "sql_api_values_inline_table",
    "sql_api_qualify_semantics",
    "text_boilerplate_strip",
    "vector_dim_stats",
    "mm_phash_dedup",
    "mm_phash_near_dup",
    "ml_embedding_covariance_matrix",
    "spatial_point_in_polygon",
    "scalar_binary_pack",
    "ts_autocorrelation",
    "text_ngram_novelty",
    "join_null_key_skew_bypass",
    "scalar_try_cast_pack",
    "dq_freshness_lag",
    # round-2 fortieth wave
    "ingest_fixed_width_parse",
    "analytics_max_concurrency",
    "analytics_heatmap_hour_type",
    "analytics_ratio_of_sums_pin",
    "graph_degree_distribution",
    # round-2 forty-third wave
    "window_forward_fill",
    "analytics_new_vs_returning",
    "ml_pr_curve_sweep",
    "reshape_nested_json_flatten",
    "analytics_basket_lift",
    "text_contact_extraction",
    "dq_benford_first_digit",
    # round-2 forty-seventh wave
    "ts_cusum_changepoint",
    "dedup_winnowing_pairs",
    "ml_poisson_bootstrap_ci",
    # round-2 fiftieth wave
    "ts_obv_indicator",
    "agg_hhi_concentration",
    "scalar_luhn_checksum",
    # the fold_series recurrences: a series shorter than the warm-up
    # (two months, one season, one DTW series) emits no rows
    "ts_holt_linear_smoothing",
    "ts_holt_winters_seasonal",
    "ts_croston_intermittent",
    "analytics_adstock_carryover",
    "ts_dtw_alignment",
]
# dq_expectations_summary is deliberately NOT here: on empty tables it
# still emits its 6 check rows (n_checked=0, passed) — that IS the
# contract of an expectation suite, asserted in test_invariants.py.

# Global aggregates (no GROUP BY) correctly emit exactly ONE row on
# empty input — SQL semantics, and their oracles' scalar subqueries do
# the same — so they get a one-row/zero-valued assertion instead.
EMPTY_ONE_ROW = [
    "agg_theta_sketch_setops",
    "scalar_collation_pack",
    "ml_auc_exact",
    "ml_logreg_gradient_step",
    "analytics_welch_t_test",
    "ts_runs_test",
    "ts_max_drawdown",
    "ingest_schema_evolution_merge",
    "dedup_lsh_recall_eval",
    "analytics_bounce_rate",
    "ts_holt_winters",
]


@pytest.fixture(scope="module")
def empty_sf_dir(spark, sf_dir, tmp_path_factory) -> str:
    out = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        df = table(spark, sf_dir, t)
        df.filter("1 = 0").coalesce(1).write.mode("overwrite").parquet(
            str(out / f"{t}.parquet")
        )
    return str(out)


@pytest.mark.parametrize("name", EMPTY_SAFE)
def test_runs_empty(spark, empty_sf_dir, name):
    df = REGISTRY[name].builder(spark, empty_sf_dir)
    assert df.count() == 0
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize("name", EMPTY_ONE_ROW)
def test_runs_empty_global_agg(spark, empty_sf_dir, name):
    rows = REGISTRY[name].builder(spark, empty_sf_dir).collect()
    assert len(rows) == 1
    assert all(v is None or v == 0 for v in rows[0].asDict().values())
