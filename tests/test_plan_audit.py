"""Plan-hygiene gate: no scale antipatterns in representative plans.

``tools/plan_audit.py`` audits the FULL registry on demand — regenerate
PLANS.md + re-run the full audit as the final commit of every round
(round-5 full run: 0 flagged; the per-query plans live in PLANS.md).
This gate keeps the hot-path and Python-path queries honest on every
pytest run without re-planning the full 440+.
"""

from __future__ import annotations

import pytest

from dmi_ingestor_spark.registry import load_all
from tools.plan_audit import audit

REGISTRY = load_all()

# every Python-path query + the heaviest join/agg shapes
AUDITED = [
    # Python paths: must be Arrow nodes, never BatchEvalPython
    "udtf_rle_tokens",
    "udtf_analyze_polymorphic",
    "udtf_table_partition_by",
    "mm_decode_features",
    "mm_frame_sample",
    "mm_audio_energy",
    "mm_image_patches",
    "text_arrow_native_stats",
    "text_compression_ratio",
    "udaf_centroid_pandas",
    "cogroup_reconcile_pandas",
    "transform_global_row_number",
    # join-heavy / cross shapes: no CartesianProduct
    "join_cross_region_nation",
    "join_range_quantity_bands",
    "join_fuzzy_token_blocked",
    "join_interval_overlap",
    "spatial_radius_join_grid",
    "q5_local_supplier_volume",
    "q9_product_profit",
    "dedup_minhash_lsh",
    "dedup_lsh_recall_eval",
    "sim_topk_bruteforce",
    "sim_ann_lsh_buckets",
    "analytics_item_item_cosine",
    # single-partition discipline
    "sort_limit_top_orders",
    "sample_weighted_reservoir",
    "agg_exact_median_twopass",
    "agg_weighted_median",
    "window_median_rolling",
    "graph_label_propagation",
    "graph_bfs_shortest_hops",
    # later waves
    "mm_phash_dedup",
    "mm_phash_near_dup",
    "dedup_winnowing_pairs",
    "analytics_basket_lift",
    "analytics_max_concurrency",
    "ts_cusum_changepoint",
    "ml_poisson_bootstrap_ci",
    "ml_logreg_gradient_step",
    "reshape_nested_json_flatten",
    # round-3 wave
    "join_asof_nearest_purchase",
    "pipeline_curriculum_order",
    "mm_scene_cut_detect",
    "ts_holt_linear_smoothing",
    "analytics_time_decay_engagement",
    "analytics_rfm_segments",
    "agg_histogram_equifreq",
    "cluster_kmeans_embeddings",
    # round-4 wave: Python-path (bounded applyInPandas DP kernels) and
    # iterative pair-state builders (VERDICT r4 item 3)
    "ts_dtw_alignment",
    "ts_dtw_distance",
    "ts_matrix_profile_ssd",
    "ml_viterbi_decode",
    "graph_closeness_centrality",
    "graph_betweenness_centrality",
    "graph_scc_decomposition",
    "graph_apsp_minplus",
    "graph_mst_boruvka",
    "join_edit_distance_blocked",
    "sample_neyman_allocation",
    # round-5 wave
    "ingest_hdf5_dense_param_sweep",
    # round-5 continuation: Python paths (msgpack decode, rowgroup
    # fixture), the checkpointed spectral iteration, and the new
    # global-rank / window shapes
    "ingest_msgpack_stream",
    "mm_audio_fingerprint_match",
    "graph_spectral_bisection",
    "graph_louvain_one_sweep",
    "graph_anf_bottomk",
    "topk_threshold_algorithm",
    "sample_coreset_sensitivity",
    "st_watermark_late_audit_batch",
    "pipeline_rendezvous_reshard_audit",
    "ts_croston_intermittent",
    # round-6 wave: the new codec decodes (gorilla/protobuf/bitmap),
    # the reprojection Arrow hop, the multivector/binary retrieval
    # shapes, the sharded sample, and the allowlisted summary windows
    "ingest_reproject_grid_points",
    "ingest_gorilla_timeseries",
    "ingest_protobuf_delimited_stream",
    "layout_roaring_bitmap_index",
    "sim_maxsim_late_interaction",
    "vector_mips_norm_augment",
    "vector_hamming_topk",
    "spatial_trajectory_path_stats",
    "sample_systematic_every_k",
    "dq_invalid_rate_drift",
    "dq_sequence_gap_audit",
    "text_vocab_oov_coverage",
    "scalar_semver_compare",
    "agg_distinct_salted_twophase",
    "ml_propensity_caliper_matching",
    "analytics_adstock_carryover",
    "ts_control_chart_nelson",
    # round-6 continuation: the composed retrieval pipeline, the
    # iterative BOM descent, the interval-overlap costing join, the
    # summary-window EMD, and the two met-domain derivations
    "pipeline_retrieval_e2e",
    "graph_bom_explosion",
    "join_fifo_cost_allocation",
    "ml_wasserstein_drift_binned",
    "ml_offpolicy_doubly_robust",
    "graph_triad_motif_census",
    "graph_bipartite_projection",
    "mm_multipart_reassembly",
    "transform_interval_coalesce",
    "dedup_phonetic_block_join",
    "ingest_mime_header_parse",
    "analytics_twap_vwap",
    "text_code_detection_router",
    "ingest_met_derive_wind_dewpoint",
    "ingest_regrid_conservative",
]


@pytest.fixture(scope="module")
def audited_plans(spark, sf_dir):
    plans = {}
    for name in AUDITED:
        df = REGISTRY[name].builder(spark, sf_dir)
        plans[name] = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    return plans


def test_no_plan_antipatterns(audited_plans):
    bad = audit(audited_plans)
    assert not bad, bad


def test_python_paths_are_arrow(audited_plans):
    for name in (
        "udtf_rle_tokens",
        "udtf_analyze_polymorphic",
        "udtf_table_partition_by",
    ):
        assert "ArrowEvalPythonUDTF" in audited_plans[name], name


@pytest.mark.parametrize(
    "name", ["udtf_rle_tokens", "udtf_analyze_polymorphic", "udtf_table_partition_by"]
)
def test_udtfs_are_arrow_per_function(spark, sf_dir, name):
    """Each UDTF asks for Arrow itself (``useArrow=True``), so it plans
    as ``ArrowEvalPythonUDTF`` with the session conf at its default
    (off), and the builder leaves the session's conf as it found it."""
    assert spark.conf.get("spark.sql.execution.pythonUDTF.arrow.enabled") == "false"
    before = spark.conf.getAll
    df = REGISTRY[name].builder(spark, sf_dir)
    assert spark.conf.getAll == before
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "ArrowEvalPythonUDTF" in plan, name


def test_risky_dtype_gate_flags_decimal_and_date():
    import pyarrow as pa

    from tools.oracle_check import risky_dtype_problems

    bad = pa.schema(
        [("a", pa.decimal128(38, 0)), ("b", pa.date32()), ("c", pa.int64())]
    )
    problems = risky_dtype_problems("some_query", bad)
    assert len(problems) == 2
    good = pa.schema(
        [("a", pa.int64()), ("b", pa.float64()), ("c", pa.string()),
         ("d", pa.list_(pa.int64())), ("e", pa.timestamp("us"))]
    )
    assert risky_dtype_problems("some_query", good) == []
    # nested decimal inside a list is caught too
    nested = pa.schema([("a", pa.list_(pa.decimal128(10, 2)))])
    assert len(risky_dtype_problems("q", nested)) == 1


def test_no_unbounded_driver_collects():
    """VERDICT r5 #4 source rule: no query module materializes a
    fact-table relation to the driver without a bound on its chain."""
    from tools.plan_audit import audit_collect_sources

    bad = audit_collect_sources()
    assert not bad, bad
