"""Physical-plan assertions: the 100 TB design contract (SURVEY.md §4.2).

Correctness tests prove the small-SF answer; these prove the *plan* is
the one we'd want on a 1000-executor cluster: dimension joins broadcast,
filters pushed into the Parquet scan, projections pruned to the read
schema, global top-k planned as TakeOrderedAndProject (no total sort).
"""

from __future__ import annotations

import re

import pytest

from dmi_ingestor_spark.registry import load_all

REGISTRY = load_all()


def plan_of(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].builder(spark, sf_dir)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q5_broadcasts_all_dimensions(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4, plan
    # the only shuffle-side join is lineitem⋈orders
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or plan.count("BroadcastHashJoin") >= 5


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan


def test_q1_schema_pruned(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    # only the 7 needed columns are read, not all 11
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema, read_schema
    assert "l_quantity" in read_schema and "l_shipdate" in read_schema


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "sort_limit_top_orders")
    assert "TakeOrderedAndProject" in plan, plan


def test_range_join_broadcasts_bands(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_range_quantity_bands")
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_q1_partial_aggregation(spark, sf_dir):
    # map-side combine: partial_sum before the exchange, final after —
    # the property that keeps the q1 shuffle O(groups), not O(rows)
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert "partial_sum" in plan, plan
    assert plan.index("partial_sum") > plan.index("Exchange") or "Exchange" in plan


def test_q1_whole_stage_codegen_executed(spark, sf_dir):
    df = REGISTRY["q1_pricing_summary"].builder(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" prefixes mark WholeStageCodegen spans in the executed tree
    assert "*(1)" in executed and "*(2)" in executed, executed[:2000]


def test_q9_star_join_broadcasts_dimensions(spark, sf_dir):
    # part/supplier/nation legs broadcast; only lineitem⋈orders shuffles
    plan = plan_of(spark, sf_dir, "q9_product_profit")
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_q6_all_predicates_pushed(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q6_revenue_forecast")
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed


def test_q10_topk_avoids_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan, plan


def test_q18_semi_join_broadcast(spark, sf_dir):
    # the having-filtered order list is small → broadcast left-semi
    plan = plan_of(spark, sf_dir, "q18_large_volume_customer")
    assert "LeftSemi" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_minhash_corpus_never_shuffles(spark, sf_dir):
    # the dedup pipeline's contract at 100 TB: candidate generation and
    # verification move band keys / candidate pairs only — every join is
    # a broadcast, never a sort-merge over shingles
    plan = plan_of(spark, sf_dir, "dedup_minhash_lsh")
    assert "SortMergeJoin" not in plan, plan


# Exchange nodes (shuffle, broadcast and reused) in the formatted plan of
# each query built on a shared helper — dedup.py's MinHash and
# shared-shingle helpers, graph.py's _trade_edges and _trade_und,
# mllib.py's split sweep and Poisson weight — at the test sf_dir. Pins
# may only go down: when a change removes an exchange, lower the pin to
# the new count; never raise one.
_EXCHANGE_PINS = {
    "dedup_minhash_lsh": 5,
    "dedup_incremental_minhash": 5,
    "dedup_lsh_recall_eval": 12,
    "dedup_incremental_delta_probe": 8,
    "dedup_lsh_band_tuning": 12,
    "dedup_minhash_b_bit": 22,
    "dedup_ngram_jaccard": 19,
    "dq_split_leakage_near_dup": 22,
    "dedup_shingle_size_sweep": 60,
    "graph_pagerank_trade": 4,
    "graph_triangle_count": 4,
    "graph_clustering_coefficient": 4,
    "graph_label_propagation": 4,
    "graph_bfs_shortest_hops": 4,
    "graph_degree_distribution": 4,
    "graph_hits_scores": 4,
    "graph_jaccard_link_prediction": 4,
    "graph_community_modularity": 6,
    "graph_assortativity": 4,
    "graph_reciprocity": 4,
    "graph_closeness_centrality": 4,
    "graph_betweenness_centrality": 4,
    "graph_scc_decomposition": 4,
    "graph_random_walk_visits": 4,
    "graph_mst_boruvka": 4,
    "graph_apsp_minplus": 4,
    "graph_ktruss_peeling": 4,
    "graph_personalized_pagerank": 8,
    "graph_louvain_one_sweep": 4,
    "graph_anf_bottomk": 4,
    "graph_spectral_bisection": 4,
    "graph_weisfeiler_lehman": 4,
    "graph_triad_motif_census": 4,
    "ml_decision_stump_exact": 5,
    "ml_random_forest_stumps": 7,
    "ml_oob_error_estimate": 5,
    "ml_tree_depth2_exact": 11,
    "ml_adaboost_round_exact": 10,
    "ml_poisson_bootstrap_ci": 4,
    "ml_gbdt_second_order_gain": 9,
}

# Parquet scan nodes of the mllib.py queries, pinned the same way.
_SCAN_PINS = {
    "ml_decision_stump_exact": 2,
    "ml_random_forest_stumps": 2,
    "ml_oob_error_estimate": 2,
    "ml_tree_depth2_exact": 3,
    "ml_adaboost_round_exact": 3,
    "ml_poisson_bootstrap_ci": 2,
    "ml_gbdt_second_order_gain": 4,
}


def _check_exchange_pin(spark, sf_dir, name):
    # the builders cache; once an earlier test has executed one, its
    # materialized cache changes the plan (ngram_jaccard: 19 -> 25), so
    # count on a session with no cached data
    spark.catalog.clearCache()
    plan = plan_of(spark, sf_dir, name)
    n = len(re.findall(r"^\(\d+\) \w*Exchange\b", plan, re.M))
    assert n == _EXCHANGE_PINS[name], (
        f"{name}: {n} exchanges, pinned {_EXCHANGE_PINS[name]} "
        "(lower the pin if the count went down; never raise it)"
    )
    if name in _SCAN_PINS:
        n = len(re.findall(r"^\(\d+\) Scan\b", plan, re.M))
        assert n == _SCAN_PINS[name], (
            f"{name}: {n} scans, pinned {_SCAN_PINS[name]} "
            "(lower the pin if the count went down; never raise it)"
        )


@pytest.mark.parametrize(
    "name",
    sorted(n for n in _EXCHANGE_PINS if not n.startswith(("graph_", "ml_"))),
)
def test_dedup_exchange_pins(spark, sf_dir, name):
    _check_exchange_pin(spark, sf_dir, name)


@pytest.mark.parametrize(
    "name", sorted(n for n in _EXCHANGE_PINS if n.startswith("graph_"))
)
def test_graph_exchange_pins(spark, sf_dir, name):
    _check_exchange_pin(spark, sf_dir, name)


@pytest.mark.parametrize("name", sorted(n for n in _EXCHANGE_PINS if n.startswith("ml_")))
def test_mllib_split_exchange_pins(spark, sf_dir, name):
    _check_exchange_pin(spark, sf_dir, name)


def test_pivot_has_no_values_discovery_job(spark, sf_dir):
    # pivot with an explicit value list plans a single aggregate —
    # no extra distinct-collect scan of the fact table
    plan = plan_of(spark, sf_dir, "pivot_status_by_flag")
    import re

    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE)
    assert len(scans) == 1, plan


# -- round-2 additions ------------------------------------------------------


def test_decontaminate_broadcasts_benchmark_side(spark, sf_dir):
    """The benchmark gram set must broadcast — the corpus side of the
    decontamination join never shuffles (map-side join at 100 TB)."""
    plan = plan_of(spark, sf_dir, "decontaminate_ngram_overlap")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_stratified_sample_is_narrow(spark, sf_dir):
    """Hash sampling is a projection+filter — no Exchange anywhere."""
    plan = plan_of(spark, sf_dir, "sample_stratified_hash")
    assert "Exchange" not in plan, plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string" in plan, plan


def test_profile_is_single_aggregate_pass(spark, sf_dir):
    """All columns' stats in ONE aggregate over ONE scan (no union of
    per-column scans re-reading the table)."""
    plan = plan_of(spark, sf_dir, "profile_table_stats")
    import re

    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE)
    assert len(scans) == 1, plan
    assert "Union" not in plan, plan


def test_ann_lsh_hyperplanes_are_literals(spark, sf_dir):
    """Plan-time hyperplanes: no md5/conv calls in the bucket
    expressions (the round-1 form hashed 8x dim times per row)."""
    plan = plan_of(spark, sf_dir, "sim_ann_lsh_buckets")
    assert "md5" not in plan, plan[:3000]


def test_range_binned_join_has_no_nested_loop(spark, sf_dir):
    """The binned interval join must plan as an equi-join (hash/merge),
    never BroadcastNestedLoop/CartesianProduct — that is its reason to
    exist next to the BNLJ-form join_range_quantity_bands."""
    plan = plan_of(spark, sf_dir, "join_range_binned_funnel")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_zorder_is_codegen_no_udf(spark, sf_dir):
    """The Morton interleave must stay inside whole-stage codegen -
    no Python evaluation nodes in the plan."""
    plan = plan_of(spark, sf_dir, "layout_zorder_buckets")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    # (WholeStageCodegen spans aren't visible in the pre-AQE formatted
    # plan; absence of Python eval nodes is the JVM-side guarantee)


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """A partitioned fact joined to a filtered dim must plan a
    dynamicpruning subquery on the partition column, so at 100 TB only
    the dim-selected partition directories are scanned."""
    from pyspark.sql import functions as F

    from dmi_ingestor_spark.catalog import table

    out = str(tmp_path / "events_parted")
    table(spark, sf_dir, "events").select(
        "event_id", "value", "event_type"
    ).write.partitionBy("event_type").parquet(out)

    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("click", 1.0), ("purchase", 2.0), ("view", 3.0), ("error", 4.0), ("signup", 5.0)],
        "event_type string, weight double",
    ).filter(F.col("weight") < 2.0)
    joined = fact.join(dim, "event_type").agg(F.count(F.lit(1)))
    plan = spark._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruning" in plan.lower(), plan


def test_bloom_prefilter_runs_before_semi_join(spark, sf_dir):
    """The Bloom bitmap bit-test must sit in the lineitem scan's Filter
    (JVM-side, pre-shuffle) and the exactness join must stay a semi
    join — i.e. the runtime filter trims the fact side before any
    exchange, which is the whole point at 100 TB."""
    from dmi_ingestor_spark.registry import load_all

    df = load_all()["join_bloom_prefilter"].builder(spark, sf_dir)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "shiftright" in plan, plan
    assert "LeftSemi" in plan, plan


def test_kmeans_single_plan_broadcasts_centroids(spark, sf_dir):
    """The unrolled k-means plan must broadcast the k-row centroid
    relation in every assignment round (no shuffle of the point set for
    the cross join) — 4 rounds total (3 updates + final assign)."""
    from dmi_ingestor_spark.registry import load_all

    df = load_all()["cluster_kmeans_embeddings"].builder(spark, sf_dir)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert plan.count("BroadcastNestedLoopJoin") >= 4, plan


def _plan(spark, name, sf_dir):
    from dmi_ingestor_spark.registry import load_all

    df = load_all()[name].builder(spark, sf_dir)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_inverted_index_partial_aggregates(spark, sf_dir):
    """Token postings must partial-aggregate map-side before the token
    shuffle (partial_count / partial collect on the explode side)."""
    plan = _plan(spark, "text_inverted_index", sf_dir)
    assert "partial_count" in plan or "Partial" in plan, plan


def test_incremental_minhash_broadcasts_candidates(spark, sf_dir):
    """The verify stage must broadcast the candidate pair set — the
    corpus-side shingle arrays never shuffle."""
    plan = _plan(spark, "dedup_incremental_minhash", sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bilinear_regrid_single_shuffle_join(spark, sf_dir):
    """The 4-row offset fan-out is a broadcast cross (fine at any
    scale); the neighbor GATHER must be a BroadcastHashJoin and the
    only shuffle Exchange is the final aggregate's."""
    plan = _plan(spark, "ingest_regrid_bilinear", sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    shuffles = [
        ln for ln in plan.splitlines()
        if "- Exchange" in ln and "BroadcastExchange" not in ln
    ]
    assert len(shuffles) == 1, plan


def test_bloom_prefilter_no_extra_exchange(spark, sf_dir):
    """The Bloom candidate filter must not introduce an Exchange of its
    own — it rides the scan."""
    plan = _plan(spark, "join_bloom_prefilter", sf_dir)
    scan_to_first_exchange = plan.split("Exchange")[0]
    assert "shiftright" in plan, plan


def test_chunker_has_zero_exchanges(spark, sf_dir):
    # split -> sequence -> explode -> slice is pure map-side fan-out;
    # any Exchange here would be a scale bug.
    plan = plan_of(spark, sf_dir, "text_chunk_sliding")
    assert "Exchange" not in plan, plan


def test_topk_aggregate_has_no_window_sort(spark, sf_dir):
    # the aggregate form must plan as partial+final ObjectHashAggregate —
    # no Window operator, no per-partition total Sort, ONE key shuffle.
    import re

    plan = plan_of(spark, sf_dir, "topk_per_group_aggregate")
    assert "Window" not in plan, plan
    assert len(re.findall(r"\(\d+\) ObjectHashAggregate", plan)) == 2, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 0, plan


def test_union_by_name_keeps_leg_pushdown(spark, sf_dir):
    # union is logical-only: each leg keeps its own pushed filter and
    # there is no shuffle.
    import re

    plan = plan_of(spark, sf_dir, "reshape_union_by_name_evolution")
    assert "Exchange" not in plan, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan


def test_lateral_topn_has_partial_group_limit(spark, sf_dir):
    # the decorrelated LATERAL must push a Partial WindowGroupLimit
    # BELOW the o_custkey Exchange (map-side top-1) and join back to
    # customer via broadcast — no per-row subquery execution.
    plan = plan_of(spark, sf_dir, "sql_api_lateral_topn")
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_multi_distinct_uses_expand(spark, sf_dir):
    # several COUNT(DISTINCT col_i) in one aggregate must become the
    # Expand/gid rewrite (one scan, two shuffles), not N separate jobs.
    import re

    plan = plan_of(spark, sf_dir, "agg_multi_distinct_expand")
    assert len(re.findall(r"\(\d+\) Expand", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_domain_cap_has_partial_group_limit(spark, sf_dir):
    # rank<=cap must plan a Partial WindowGroupLimit BELOW the Exchange
    # so a giant domain ships O(cap x map_tasks) rows, not all of them.
    plan = plan_of(spark, sf_dir, "sample_cap_per_domain")
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan


def test_copurchase_has_single_scan_no_self_join(spark, sf_dir):
    # pair generation must come from grouped arrays, not the oracle's
    # self-join: one lineitem scan, no join operator at all.
    import re

    plan = plan_of(spark, sf_dir, "analytics_copurchase_pairs")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_cache_reuse_across_actions(spark, sf_dir):
    """df.cache() must materialize once and serve later plans from
    InMemoryTableScan — the iterative-workload pattern (k-means,
    PageRank, LSH self-joins all cache their loop-invariant side)."""
    from pyspark.sql import functions as F

    from dmi_ingestor_spark.catalog import table

    base = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .cache()
    )
    try:
        base.collect()  # materialize
        second = base.filter(F.col("n") > 0)
        executed = second._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in executed, executed[:1500]
        # the cached plan must NOT rescan parquet
        assert "FileScan" not in executed.split("InMemoryRelation")[0], executed[:1500]
    finally:
        base.unpersist()


def test_fuzzy_join_is_hash_join_not_nested_loop(spark, sf_dir):
    # ER blocking contract: the edit-distance match must ride an
    # equi-join on the block key; a BroadcastNestedLoopJoin here means
    # the blocking key fell out of the join condition (O(n²) at scale).
    plan = plan_of(spark, sf_dir, "join_fuzzy_token_blocked")
    assert "NestedLoop" not in plan, plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), plan


def test_audio_energy_is_map_only(spark, sf_dir):
    # Windowed feature extraction must not shuffle: payload → frames is
    # per-row fan-out inside one mapInPandas stage.
    plan = plan_of(spark, sf_dir, "mm_audio_energy")
    assert "Exchange" not in plan, plan


def test_lsh_buckets_hyperplanes_are_literals(spark, sf_dir):
    # The ±1 hyperplane rows must be plan-time literal arrays — no
    # md5()/conv() evaluated per row for (j, i)-only constants.
    plan = plan_of(spark, sf_dir, "sim_ann_lsh_buckets")
    assert "md5" not in plan and "conv(" not in plan, plan


def test_aqe_splits_skewed_join_partitions(spark, sf_dir):
    """AQE skew-join contract: a pathologically hot key is split at runtime.

    This is the no-code-change answer to fact⋈fact skew at 100 TB
    (operators/salted.py is the explicit-salt fallback): with AQE on,
    the oversized shuffle partition is divided across tasks and the
    join is marked skew=true in the FINAL adaptive plan. Thresholds are
    lowered so a local[32]-sized dataset trips the same machinery a
    real cluster would.
    """
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
    }
    saved = {}
    for k, v in tuned.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        big = spark.range(0, 400_000).select(
            F.when(F.col("id") < 350_000, 0)
            .otherwise(F.col("id") % 997)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 997).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        df = big.join(right, "k")
        assert len(df.collect()) == 400_000
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
        assert "skewed" in plan, plan  # AQEShuffleRead split the hot partition
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_analyze_table_column_stats_feed_cbo(spark, sf_dir, tmp_path):
    """Catalog statistics pipeline: ANALYZE TABLE ... COMPUTE STATISTICS
    FOR COLUMNS populates row-count + per-column NDV/null stats, and the
    optimizer's stats estimate for the analyzed table reflects the real
    row count (the input CBO join-reordering and broadcast decisions
    consume at 100 TB, where file size alone misprices selective
    filters)."""
    name = "stats_nation"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.read.parquet(f"{sf_dir}/nation.parquet").write.option(
        "path", str(tmp_path / "stats_nation")
    ).saveAsTable(name)
    try:
        spark.sql(
            f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS n_nationkey, n_name"
        )
        desc = {
            r["info_name"]: r["info_value"]
            for r in spark.sql(f"DESCRIBE EXTENDED {name} n_nationkey").collect()
        }
        assert desc["distinct_count"] == "25"
        assert desc["num_nulls"] == "0"
        prev = spark.conf.get("spark.sql.cbo.enabled", "false")
        spark.conf.set("spark.sql.cbo.enabled", "true")
        try:
            stats = (
                spark.table(name)._jdf.queryExecution().optimizedPlan().stats()
            )
            assert stats.rowCount().get() == 25
        finally:
            spark.conf.set("spark.sql.cbo.enabled", prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_global_row_number_has_no_single_partition_exchange(spark, sf_dir):
    # the point of transform_global_row_number: ROW_NUMBER() OVER
    # (ORDER BY) would plan Exchange SinglePartition; the range-
    # partitioned enumeration must not
    plan = plan_of(spark, sf_dir, "transform_global_row_number")
    assert "SinglePartition" not in plan, plan
    assert "rangepartitioning" in plan.lower(), plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    # DPP: joining a partition-columned fact with a filtered dim must
    # inject a runtime subquery filter into the fact scan so only the
    # dim-selected partitions are read — the mechanism that makes
    # star-schema queries touch 1/k of a 100 TB fact table
    from dmi_ingestor_spark.catalog import table

    fact = str(tmp_path / "orders_by_priority")
    table(spark, sf_dir, "orders").write.partitionBy("o_orderpriority").parquet(fact)
    f = spark.read.parquet(fact)
    d = (
        table(spark, sf_dir, "orders")
        .select("o_orderpriority")
        .distinct()
        .filter("o_orderpriority LIKE '1-%'")
    )
    j = f.join(d, "o_orderpriority").groupBy("o_orderpriority").count()
    plan = spark._jvm.PythonSQLUtils.explainString(
        j._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruning" in plan.lower(), plan
