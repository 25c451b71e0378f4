"""Self-checking invariants for rows-only queries (SURVEY.md §5.2.2)."""

from __future__ import annotations

import json

from dmi_ingestor_spark.registry import load_all

REGISTRY = load_all()


def test_approx_distinct_within_rsd(spark, sf_dir):
    rows = REGISTRY["agg_approx_distinct"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.exact_orders > 0
        rel_err = abs(r.approx_orders - r.exact_orders) / r.exact_orders
        assert rel_err < 0.10, f"HLL estimate off by {rel_err:.1%} for {r.l_returnflag}"


def test_percentile_approx_sandwiched(spark, sf_dir):
    rows = REGISTRY["agg_percentiles_approx"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # t-digest median of ~2k values at accuracy 10000 is near-exact
        assert abs(r.p50_price_approx - r.p50_price_exact) / r.p50_price_exact < 0.05


def test_manifest_map_json_shape(spark, sf_dir):
    rows = REGISTRY["manifest_map_json"].builder(spark, sf_dir).collect()
    assert len(rows) == 5  # one manifest per event_type "collection"
    for r in rows:
        manifest = json.loads(r.manifest_json)
        assert manifest, "manifest must be non-empty"
        for time_str, url in manifest.items():
            # key format yyyymmddTHHMMSS (ingestor.py:104) and the url
            # embeds its own key (ingestor.py:116-118)
            assert len(time_str) == 15 and time_str[8] == "T"
            assert url.startswith("https://") and time_str in url


def test_hll_sketch_within_3pct(spark, sf_dir):
    rows = REGISTRY["agg_sketch_pack"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert abs(r.approx_users - r.exact_users) <= max(0.03 * r.exact_users, 2), r


def test_observe_inflight_quality_metrics(spark, sf_dir):
    """df.observe(): data-quality metrics (row count, null count, sum)
    collected DURING a query action — at 100 TB this is how a pipeline
    monitors itself without a second scan. The observed values must
    match a direct aggregation."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from dmi_ingestor_spark.catalog import table

    e = table(spark, sf_dir, "events")
    obs = Observation("quality")
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("int")).alias("n_null_value"),
        F.sum(F.col("value").cast("decimal(22,8)")).alias("sum_value"),
    )
    # run the real downstream work; metrics ride along on the same pass
    n_types = observed.groupBy("event_type").count().count()
    assert n_types == 5

    direct = e.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("int")).alias("n_null_value"),
        F.sum(F.col("value").cast("decimal(22,8)")).alias("sum_value"),
    ).collect()[0]
    got = obs.get
    assert got["n_rows"] == direct["n_rows"]
    assert (got["n_null_value"] or 0) == (direct["n_null_value"] or 0)
    assert got["sum_value"] == direct["sum_value"]


def test_dq_expectations_contract(spark, sf_dir, tmp_path):
    """DQ suite invariants: fixed check set, passed == (violations==0),
    n_checked consistent per source table; on EMPTY tables the suite
    still reports every check (n_checked=0) instead of vanishing."""
    from dmi_ingestor_spark.catalog import TABLES, table

    rows = REGISTRY["dq_expectations_summary"].builder(spark, sf_dir).collect()
    names = {r.check_name for r in rows}
    assert names == {
        "orders.o_custkey_not_null",
        "orders.o_orderkey_unique",
        "orders.o_custkey_ref_customer",
        "lineitem.l_quantity_in_1_50",
        "lineitem.l_shipdate_not_future",
        "customer.c_acctbal_in_range",
    }
    n_orders = table(spark, sf_dir, "orders").count()
    for r in rows:
        assert r.passed == (r.n_violations == 0)
        assert 0 <= r.n_violations <= r.n_checked
        if r.check_name.startswith("orders."):
            assert r.n_checked == n_orders

    for t in ("orders", "customer", "lineitem"):
        table(spark, sf_dir, t).filter("1=0").write.mode("overwrite").parquet(
            str(tmp_path / f"{t}.parquet")
        )
    empty = REGISTRY["dq_expectations_summary"].builder(spark, str(tmp_path)).collect()
    assert {r.check_name for r in empty} == names
    assert all(r.n_checked == 0 and r.passed for r in empty)


def test_chunker_covers_and_reconstructs(spark, sf_dir):
    """Chunk semantics invariants: chunk k holds tokens
    [k*stride, k*stride+window); the stride-prefix of each chunk
    concatenated in order reconstructs the document exactly (overlap
    tokens are redundant by construction); every token position is
    covered."""
    from pyspark.sql import functions as F

    from dmi_ingestor_spark.catalog import table
    from dmi_ingestor_spark.queries.pipeline_ops import (
        _CHUNK_STRIDE,
        _CHUNK_WINDOW,
    )

    out = (
        REGISTRY["text_chunk_sliding"]
        .builder(spark, sf_dir)
        .filter(F.col("doc_id") < 20)
        .collect()
    )
    docs = {
        r.doc_id: r.text.split(" ")
        for r in table(spark, sf_dir, "documents").filter("doc_id < 20").collect()
    }
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, rows in by_doc.items():
        toks = docs[doc_id]
        rows.sort(key=lambda r: r.chunk_idx)
        # contiguous chunk indices 0..n-1, correct count
        assert [r.chunk_idx for r in rows] == list(range(len(rows)))
        assert len(rows) == (len(toks) + _CHUNK_STRIDE - 1) // _CHUNK_STRIDE
        rebuilt: list[str] = []
        for r in rows:
            start = r.chunk_idx * _CHUNK_STRIDE
            chunk = r.chunk_text.split(" ")
            assert chunk == toks[start : start + _CHUNK_WINDOW]
            assert r.chunk_n_tokens == len(chunk)
            rebuilt.extend(chunk[:_CHUNK_STRIDE])
        assert rebuilt == toks


def test_arrow_optimized_udf_matches_builtin(spark, sf_dir):
    """Spark 4 Arrow-optimized scalar Python UDF (useArrow=True):
    batch-serialized via Arrow instead of pickled row-at-a-time. The
    engine's UDF discipline keeps Python out of hot paths, but where a
    scalar UDF is unavoidable this is the required form — pinned here
    to produce byte-identical results to the JVM builtin expression."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import udf

    from dmi_ingestor_spark.catalog import table

    @udf(returnType="double", useArrow=True)
    def margin(price, qty):
        if price is None or qty is None:
            return None
        return price * 0.96 - qty * 2.0

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"
    ).limit(2000)
    got = li.select(
        "l_orderkey",
        "l_linenumber",
        margin("l_extendedprice", "l_quantity").alias("m"),
    )
    want = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * 0.96 - F.col("l_quantity") * 2.0).alias("m"),
    )
    lhs = sorted((r.l_orderkey, r.l_linenumber, r.m) for r in got.collect())
    rhs = sorted((r.l_orderkey, r.l_linenumber, r.m) for r in want.collect())
    assert lhs == rhs and len(lhs) == 2000


def test_topk_aggregate_rank1_equals_lateral_top1(spark, sf_dir):
    """Two independent top-per-group implementations must agree: the
    aggregate form's rank-1 rows (slice/sort_array/collect_list) and
    the decorrelated LATERAL ORDER BY LIMIT 1 (WindowGroupLimit) pick
    identical (customer, order, price) triples."""
    agg = {
        (r.o_custkey, r.o_orderkey, r.o_totalprice)
        for r in REGISTRY["topk_per_group_aggregate"]
        .builder(spark, sf_dir)
        .filter("rnk = 1")
        .collect()
    }
    lat = {
        (r.c_custkey, r.o_orderkey, r.o_totalprice)
        for r in REGISTRY["sql_api_lateral_topn"].builder(spark, sf_dir).collect()
    }
    assert agg == lat and len(agg) > 0


def test_compression_ratio_deterministic_and_dup_invariant(spark, sf_dir):
    """Same text bytes -> same compressed size (duplicate documents get
    identical scores), ratios land in a sane band, and the column is
    reproducible across runs (zlib level pinned)."""
    from dmi_ingestor_spark.registry import load_all

    q = load_all()["text_compression_ratio"].builder
    a = {r["doc_id"]: (r["n_compressed"], r["ratio_permille"]) for r in q(spark, sf_dir).collect()}
    b = {r["doc_id"]: (r["n_compressed"], r["ratio_permille"]) for r in q(spark, sf_dir).collect()}
    assert a == b and len(a) > 0
    texts = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    by_text: dict[str, set] = {}
    for doc_id, t in texts.items():
        by_text.setdefault(t, set()).add(a[doc_id])
    assert all(len(v) == 1 for v in by_text.values())
    assert all(0 < nc <= len(texts[d].encode()) + 64 for d, (nc, _) in a.items())


def test_pca_power_iteration_on_gram_matrix(spark, sf_dir):
    """Distributed-stats -> local-solve PCA: the engine computes the
    exact d x d Gram matrix (ml_embedding_covariance_matrix); the
    top principal direction from a driver-side eigendecomposition of
    that summary must satisfy A v = lambda v — proving the summary is
    a faithful, solvable statistic (the corpus is never touched
    again)."""
    import numpy as np

    from dmi_ingestor_spark.registry import load_all

    rows = (
        load_all()["ml_embedding_covariance_matrix"]
        .builder(spark, sf_dir)
        .collect()
    )
    d = max(r["dj"] for r in rows) + 1
    A = np.zeros((d, d))
    for r in rows:
        A[r["di"], r["dj"]] = r["sum_xixj_micro2"]
        A[r["dj"], r["di"]] = r["sum_xixj_micro2"]
    A /= rows[0]["n"]  # per-vector scale; symmetric PSD by construction
    vals, vecs = np.linalg.eigh(A)
    lam, v = vals[-1], vecs[:, -1]
    assert lam > 0
    resid = np.linalg.norm(A @ v - lam * v) / lam
    assert resid < 1e-8, resid
    # power iteration from a fixed start converges to the same direction
    x = np.ones(d) / np.sqrt(d)
    for _ in range(200):
        x = A @ x
        x /= np.linalg.norm(x)
    assert abs(abs(x @ v) - 1.0) < 1e-6


def test_graph_summary_kernel_row_bound(spark):
    """The graph summary kernel runs its whole input in one Python task,
    so it takes only the nation-level aggregate (<= 25² = 625 rows): 625
    rows run, 626 raise ValueError instead of pulling a corpus-scale
    relation into one worker."""
    import pytest

    from dmi_ingestor_spark.queries.graph import _summary_kernel

    def n_rows(n):
        edges = spark.range(n).toDF("src")
        count = _summary_kernel(edges, "n long", lambda rows: [(len(rows),)])
        return count.collect()[0].n

    assert n_rows(625) == 625
    with pytest.raises(Exception, match="ValueError: summary kernel input has 626"):
        n_rows(626)


def test_graph_summary_kernel_output_types(spark):
    """The summary kernel builds its result from the tuples ``fn``
    returns, typed by the schema: a ``long`` keeps NULL and values past
    2^53 exact, an empty result still has the schema's columns, and an
    ``int`` out of range raises instead of wrapping."""
    import pytest

    from dmi_ingestor_spark.queries.graph import _summary_kernel

    edges = spark.createDataFrame([(1, 2), (3, 4)], "src int, dst long")
    seen = _summary_kernel(
        edges,
        "a int, b long, s string",
        lambda rows: [(x, y + 2**62, str(rows)) for x, y in rows],
    ).collect()
    assert sorted(tuple(r) for r in seen) == [
        (1, 2 + 2**62, "[(1, 2), (3, 4)]"),
        (3, 4 + 2**62, "[(1, 2), (3, 4)]"),
    ]
    big = _summary_kernel(
        edges, "n long", lambda rows: [(None,), (2**62 + 1,)]
    ).collect()
    assert [r.n for r in big] == [None, 2**62 + 1]
    empty = _summary_kernel(edges, "a int, b long, s string", lambda rows: [])
    assert empty.columns == ["a", "b", "s"]
    assert empty.collect() == []
    with pytest.raises(Exception, match="TypeError"):
        _summary_kernel(edges, "a int", lambda rows: [(2**31,)]).collect()


def _gini_ref(ln, lpos, n_all, pos_all):
    """Python-integer weighted Gini x 1e8; an empty side scores 0."""

    def side(n, pos):
        return 0 if n == 0 else n * (2 * pos * (n - pos) * 10**8 // (n * n))

    return (side(ln, lpos) + side(n_all - ln, pos_all - lpos)) // n_all


def _gini_spark(spark, rows):
    from pyspark.sql import functions as F

    from dmi_ingestor_spark.queries.mllib import _GINI_SPARK

    df = spark.createDataFrame(rows, "ln long, lpos long, n_all long, pos_all long")
    return [r.g for r in df.select(F.expr(_GINI_SPARK).alias("g")).collect()]


def test_gini_exact_past_int64_products(spark):
    """ln * ln leaves int64 once a side holds ~3.04e9 (weighted) rows;
    the Gini stays exact there instead of raising ARITHMETIC_OVERFLOW."""
    rows = [
        (4 * 10**9, 10**9, 2 * 10**10, 6 * 10**9),
        (10**12, 3 * 10**11, 3 * 10**12, 10**12),
        (5, 2, 12, 7),
    ]
    assert _gini_spark(spark, rows) == [_gini_ref(*r) for r in rows]
    assert _gini_ref(*rows[0]) == 41875000


def test_gini_empty_left_side(spark):
    """A Poisson weight of 0 can leave the first threshold empty: ln = 0
    scores the right side alone instead of dividing by zero."""
    rows = [(0, 0, 10, 4), (0, 0, 7, 7)]
    assert _gini_spark(spark, rows) == [_gini_ref(*r) for r in rows]
    assert _gini_ref(*rows[0]) == 48000000


def test_priority_rotation_registered_and_oracle_bearing():
    """The front-loaded rotation names only registered, oracle-bearing
    queries, each once, and fits the 50 checked entries."""
    from dmi_ingestor_spark.queries import _DRIVER_PRIORITY

    assert len(_DRIVER_PRIORITY) <= 50
    assert len(set(_DRIVER_PRIORITY)) == len(_DRIVER_PRIORITY)
    for name in _DRIVER_PRIORITY:
        assert name in REGISTRY, name
        assert REGISTRY[name].oracle is not None, name
