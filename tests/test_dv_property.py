"""Property tests: deletion-vector reads equal direct filters for ANY
position set, and k-core peeling is monotone (ingest/txlog.py
TxLog.read; queries/graph.py k-core trace)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from dmi_ingestor_spark.ingest.txlog import TxLog, add_deletion_vector

_N = 40


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    positions=st.sets(st.integers(min_value=0, max_value=_N - 1), max_size=_N)
)
def test_dv_read_equals_direct_filter(spark, tmp_path_factory, positions):
    """For ANY position subset, reading with the DV must equal filtering
    the ordered base data by position directly — including the empty DV,
    the full DV, and singletons."""
    root = str(tmp_path_factory.mktemp("dvprop"))
    tx = TxLog(spark, root)
    base = (
        spark.range(_N)
        .select((F.col("id") * 7 + 3).alias("k"))
        .repartition(1)
        .sortWithinPartitions("k")
    )
    tx.append(base, "u")
    pos = spark.createDataFrame(
        [(int(p),) for p in sorted(positions)] or [(None,)], "pos long"
    ).filter(F.col("pos").isNotNull())
    add_deletion_vector(tx, "data/u", pos, "dv")
    got = sorted(r["k"] for r in tx.read().collect())
    keys = sorted(r["k"] for r in base.collect())
    want = [k for i, k in enumerate(keys) if i not in positions]
    assert got == want


def test_kcore_trace_is_monotone(spark, sf_dir):
    """Survivor and edge counts can only shrink across peel rounds, and
    a survivor count of zero stays zero."""
    from dmi_ingestor_spark.registry import load_all

    rows = (
        load_all()["graph_kcore_decomposition"]
        .builder(spark, sf_dir)
        .collect()
    )
    assert [r["round"] for r in rows] == [0, 1, 2]
    surv = [r["n_survivors"] for r in rows]
    edges = [r["n_edges"] for r in rows]
    assert surv == sorted(surv, reverse=True)
    assert edges == sorted(edges, reverse=True)
    for a, b in zip(surv, surv[1:]):
        if a == 0:
            assert b == 0
