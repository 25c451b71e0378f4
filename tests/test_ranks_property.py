"""Differential tests for operators/ranks.py: the sharded enumeration
must equal ROW_NUMBER()/NTILE() windows exactly, for any data shape —
duplicates, skew, tiny and empty inputs, descending orders."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from dmi_ingestor_spark.operators.ranks import ntile_from_rank, sharded_row_number


def _check(spark, rows, k=4, desc=False, **kw):
    df = spark.createDataFrame(rows, "id long, v long")
    order = [F.col("v").desc(), F.col("id")] if desc else [F.col("v"), F.col("id")]
    got, n = sharded_row_number(df, order, out="rn", **kw)
    assert n == len(rows)
    w = Window.orderBy(*order)
    want = df.select("id", F.row_number().over(w).alias("rn"))
    g = {r.id: r.rn for r in got.select("id", "rn").collect()}
    e = {r.id: r.rn for r in want.collect()}
    assert g == e
    if rows:
        wt = df.select("id", F.ntile(k).over(w).cast("long").alias("b"))
        gt = {
            r.id: r.b
            for r in got.select(
                "id", ntile_from_rank(F.col("rn"), n, k).alias("b")
            ).collect()
        }
        et = {r.id: r.b for r in wt.collect()}
        assert gt == et


def test_empty(spark):
    _check(spark, [])


def test_single_row(spark):
    _check(spark, [(1, 10)])


def test_all_duplicate_values_tiebreak(spark):
    _check(spark, [(i, 7) for i in range(50)])


def test_skewed_values(spark):
    rows = [(i, 0) for i in range(40)] + [(100 + i, i) for i in range(20)]
    _check(spark, rows)


def test_descending_order(spark):
    _check(spark, [(i, (i * 37) % 11) for i in range(60)], desc=True)


@pytest.mark.parametrize("n", [9, 10, 11, 25, 101])
def test_ntile_front_loaded_fill(spark, n):
    """NTILE's closed form matches Spark's ntile for sizes around the
    divisibility boundaries (n % k == 0, +-1)."""
    _check(spark, [(i, i % 13) for i in range(n)], k=10)


def test_large_multi_partition_bitmask_index(spark):
    """Round-9 pin: the JVM local index (monotonically_increasing_id's
    low 33 bits over the sorted cache) must equal the old Arrow
    enumeration exactly when every range partition holds thousands of
    rows — i.e. across Arrow-batch-sized and task-sized boundaries."""
    rows = [(i, (i * 2654435761) % 997) for i in range(20000)]
    _check(spark, rows, desc=True)


def test_reshard_parts_guard():
    """Round-10 pin (VERDICT r9 item 1/2): the 2^33 rows-per-partition
    local-index cap. Under the cap -> no re-shard; at/over the cap ->
    parts raised so each partition targets ~2^31 rows. Pure function so
    the at-scale branch is testable without 8 B rows."""
    from dmi_ingestor_spark.operators.ranks import _LOCAL_CAP, reshard_parts

    # fits: every partition under the cap
    assert reshard_parts({0: 100, 1: _LOCAL_CAP - 1}, 16) is None
    assert reshard_parts({}, 16) is None
    # one partition at the cap: must re-shard
    n_total = _LOCAL_CAP + 3 * 10**9
    raised = reshard_parts({0: _LOCAL_CAP, 1: 10**9, 2: 2 * 10**9}, 16)
    assert raised is not None
    # sized to ~2^31 rows/partition (ceil), never below doubling
    assert raised == max(32, -(-n_total // (1 << 31)))
    # and the raised count would keep even a perfectly even split far
    # under the cap
    assert n_total / raised < _LOCAL_CAP / 2


def test_reshard_without_progress_raises():
    """A re-shard that leaves the largest partition as large (>= 2^33
    rows tied on the sort key: range partitioning never splits a key)
    raises instead of re-sharding forever; one that shrinks it goes on."""
    from dmi_ingestor_spark.operators.ranks import _LOCAL_CAP, reshard_parts

    tied = {0: _LOCAL_CAP + 5, 1: 10**9}
    with pytest.raises(RuntimeError, match="tie on the sort key"):
        reshard_parts(tied, 32, prev_largest=_LOCAL_CAP + 5)
    with pytest.raises(RuntimeError):
        reshard_parts(tied, 32, prev_largest=_LOCAL_CAP)
    assert reshard_parts(tied, 32, prev_largest=_LOCAL_CAP + 6) == 64
    # under the cap: done, whatever the previous largest was
    assert reshard_parts({0: 10}, 32, prev_largest=5) is None


def test_ranks_invariant_to_parts(spark):
    """Ranks do not depend on the number of range partitions."""
    _check(spark, [(i, (i * 37) % 11) for i in range(60)], parts=5)
