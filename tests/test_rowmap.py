"""operators.rowmap: the shared row decoder (map_rows) and the
partitioned top-k (scan_topk) over mapInPandas."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from dmi_ingestor_spark.operators.rowmap import map_rows, scan_topk


def _fan_out():
    # a closure, so cloudpickle ships it by value (a test-module-level
    # function is not importable on workers)
    def fn(row):
        # row 0 emits nothing, row 1 one row, row 2 three rows
        return [(row.id, j) for j in range((0, 1, 3)[row.id])]

    return fn


def test_map_rows_zero_one_many_outputs_per_row(spark):
    # 3 rows over 5 partitions: at least two input partitions are empty
    src = spark.range(0, 3, 1, 5)
    assert sum(1 for n in src.rdd.glom().map(len).collect() if n == 0) >= 2
    out = map_rows(src, "id long, j long", _fan_out())
    assert out.columns == ["id", "j"]
    assert out.rdd.getNumPartitions() == 5  # narrow: no shuffle
    assert sorted(tuple(r) for r in out.collect()) == [(1, 0), (2, 0), (2, 1), (2, 2)]


def test_map_rows_struct_schema_and_empty_input(spark):
    schema = StructType([StructField("id", LongType()), StructField("j", LongType())])
    assert map_rows(spark.range(0, 0, 1, 2), schema, _fan_out()).collect() == []
    out = map_rows(spark.range(2, 3, 1, 1), schema, _fan_out())
    assert out.schema == schema
    assert [tuple(r) for r in out.collect()] == [(2, 0), (2, 1), (2, 2)]


_TOPK_SCHEMA = "key long, id long, score double"


def _batch_topk(k):
    # a closure, so cloudpickle ships it by value
    def score(pdf):
        ranked = pdf.sort_values(["key", "score", "id"], ascending=[True, False, True])
        return ranked.groupby("key").head(k)[["key", "id", "score"]]

    return score


def _scored(spark, n, parts):
    # 4 distinct scores over 3 keys: every top score is tied across partitions
    return spark.range(0, n, 1, parts).select(
        (F.col("id") % 3).alias("key"),
        "id",
        ((F.col("id") * 7) % 4).cast("double").alias("score"),
    )


def test_scan_topk_equals_global_topk_over_many_batches(spark):
    n, parts, k = 120, 6, 5
    src = _scored(spark, n, parts)
    assert src.rdd.getNumPartitions() == parts
    got = scan_topk(
        src, _TOPK_SCHEMA, _batch_topk(k), k, "key", [F.col("score").desc(), "id"]
    )
    assert got.columns == ["key", "id", "score", "rk"]

    ids = np.arange(n)
    keys, scores = ids % 3, (ids * 7 % 4).astype(float)
    want = []
    for key in range(3):
        sel = ids[keys == key]
        top = sel[np.lexsort((sel, -scores[sel]))][:k]
        want += [(key, int(i), scores[i], rk) for rk, i in enumerate(top, 1)]
    # the answer spans partitions, so no single batch holds it
    assert len({i * parts // n for _, i, _, _ in want}) > 1
    assert sorted(tuple(r) for r in got.collect()) == sorted(want)


def test_scan_topk_empty_input_keeps_the_schema(spark):
    got = scan_topk(
        _scored(spark, 0, 5), _TOPK_SCHEMA, _batch_topk(2), 2, ["key"], ["id"]
    )
    assert got.collect() == []
    assert got.schema.simpleString() == (
        "struct<key:bigint,id:bigint,score:double,rk:int>"
    )
