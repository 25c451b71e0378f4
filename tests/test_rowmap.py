"""operators.rowmap.map_rows: the shared row decoder over mapInPandas."""

from __future__ import annotations

from pyspark.sql.types import LongType, StructField, StructType

from dmi_ingestor_spark.operators.rowmap import map_rows


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
