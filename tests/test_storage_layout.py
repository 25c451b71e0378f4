"""Storage-layout proofs: bucketing kills the join shuffle, partitioned
writes prune, dynamic overwrite replaces only written partitions.

These are the §1.3/§4.2 scale claims executed for real against a temp
warehouse — the 100 TB layout story (partition by what you filter,
bucket by what you join) in runnable form.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from dmi_ingestor_spark.catalog import table


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    # warehouse.dir is a static conf; park the test tables in a temp-
    # located database instead and restore the session db afterwards
    wh = tmp_path_factory.mktemp("warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketing_test LOCATION '{wh}'")
    spark.sql("USE bucketing_test")
    yield wh
    spark.sql("USE default")
    spark.sql("DROP DATABASE IF EXISTS bucketing_test CASCADE")


def test_bucketed_join_has_no_shuffle(spark, sf_dir, warehouse):
    """Two tables bucketed on the join key co-locate: the sort-merge join
    runs without any Exchange — the plan shape that makes fact-fact
    joins feasible at 100 TB (shuffle once at write time, never again)."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")

    # at test scale the planner would broadcast (which bypasses bucketing
    # entirely); disable it to surface the plan big fact-fact joins get
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert "Bucketed: true" in plan, plan
        # and it still computes the right thing
        n = joined.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    want = li.join(o, li.l_orderkey == o.o_orderkey).count()
    assert n == want


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """A filter on the partition column must prune at planning time:
    the scan reads one directory, not the table."""
    out = str(tmp_path / "events_by_type")
    e = table(spark, sf_dir, "events")
    e.write.partitionBy("event_type").mode("overwrite").parquet(out)

    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan, plan
    assert back.count() == e.filter(F.col("event_type") == "click").count()


def test_dynamic_partition_overwrite_keeps_others(spark, sf_dir, tmp_path):
    """S7 keep-last-good semantics: overwriting ONE partition leaves the
    rest intact (the reference's delete-then-write races instead,
    dmi_ingestor/ingestor.py:199)."""
    out = str(tmp_path / "events_dpo")
    e = table(spark, sf_dir, "events").select("event_id", "value", "event_type")
    e.write.partitionBy("event_type").mode("overwrite").parquet(out)
    total_before = spark.read.parquet(out).count()
    n_click = e.filter(F.col("event_type") == "click").count()

    # rewrite only the 'click' partition with a single sentinel row
    one = spark.createDataFrame(
        [(999_999_999, 0.0, "click")], "event_id long, value double, event_type string"
    )
    one.write.partitionBy("event_type").mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(out)

    after = spark.read.parquet(out)
    assert after.filter(F.col("event_type") == "click").count() == 1
    assert after.count() == total_before - n_click + 1


def test_compaction_collapses_files_preserving_content(spark, sf_dir, tmp_path):
    """ingest/compact.py: fragmented partitions collapse to 1 file each;
    row count and a value checksum survive the rewrite byte-for-byte."""
    from pyspark.sql import functions as F

    from dmi_ingestor_spark.catalog import table
    from dmi_ingestor_spark.ingest.compact import compact_table, data_file_counts

    out = str(tmp_path / "events_parted")
    e = table(spark, sf_dir, "events").select("event_id", "value", "event_type")
    e.repartition(8).write.partitionBy("event_type").parquet(out)

    before_files = data_file_counts(spark, out)
    assert max(before_files.values()) > 1, before_files
    before_rows = spark.read.parquet(out).count()
    before_sum = (
        spark.read.parquet(out)
        .agg(F.sum(F.col("value").cast("decimal(22,8)")))
        .collect()[0][0]
    )

    compact_table(spark, out, ["event_type"])

    after_files = data_file_counts(spark, out)
    assert set(after_files) == set(before_files)
    assert max(after_files.values()) == 1, after_files
    after = spark.read.parquet(out)
    assert after.count() == before_rows
    assert (
        after.agg(F.sum(F.col("value").cast("decimal(22,8)"))).collect()[0][0]
        == before_sum
    )

    # multi-file knob: oversized partitions can split deterministically
    compact_table(spark, out, ["event_type"], files_per_partition=2)
    split_files = data_file_counts(spark, out)
    assert max(split_files.values()) <= 2
    assert spark.read.parquet(out).count() == before_rows


def test_parquet_codec_roundtrip(spark, sf_dir, tmp_path):
    """Sink codec coverage: the same relation written with zstd, gzip
    and snappy must round-trip identically (content hash) and actually
    apply the codec (file extension + a working read). Codec choice is
    a pure storage knob — never a semantics knob."""
    import glob

    from pyspark.sql import functions as F

    from dmi_ingestor_spark.catalog import table

    src = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    want = src.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_orderkey")).alias("s"),
    ).collect()[0]

    for codec, ext in (("zstd", ".zstd.parquet"), ("gzip", ".gz.parquet"), ("snappy", ".snappy.parquet")):
        out = str(tmp_path / codec)
        src.write.option("compression", codec).parquet(out)
        files = glob.glob(f"{out}/part-*.parquet")
        assert files and all(f.endswith(ext) for f in files), (codec, files[:3])
        back = spark.read.parquet(out)
        got = back.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_orderkey")).alias("s"),
        ).collect()[0]
        assert (got.n, got.s) == (want.n, want.s), codec


def test_sorted_write_narrows_file_ranges(spark, sf_dir, tmp_path):
    """Layout: writing repartitionByRange(col).sortWithinPartitions(col)
    produces files with (near-)disjoint min/max spans on the sort key —
    the footer statistics a 100 TB scan prunes on — while an unsorted
    multi-file write leaves every file spanning the whole domain.
    Verified from the actual parquet footers via pyarrow."""
    import glob

    import pyarrow.parquet as pq

    from dmi_ingestor_spark.catalog import table

    src = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")

    def spans(path):
        out = []
        for f in sorted(glob.glob(f"{path}/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index("o_custkey")
            lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
            out.append((lo, hi))
        return out

    sorted_out = str(tmp_path / "sorted")
    (src.repartitionByRange(4, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.parquet(sorted_out))
    unsorted_out = str(tmp_path / "unsorted")
    src.repartition(4).write.parquet(unsorted_out)

    s = sorted(spans(sorted_out))
    assert len(s) == 4
    # range-partitioned + sorted => file spans are pairwise disjoint
    for (_, hi), (lo2, _) in zip(s, s[1:]):
        assert hi <= lo2, s
    u = spans(unsorted_out)
    # hash-shuffled files all span (essentially) the full key domain
    dom_lo = min(lo for lo, _ in u)
    dom_hi = max(hi for _, hi in u)
    assert all(hi - lo > (dom_hi - dom_lo) * 0.9 for lo, hi in u), u


def test_roaring_container_codec():
    """operators/bitmap.py: encoding choice follows the size rule, both
    encodings round-trip, set algebra is exact."""
    from dmi_ingestor_spark.operators.bitmap import (
        ARRAY,
        RUNS,
        container_and,
        container_or,
        decode_container,
        encode_container,
    )

    dense = list(range(100, 400))          # 1 run -> RUN container wins
    sparse = list(range(0, 4000, 7))       # scattered -> ARRAY wins
    e_dense, e_sparse = encode_container(dense), encode_container(sparse)
    assert e_dense[0] == RUNS and len(e_dense) == 3 + 4
    assert e_sparse[0] == ARRAY and len(e_sparse) == 3 + 2 * len(sparse)
    assert decode_container(e_dense) == dense
    assert decode_container(e_sparse) == sparse
    both = container_and(e_dense, e_sparse)
    assert both == sorted(set(dense) & set(sparse))
    assert container_or(e_dense, e_sparse) == sorted(set(dense) | set(sparse))
    # edge: empty and singleton
    assert decode_container(encode_container([])) == []
    assert decode_container(encode_container([65535])) == [65535]
