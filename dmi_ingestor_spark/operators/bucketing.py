"""Bucketed-table co-located joins (SURVEY.md §2.3 J-scale / §7.4).

At 100 TB the dominant cost of a fact⋈fact equi-join (orders⋈lineitem)
is the pairwise shuffle of both tables. Spark's answer is bucketed
storage: both tables written with ``bucketBy(N, key)`` hash-place rows
so bucket i of one table can only match bucket i of the other — the
join then runs with ZERO Exchange on either side (asserted in
``tests/test_bucketing.py``), turning the nightly big join into a
map-side merge. This module owns the write/read plumbing; the engine's
recommendation is: bucket the largest fact tables on their join key at
ingest time, pick N ≈ cluster cores × small multiple, and keep N stable
so every downstream join co-locates for free.

Spark bucketing requires the table catalog (``saveAsTable``), not bare
parquet paths — bucket metadata lives in the metastore. The tables here
are EXTERNAL: their files sit in the process's scratch root
(``ingest/fs.py::scratch_dir``), never in ``spark.sql.warehouse.dir``,
which defaults to the caller's working directory.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

from dmi_ingestor_spark.catalog import table
from dmi_ingestor_spark.ingest.fs import scratch_dir


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
) -> None:
    """(Over)write ``df`` as a bucketed, optionally sorted, external
    table whose files live at ``path``.

    The input is repartitioned by the bucket column first so each
    bucket holds exactly one file (no small-files problem, and a
    prerequisite for the sorted-scan path). Note: since Spark 3.0 the
    planner re-sorts bucketed scans regardless (on-disk order is only
    trusted behind spark.sql.legacy.bucketedTableScan.outputOrdering),
    so bucketing eliminates the EXCHANGE — the expensive part — while
    the per-bucket Sort remains and is cheap/local.
    """
    writer = (
        df.repartition(n_buckets, df[bucket_col])
        .write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
    )
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)


def ensure_bucketed_pair(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = 8,
) -> tuple[str, str]:
    """Bucketed orders/lineitem twins for ``sf_dir``, created once per
    session.

    Table names are keyed by a stable hash of (sf_dir, n_buckets) so
    different scale factors coexist; re-runs within a session reuse the
    existing tables (the data under a given sf_dir is immutable test
    data). Each table's files go to a fresh scratch directory, so two
    processes never share a location.
    """
    suffix = hashlib.md5(f"{sf_dir}|{n_buckets}".encode()).hexdigest()[:8]
    t_orders = f"b_orders_{suffix}"
    t_lineitem = f"b_lineitem_{suffix}"
    catalog = spark.catalog
    if not catalog.tableExists(t_orders) or not catalog.tableExists(t_lineitem):
        for df, name, key in (
            (table(spark, sf_dir, "orders"), t_orders, "o_orderkey"),
            (table(spark, sf_dir, "lineitem"), t_lineitem, "l_orderkey"),
        ):
            write_bucketed(df, name, scratch_dir(name), key, n_buckets, key)
    return t_orders, t_lineitem


def ensure_partitioned_orders(spark, sf_dir: str) -> str:
    """A partitioned-by-priority copy of orders for ``sf_dir``, written
    to a fresh scratch directory on each call (hive-style
    ``o_orderpriority=...`` directories). This is the layout dynamic
    partition pruning needs: the partition column must be a DIRECTORY
    key, not a parquet column, for a dimension-side filter to skip whole
    partitions at runtime."""
    path = scratch_dir("dpp-orders")
    (
        table(spark, sf_dir, "orders")
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(path)
    )
    return path
