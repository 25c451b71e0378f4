"""Bucketed co-located join queries (SURVEY.md §2.3 / §7.4 scale path).

The registered query materializes bucketed orders/lineitem twins (once
per session and sf_dir) and joins them bucket-to-bucket; the oracle recomputes the
same aggregate from the raw parquet. Correctness says nothing about
bucketing — that is the point: identical results, but the bucketed plan
has zero Exchange on the join (asserted in tests/test_bucketing.py),
which at 100 TB is the difference between an all-to-all shuffle of the
two largest tables and a map-side merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dmi_ingestor_spark.functions.exact import sql_sum_exact, sum_exact
from dmi_ingestor_spark.operators.bucketing import ensure_bucketed_pair
from dmi_ingestor_spark.operators.rowmap import map_rows
from dmi_ingestor_spark.registry import register


@register(
    "bucketed_colocated_join",
    oracle=f"""
    SELECT
      o.o_orderpriority,
      COUNT(*) AS n_items,
      {sql_sum_exact("l.l_extendedprice", "sum_price")}
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc=(
        "J-scale: orders⋈lineitem through bucketed external tables "
        "(bucketBy 8 on the join key, sorted within buckets). Same rows "
        "as the raw-parquet oracle, but the join itself needs no "
        "Exchange on either side — the 100 TB fact⋈fact strategy."
    ),
    tags=("join", "bucketing", "scale"),
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t_orders, t_lineitem = ensure_bucketed_pair(spark, sf_dir)
    o = spark.table(t_orders)
    l = spark.table(t_lineitem)
    return (
        o.join(l, l["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            sum_exact("l_extendedprice", "sum_price"),
        )
    )


# --------------------------------------------------------------------------
# Z-order (Morton) multi-dimensional clustering.
# --------------------------------------------------------------------------

_Z_BITS = 8  # bits per dimension -> 16-bit z-value, 16x16 bucket grid


def _z_terms_spark(x: str, y: str) -> str:
    """Unrolled Morton interleave as a Spark SQL expression string."""
    terms = []
    for k in range(_Z_BITS):
        terms.append(f"shiftleft(shiftright({x}, {k}) & 1, {2 * k})")
        terms.append(f"shiftleft(shiftright({y}, {k}) & 1, {2 * k + 1})")
    return " + ".join(terms)


def _z_terms_duck(x: str, y: str) -> str:
    """Identical interleave in DuckDB's operator dialect."""
    terms = []
    for k in range(_Z_BITS):
        terms.append(f"((({x} >> {k}) & 1) << {2 * k})")
        terms.append(f"((({y} >> {k}) & 1) << {2 * k + 1})")
    return " + ".join(terms)


@register(
    "layout_zorder_buckets",
    oracle=f"""
    WITH ext AS (
      SELECT MAX(l_partkey) + 1 AS pmax, MAX(l_suppkey) + 1 AS smax
      FROM lineitem
    ), z AS (
      SELECT l_partkey, l_suppkey,
             ({_z_terms_duck(
                 f"(l_partkey * {1 << _Z_BITS} // pmax)",
                 f"(l_suppkey * {1 << _Z_BITS} // smax)")})
               AS zval
      FROM lineitem CROSS JOIN ext
    )
    SELECT CAST(zval >> {_Z_BITS} AS BIGINT) AS z_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(l_partkey) AS BIGINT) AS min_part,
           CAST(MAX(l_partkey) AS BIGINT) AS max_part,
           CAST(MIN(l_suppkey) AS BIGINT) AS min_supp,
           CAST(MAX(l_suppkey) AS BIGINT) AS max_supp
    FROM z
    GROUP BY z_bucket
    """,
    doc=(
        "Z-order (Morton) clustering key over (l_partkey, l_suppkey): "
        "each dim is range-scaled to 8 bits against its max (a scalar "
        "aggregate broadcast into the scan — the standard cheap global "
        "statistic), bits interleaved by an unrolled plan-time "
        "expression (pure JVM integer ops, whole-stage codegen'd — no "
        "UDF), then rows are grouped by the top-8-bit z-bucket with "
        "per-bucket min/max of BOTH dims. Those min/max spans are "
        "exactly the parquet column stats a z-ordered file layout would "
        "carry: narrow on both dims simultaneously, so point/range "
        "predicates on EITHER column prune most files — the multi-dim "
        "analogue of partition pruning. Write-side usage at 100 TB: "
        "repartitionByRange(zval).write — the z-value computation "
        "itself is a shuffle-free map stage."
    ),
    tags=("layout", "scale", "lineitem", "zorder"),
)
def layout_zorder_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.catalog import table

    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    ext = li.agg(
        (F.max("l_partkey") + 1).alias("pmax"),
        (F.max("l_suppkey") + 1).alias("smax"),
    )
    scaled_x = f"(l_partkey * {1 << _Z_BITS} div pmax)"
    scaled_y = f"(l_suppkey * {1 << _Z_BITS} div smax)"
    zval = F.expr(_z_terms_spark(scaled_x, scaled_y)).alias("zval")
    return (
        li.crossJoin(F.broadcast(ext))
        .select("l_partkey", "l_suppkey", zval)
        .groupBy(
            F.shiftright(F.col("zval"), _Z_BITS).cast("long").alias("z_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("l_partkey").cast("long").alias("min_part"),
            F.max("l_partkey").cast("long").alias("max_part"),
            F.min("l_suppkey").cast("long").alias("min_supp"),
            F.max("l_suppkey").cast("long").alias("max_supp"),
        )
    )


# --------------------------------------------------------------------------
# Dynamic partition pruning (runtime partition skipping via a dim filter)
# --------------------------------------------------------------------------


@register(
    "join_dpp_partition_prune",
    oracle="""
    WITH dim(prio, tier) AS (
      VALUES ('1-URGENT', 'hot'), ('2-HIGH', 'hot'),
             ('3-MEDIUM', 'warm'), ('4-NOT SPECIFIED', 'cold'),
             ('5-LOW', 'cold')
    )
    SELECT d.tier,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_c
    FROM orders o JOIN dim d ON d.prio = o.o_orderpriority
    WHERE d.tier = 'hot'
    GROUP BY d.tier
    """,
    doc=(
        "Dynamic partition pruning: the fact side is a HIVE-PARTITIONED "
        "copy of orders (directory key = o_orderpriority, written to a "
        "fresh scratch directory on each call by "
        "operators/bucketing.ensure_partitioned_orders); "
        "joining it to a tiny dim filtered to tier='hot' lets Catalyst "
        "inject a runtime subquery into the fact scan's "
        "PartitionFilters (dynamicpruningexpression — asserted in "
        "tests/test_bucketing.py), so only the 2 matching directories "
        "of 5 are ever read. At 100 TB with date-partitioned facts this "
        "is the difference between scanning the whole table and "
        "scanning the days the dimension selects — the third leg of "
        "the physical-layout story next to bucketing (shuffle "
        "elimination) and z-order (row-group skipping). The oracle "
        "computes the same aggregate from the raw parquet."
    ),
    tags=("join", "layout", "scale", "orders"),
)
def join_dpp_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.operators.bucketing import ensure_partitioned_orders

    path = ensure_partitioned_orders(spark, sf_dir)
    o = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [
            ("1-URGENT", "hot"),
            ("2-HIGH", "hot"),
            ("3-MEDIUM", "warm"),
            ("4-NOT SPECIFIED", "cold"),
            ("5-LOW", "cold"),
        ],
        "prio string, tier string",
    )
    return (
        o.join(
            F.broadcast(dim),
            (o["o_orderpriority"] == dim["prio"]) & (dim["tier"] == "hot"),
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("revenue_c"),
        )
    )


# ---------------------------------------------------------------------------
# Roaring-style compressed bitmap index (array/run containers)
# ---------------------------------------------------------------------------

_BM_CBITS = 12   # 12-bit container split so sf0.01 spans 4 containers
_BM_RANGE = 512  # predicate B: offset < 512 (dense range -> RUN container)


@register(
    "layout_roaring_bitmap_index",
    oracle=f"""
    WITH a AS (
      SELECT o_orderkey // {2**_BM_CBITS} AS container,
             o_orderkey % {2**_BM_CBITS} AS off
      FROM orders WHERE o_orderstatus = 'F'
    ),
    b AS (
      SELECT o_orderkey // {2**_BM_CBITS} AS container,
             o_orderkey % {2**_BM_CBITS} AS off
      FROM orders WHERE o_orderkey % {2**_BM_CBITS} < {_BM_RANGE}
    ),
    a_runs AS (
      SELECT container,
             COUNT(*) AS n,
             SUM(CASE WHEN off - prev <> 1 OR prev IS NULL
                 THEN 1 ELSE 0 END) AS runs
      FROM (SELECT container, off,
                   LAG(off) OVER (PARTITION BY container ORDER BY off)
                     AS prev
            FROM a)
      GROUP BY container
    ),
    b_runs AS (
      SELECT container,
             COUNT(*) AS n,
             SUM(CASE WHEN off - prev <> 1 OR prev IS NULL
                 THEN 1 ELSE 0 END) AS runs
      FROM (SELECT container, off,
                   LAG(off) OVER (PARTITION BY container ORDER BY off)
                     AS prev
            FROM b)
      GROUP BY container
    ),
    inter AS (
      SELECT a.container, COUNT(*) AS n_and, SUM(a.off) AS and_checksum
      FROM a JOIN b ON a.container = b.container AND a.off = b.off
      GROUP BY a.container
    ),
    uni AS (
      SELECT container, COUNT(*) AS n_or
      FROM (SELECT container, off FROM a UNION
            SELECT container, off FROM b)
      GROUP BY container
    )
    SELECT ar.container,
           CAST(ar.n AS BIGINT) AS n_a,
           CAST(CASE WHEN 4 * ar.runs < 2 * ar.n THEN 1 ELSE 0 END
                AS BIGINT) AS enc_a,
           CAST(3 + CASE WHEN 4 * ar.runs < 2 * ar.n
                    THEN 4 * ar.runs ELSE 2 * ar.n END AS BIGINT) AS bytes_a,
           CAST(br.n AS BIGINT) AS n_b,
           CAST(CASE WHEN 4 * br.runs < 2 * br.n THEN 1 ELSE 0 END
                AS BIGINT) AS enc_b,
           CAST(3 + CASE WHEN 4 * br.runs < 2 * br.n
                    THEN 4 * br.runs ELSE 2 * br.n END AS BIGINT) AS bytes_b,
           CAST(COALESCE(i.n_and, 0) AS BIGINT) AS n_and,
           CAST(COALESCE(i.and_checksum, 0) AS BIGINT) AS and_checksum,
           CAST(u.n_or AS BIGINT) AS n_or
    FROM a_runs ar
    JOIN b_runs br ON br.container = ar.container
    LEFT JOIN inter i ON i.container = ar.container
    JOIN uni u ON u.container = ar.container
    ORDER BY ar.container
    """,
    doc=(
        "Roaring-style compressed bitmap index (Chambi et al. 2016 — "
        "operators/bitmap.py implements the paper's two-level design): "
        "keys split into (container, offset); each container encodes "
        "its sorted offsets as an ARRAY or RUN container by the "
        "format's size rule — predicate A (orderstatus F, scattered "
        "keys) lands in array containers, predicate B (a dense offset "
        "range, the time-range-filter shape) lands in RUN containers, "
        "and the audit pins WHICH encoding won plus the exact byte "
        "sizes. AND/OR run on the ENCODED containers (decode + "
        "intersect inside the same applyInPandas pass). The oracle "
        "recomputes cardinalities, run counts (lag gaps), the size "
        "rule, and the intersection checksum in SQL — a green row "
        "proves the codec's encoding decision and the set algebra, "
        "not just counts. This is the filter-index machinery of "
        "Druid/ClickHouse/Pinot; containers are the parallelism grain "
        "(one groupBy), so a 100 TB index build is one shuffle."
    ),
    tags=("layout", "index", "bitmap", "orders"),
)
def layout_roaring_bitmap_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.catalog import table

    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        "o_orderstatus",
        F.expr(f"o_orderkey div {2**_BM_CBITS}").alias("container"),
        (F.col("o_orderkey") % (2**_BM_CBITS)).cast("int").alias("off"),
    )
    a = o.filter(F.col("o_orderstatus") == "F").select(
        "container", "off", F.lit(0).alias("pred")
    )
    b = o.filter(F.col("off") < _BM_RANGE).select(
        "container", "off", F.lit(1).alias("pred")
    )
    offs = (
        a.unionByName(b)
        .groupBy("container", "pred")
        .agg(F.array_sort(F.collect_list("off")).alias("offs"))
        .groupBy("container")
        .agg(
            F.max(F.when(F.col("pred") == 0, F.col("offs"))).alias("a_offs"),
            F.max(F.when(F.col("pred") == 1, F.col("offs"))).alias("b_offs"),
        )
        # the oracle inner-joins a_runs with b_runs, so a container whose
        # rows satisfy only one predicate is dropped there — drop it here
        # too (and never hand encode_container a NULL offset list)
        .filter(F.col("a_offs").isNotNull() & F.col("b_offs").isNotNull())
    )

    def _index(r):
        from dmi_ingestor_spark.operators.bitmap import (
            container_and,
            container_or,
            decode_container,
            encode_container,
        )

        ea = encode_container([int(x) for x in r.a_offs])
        eb = encode_container([int(x) for x in r.b_offs])
        both = container_and(ea, eb)
        return [
            (
                int(r.container),
                len(decode_container(ea)),
                int(ea[0]),
                len(ea),
                len(decode_container(eb)),
                int(eb[0]),
                len(eb),
                len(both),
                sum(both),
                len(container_or(ea, eb)),
            )
        ]

    return map_rows(
        offs.repartition(4, "container"),
        "container long, n_a long, enc_a long, bytes_a long, "
        "n_b long, enc_b long, bytes_b long, n_and long, "
        "and_checksum long, n_or long",
        _index,
    ).orderBy("container")
