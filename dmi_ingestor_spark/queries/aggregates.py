"""Aggregation surface A1-A5 (SURVEY.md §2.4).

The reference's only aggregation is the manifest collect-to-map fold
(``dmi_ingestor/ingestor.py:102,116-118``); A1 reproduces it relationally,
the rest is the [ext] pack. All double aggregates use the exact-decimal
path (``functions/exact.py``) so the DuckDB hash-match holds bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dmi_ingestor_spark.catalog import table
from dmi_ingestor_spark.functions.exact import (
    DEC,
    avg_exact,
    dec_to_double,
    sql_avg_exact,
    sql_dec_to_double,
    sql_sum_exact,
    sum_exact,
)
from dmi_ingestor_spark.operators.rowmap import fold_series
from dmi_ingestor_spark.registry import register


# -- A1: the reference's manifest fold, relationally ------------------------
@register(
    "manifest_collect",
    oracle="""
    SELECT
      event_type AS collection,
      COUNT(*) AS n_entries,
      MIN(strftime(CAST(ts AS TIMESTAMP), '%Y%m%dT%H%M%S')) AS first_time_str,
      MAX(strftime(CAST(ts AS TIMESTAMP), '%Y%m%dT%H%M%S')) AS last_time_str
    FROM events
    GROUP BY event_type
    ORDER BY collection
    """,
    doc=(
        "A1 analogue of the reference's manifest {time_str: url} fold "
        "(ingestor.py:102,116-118): per collection, the time-key span in "
        "the reference's yyyymmddTHHMMSS format (ingestor.py:104 string "
        "surgery → one date_format call, SURVEY.md F1). The full map "
        "variant is `manifest_map_json` (rows-only)."
    ),
    tags=("aggregation", "reference"),
)
def manifest_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    tstr = F.date_format("ts", "yyyyMMdd'T'HHmmss")
    return (
        e.groupBy(F.col("event_type").alias("collection"))
        .agg(
            F.count(F.lit(1)).alias("n_entries"),
            F.min(tstr).alias("first_time_str"),
            F.max(tstr).alias("last_time_str"),
        )
        .orderBy("collection")
    )


@register(
    "manifest_map_json",
    oracle="""
    WITH e AS (
      SELECT event_type AS collection,
             strftime(CAST(ts AS TIMESTAMP), '%Y%m%dT%H%M%S') AS time_str
      FROM events
    ), entries AS (
      SELECT collection, time_str,
             MAX('https://bucket.example/forecasts/' || collection || '/'
                 || time_str || '.tif') AS url
      FROM e GROUP BY collection, time_str
    )
    SELECT collection,
           '{' || string_agg('"' || time_str || '":"' || url || '"',
                             ',' ORDER BY time_str) || '}' AS manifest_json
    FROM entries GROUP BY collection ORDER BY collection
    """,
    doc=(
        "A1 exact manifest shape: one JSON object {time_str: url} per "
        "(collection=event_type) partition, like forecasts.json "
        "(ingestor.py:219-227). map_from_entries(sort_array(collect_list"
        "(struct))) then to_json; the sorted entries make the JSON "
        "string deterministic, so since r2 the whole object is "
        "hash-checked against a string_agg-built oracle (keys/urls are "
        "escape-free by construction). Single-row-per-group output so "
        "collect_list stays bounded (manifests are tiny, SURVEY.md "
        "§7.4)."
    ),
    tags=("aggregation", "reference"),
)
def manifest_map_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    tstr = F.date_format("ts", "yyyyMMdd'T'HHmmss")
    url = F.concat(
        F.lit("https://bucket.example/forecasts/"),
        F.col("event_type"),
        F.lit("/"),
        tstr,
        F.lit(".tif"),
    )
    return (
        e.select(F.col("event_type").alias("collection"), tstr.alias("time_str"), url.alias("url"))
        # dict-overwrite semantics of the reference's manifest build:
        # one entry per time key (last writer wins ≡ max url here),
        # pre-aggregated so collect_list never sees duplicate keys
        .groupBy("collection", "time_str")
        .agg(F.max("url").alias("url"))
        .groupBy("collection")
        .agg(
            F.to_json(
                F.map_from_entries(F.sort_array(F.collect_list(F.struct("time_str", "url"))))
            ).alias("manifest_json")
        )
        .orderBy("collection")
    )


# -- A3: distinct / count-distinct -----------------------------------------
@register(
    "agg_count_distinct",
    oracle="""
    SELECT
      o_orderstatus,
      COUNT(DISTINCT o_custkey) AS n_customers,
      COUNT(DISTINCT o_orderpriority) AS n_priorities,
      COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="A3: exact count-distinct (expand+two-phase agg in Spark). The HLL variant is `agg_approx_distinct` (rows-only).",
    tags=("aggregation",),
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "agg_approx_distinct",
    oracle=None,  # HLL estimates are engine-specific; invariant-checked in tests
    doc=(
        "A3 at 100 TB: approx_count_distinct (HyperLogLog++) — "
        "mergeable sketch, no expand, one pass. rows-only check; the "
        "test asserts the estimate is within the documented 5% rsd of "
        "the exact count."
    ),
    tags=("aggregation", "approx", "rows-only"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
            F.countDistinct("l_orderkey").alias("exact_orders"),
        )
        .orderBy("l_returnflag")
    )


# -- A4: rollup / cube / grouping sets -------------------------------------
@register(
    "agg_rollup_region_nation",
    oracle=f"""
    SELECT
      r.r_name,
      n.n_name,
      GROUPING(r.r_name) + GROUPING(n.n_name) AS lvl,
      COUNT(*) AS n_customers,
      {sql_sum_exact("c.c_acctbal", "sum_acctbal")}
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    ORDER BY lvl, r_name NULLS FIRST, n_name NULLS FIRST
    """,
    doc="A4: rollup over region→nation with grouping level indicator.",
    tags=("aggregation", "rollup"),
)
def agg_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            (F.grouping("r_name") + F.grouping("n_name")).cast("long").alias("lvl"),
            F.count(F.lit(1)).alias("n_customers"),
            sum_exact("c_acctbal", "sum_acctbal"),
        )
        .orderBy("lvl", F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


@register(
    "agg_cube_status_priority",
    oracle=f"""
    SELECT
      o_orderstatus,
      o_orderpriority,
      GROUPING(o_orderstatus) + GROUPING(o_orderpriority) AS lvl,
      COUNT(*) AS n_orders,
      {sql_sum_exact("o_totalprice", "sum_price")}
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY lvl, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    doc="A4: cube over (status, priority) — all four grouping sets.",
    tags=("aggregation", "cube"),
)
def agg_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            (F.grouping("o_orderstatus") + F.grouping("o_orderpriority"))
            .cast("long")
            .alias("lvl"),
            F.count(F.lit(1)).alias("n_orders"),
            sum_exact("o_totalprice", "sum_price"),
        )
        .orderBy(
            "lvl",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# -- A5: statistics ---------------------------------------------------------
@register(
    "agg_stats_per_mktsegment",
    oracle=f"""
    SELECT
      c_mktsegment,
      COUNT(*) AS n,
      {sql_sum_exact("c_acctbal", "sum_bal")},
      {sql_avg_exact("c_acctbal", "avg_bal")},
      CAST(MIN(c_acctbal) AS DOUBLE) AS min_bal,
      CAST(MAX(c_acctbal) AS DOUBLE) AS max_bal,
      SQRT(
        ((CAST(FLOOR(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(30,8)))) AS DOUBLE)
          + CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(30,8)))
                 - FLOOR(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(30,8)))) AS DOUBLE))
         - (CAST(FLOOR(SUM(CAST(c_acctbal AS DECIMAL(22,8)))) AS DOUBLE)
            + CAST(SUM(CAST(c_acctbal AS DECIMAL(22,8)))
                   - FLOOR(SUM(CAST(c_acctbal AS DECIMAL(22,8)))) AS DOUBLE))
           * (CAST(FLOOR(SUM(CAST(c_acctbal AS DECIMAL(22,8)))) AS DOUBLE)
              + CAST(SUM(CAST(c_acctbal AS DECIMAL(22,8)))
                     - FLOOR(SUM(CAST(c_acctbal AS DECIMAL(22,8)))) AS DOUBLE))
           / COUNT(*))
        / (COUNT(*) - 1)
      ) AS stddev_bal
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc=(
        "A5: moment statistics. stddev is computed from exact decimal "
        "sums of x and x² (order-independent → reproducible vs DuckDB), "
        "not the built-in streaming stddev whose float accumulation "
        "order differs per engine. Same shape works distributed: two "
        "decimal partial sums + count, combined map-side."
    ),
    tags=("aggregation", "stats"),
)
def agg_stats_per_mktsegment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    x = F.col("c_acctbal")
    sum_x = dec_to_double(F.sum(x.cast(DEC)))
    sum_x2 = dec_to_double(F.sum((x * x).cast("decimal(30,8)")))
    n = F.count(F.lit(1))
    var = (sum_x2 - sum_x * sum_x / n) / (n - 1)
    return (
        c.groupBy("c_mktsegment")
        .agg(
            n.alias("n"),
            sum_exact(x, "sum_bal"),
            avg_exact(x, "avg_bal"),
            F.min(x).cast("double").alias("min_bal"),
            F.max(x).cast("double").alias("max_bal"),
            F.sqrt(var).alias("stddev_bal"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "agg_percentiles",
    oracle="""
    SELECT
      l_returnflag,
      CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS p50_qty,
      CAST(quantile_cont(l_quantity, 0.9) AS DOUBLE) AS p90_qty,
      CAST(MAX(l_quantity) AS DOUBLE) AS max_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc=(
        "A5: exact percentiles (SQL `percentile` ≡ DuckDB quantile_cont, "
        "linear interpolation). l_quantity is integer-valued so the "
        "interpolated midpoints are exact binary fractions — safe for the "
        "exact hash-match. At 100 TB swap to percentile_approx (t-digest "
        "sketch, mergeable): `agg_percentiles_approx` (rows-only)."
    ),
    tags=("aggregation", "stats"),
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("p50_qty"),
            F.expr("percentile(l_quantity, 0.9)").alias("p90_qty"),
            F.max("l_quantity").cast("double").alias("max_qty"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_percentiles_approx",
    oracle=None,
    doc="A5 scale path: percentile_approx sketch; test asserts sandwich between exact p25/p75.",
    tags=("aggregation", "stats", "approx", "rows-only"),
)
def agg_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50_price_approx"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50_price_exact"),
        )
        .orderBy("l_returnflag")
    )


# -- A3+: mergeable sketches ------------------------------------------------
@register(
    "agg_sketch_pack",
    oracle=None,  # sketch binaries are engine-specific; accuracy in tests
    doc=(
        "Mergeable-sketch surface for 100 TB rollups: Datasketches HLL "
        "(hll_sketch_agg → estimate) for distinct users per event_type, "
        "plus exact counts for the accuracy invariant. Sketches are the "
        "scale answer when pre-aggregates must compose across partitions "
        "/ days — union the sketch, never recount the raw data."
    ),
    tags=("aggregation", "sketch", "approx", "rows-only"),
)
def agg_sketch_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Equal-width histogram (dashboard/profiling staple).
# ---------------------------------------------------------------------------

_HIST_BUCKETS = 16


@register(
    "agg_histogram_totalprice",
    oracle=f"""
    WITH ext AS (
      SELECT CAST(FLOOR(MIN(o_totalprice) * 100) AS BIGINT) AS vmin,
             CAST(FLOOR(MAX(o_totalprice) * 100) AS BIGINT) AS vmax
      FROM orders
    ), b AS (
      SELECT LEAST({_HIST_BUCKETS - 1},
                   ((CAST(FLOOR(o_totalprice * 100) AS BIGINT) - vmin)
                    * {_HIST_BUCKETS}) // (vmax - vmin + 1)) AS bucket
      FROM orders CROSS JOIN ext
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM b
    GROUP BY bucket
    """,
    doc=(
        "Equal-width 16-bucket histogram of order totals. Min/max come "
        "from one scalar aggregate broadcast back into the scan (the "
        "same two-pass shape every profiler uses); bucket assignment is "
        "ALL-INTEGER on floor(price*100) cents so Spark and DuckDB "
        "agree exactly (double width-division would round buckets "
        "differently at the edges). Map-side combinable count after a "
        "narrow projection."
    ),
    tags=("aggregation", "histogram", "orders", "profiling"),
)
def agg_histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    ext = o.agg(
        F.min("cents").alias("vmin"), F.max("cents").alias("vmax")
    )
    return (
        o.crossJoin(F.broadcast(ext))
        .select(
            F.least(
                F.lit(_HIST_BUCKETS - 1),
                F.expr(f"((cents - vmin) * {_HIST_BUCKETS}) div (vmax - vmin + 1)"),
            )
            .cast("long")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )


# -- [ext] incremental materialized-view maintenance ------------------------
_MV_CUTOFF = "1997-01-01"


@register(
    "rollup_incremental_merge",
    oracle=f"""
    SELECT
      o_custkey AS custkey,
      COUNT(*) AS n_orders,
      {sql_sum_exact("o_totalprice", "sum_total")},
      MAX(o_totalprice) AS max_total,
      MIN(o_totalprice) AS min_total,
      MAX(CAST(o_orderdate AS TIMESTAMP)) AS last_order_ts
    FROM orders
    GROUP BY custkey
    """,
    doc=(
        "[ext] Incremental rollup (materialized-view) maintenance: the "
        "per-customer order summary is computed as agg(base facts before "
        "the cutoff) FULL OUTER JOIN agg(delta facts after it), merging "
        "the mergeable partials (count: add, decimal sum: add, min/max: "
        "least/greatest) — the refresh pattern where yesterday's stored "
        "aggregate absorbs today's partition without rescanning the "
        "base. At 100 TB the stored aggregate is bucketed by the group "
        "key, the delta agg is map-side combined, and the merge is a "
        "co-partitioned join of two aggregate-sized tables — O(groups), "
        "not O(facts). The DuckDB oracle computes the DIRECT group-by "
        "over all facts, so the hash match is a proof that incremental "
        "merge == full recompute (why count-distinct is absent here: it "
        "is not mergeable — that needs the HLL sketches of "
        "agg_sketch_pack). [ext — the reference, dmi_ingestor/"
        "ingestor.py:102-118, only ever folds a manifest dict]"
    ),
    tags=("aggregation", "incremental", "warehouse", "scale"),
)
def rollup_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )

    def part_agg(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy(F.col("o_custkey").alias("custkey")).agg(
            F.count(F.lit(1)).alias(f"n_{tag}"),
            F.sum(F.col("o_totalprice").cast(DEC)).alias(f"s_{tag}"),
            F.max("o_totalprice").alias(f"mx_{tag}"),
            F.min("o_totalprice").alias(f"mn_{tag}"),
            F.max(F.col("o_orderdate").cast("timestamp")).alias(f"ts_{tag}"),
        )

    base = part_agg(o.filter(F.col("o_orderdate") < F.lit(_MV_CUTOFF)), "b")
    delta = part_agg(o.filter(F.col("o_orderdate") >= F.lit(_MV_CUTOFF)), "d")

    def pick(combine: str, b: str, d: str) -> F.Column:
        return (
            F.when(F.col(b).isNull(), F.col(d))
            .when(F.col(d).isNull(), F.col(b))
            .otherwise(F.expr(f"{combine}({b}, {d})"))
        )

    return (
        base.join(delta, "custkey", "full_outer")
        .select(
            "custkey",
            (F.coalesce("n_b", F.lit(0)) + F.coalesce("n_d", F.lit(0)))
            .cast("long")
            .alias("n_orders"),
            dec_to_double(
                F.coalesce("s_b", F.lit(0).cast(DEC))
                + F.coalesce("s_d", F.lit(0).cast(DEC))
            ).alias("sum_total"),
            pick("greatest", "mx_b", "mx_d").alias("max_total"),
            pick("least", "mn_b", "mn_d").alias("min_total"),
            pick("greatest", "ts_b", "ts_d").alias("last_order_ts"),
        )
    )


# -- [ext] hypertable rollup: time-bucketed OHLC continuous aggregate -------
@register(
    "ts_rollup_ohlc",
    oracle=f"""
    WITH e AS (
      SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket_ts,
             ts, event_id, value
      FROM events
    ),
    w AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY event_type, bucket_ts
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, bucket_ts
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM e
    )
    SELECT event_type, bucket_ts,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           COUNT(*) AS n_events,
           {sql_sum_exact("value", "sum_value")}
    FROM w
    GROUP BY event_type, bucket_ts
    """,
    doc=(
        "[ext] Hypertable continuous-aggregate rollup: per "
        "(event_type, hour) OHLC bars over the event stream. Open/close "
        "are min/max over (ts, event_id, value) STRUCTS — one "
        "map-side-combinable aggregate, no window pass over the raw "
        "facts (the oracle's row_number formulation is what engines "
        "without struct-ordered min/max must do; Spark's struct min IS "
        "the arg-min). event_id breaks ts ties deterministically. At "
        "100 TB: ONE shuffle keyed (type, hour), all six measures "
        "partial-aggregated before it, and the output is exactly the "
        "mergeable-partial shape rollup_incremental_merge refreshes "
        "incrementally. [ext — the reference, dmi_ingestor/"
        "ingestor.py:102-118, has no time-series aggregation]"
    ),
    tags=("aggregation", "timeseries", "rollup", "events", "scale"),
)
def ts_rollup_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
        F.struct("ts", "event_id", "value").alias("tsv"),
        "value",
    )
    return e.groupBy("event_type", "bucket_ts").agg(
        F.min("tsv")["value"].alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max("tsv")["value"].alias("close"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        sum_exact("value", "sum_value"),
    )


@register(
    "agg_argmax_pack",
    oracle="""
    WITH k AS (
      SELECT o_orderpriority, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey AS ordk
      FROM orders
    )
    SELECT
      o_orderpriority,
      CAST(arg_max(o_orderkey, ordk) AS BIGINT) AS best_order,
      CAST(arg_min(o_orderkey, ordk) AS BIGINT) AS worst_order,
      CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM k
    GROUP BY o_orderpriority
    """,
    doc=(
        "A5 argmax surface: max_by/min_by (SQL arg_max/arg_min) pick "
        "the highest- and lowest-priced order id per priority in ONE "
        "hash aggregate — no window, no self-join, map-side combinable "
        "(the partial state is a single (arg, key) pair per group). "
        "Price ties are broken deterministically by folding the unique "
        "order key into the ordering key integer — argmax over doubles "
        "with ties is engine-defined, so the pack never relies on it."
    ),
    tags=("agg", "argmax"),
)
def agg_argmax_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    ordk = F.round(F.col("o_totalprice") * 100).cast("long") * 10_000_000 + F.col(
        "o_orderkey"
    )
    k = o.select("o_orderpriority", "o_orderkey", ordk.alias("ordk"))
    return k.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", F.col("ordk")).cast("long").alias("best_order"),
        F.min_by("o_orderkey", F.col("ordk")).cast("long").alias("worst_order"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )


@register(
    "agg_histogram_equifreq",
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_int,
             NTILE(10) OVER (ORDER BY CAST(round(o_totalprice * 100) AS BIGINT),
                             o_orderkey) AS bucket
      FROM orders
    )
    SELECT
      CAST(bucket AS INTEGER) AS bucket,
      CAST(COUNT(*) AS BIGINT) AS n,
      MIN(price_int) AS lo,
      MAX(price_int) AS hi
    FROM t
    GROUP BY bucket
    """,
    doc=(
        "A5: equal-frequency histogram (decile bounds of order value) — "
        "the quantile-binning twin of agg_histogram_totalprice's "
        "equal-width buckets, over a deterministic total order "
        "(integer price, order key tie-break — NTILE on doubles with "
        "ties is engine-defined); both engines fill uneven buckets "
        "front-first by the same rule. Round 3 removed the global "
        "ntile() window (an O(n) SinglePartition sort): the exact rank "
        "now comes from the sharded enumeration pattern "
        "(repartitionByRange → local sort → partition-count prefix "
        "offsets, same as transform_global_row_number) and the bucket "
        "is NTILE's closed-form front-loaded fill computed map-side "
        "from (rank, n). Exact quantiles at 100 TB without a "
        "single-task sort."
    ),
    tags=("agg", "histogram", "quantile", "scale"),
)
def agg_histogram_equifreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.operators.ranks import (
        ntile_from_rank,
        sharded_row_number,
    )

    o = table(spark, sf_dir, "orders")
    t = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_int"),
    )
    ranked, n_total = sharded_row_number(t, ["price_int", "o_orderkey"])
    bucket = ntile_from_rank(F.col("rn"), n_total, 10)
    return (
        ranked.withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("price_int").alias("lo"),
            F.max("price_int").alias("hi"),
        )
    )


@register(
    "agg_mode_exact",
    oracle="""
    WITH cnt AS (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_returnflag, qty
    )
    SELECT l_returnflag,
           arg_max(qty, n * 1000 + qty) AS mode_qty,
           MAX(n) AS mode_n
    FROM cnt GROUP BY l_returnflag
    """,
    doc=(
        "A5: exact mode (most frequent quantity per return flag) as "
        "two stacked hash aggregates — count per (group, value), then "
        "argmax with the value folded into the ordering key so ties "
        "break deterministically toward the larger value (built-in "
        "mode() tie rules are engine-defined; this never relies on "
        "them). Both levels are map-side combinable; no sort, no "
        "window."
    ),
    tags=("agg", "mode"),
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    cnt = (
        li.select("l_returnflag", F.col("l_quantity").cast("long").alias("qty"))
        .groupBy("l_returnflag", "qty")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return cnt.groupBy("l_returnflag").agg(
        F.max_by("qty", F.col("n") * 1000 + F.col("qty")).alias("mode_qty"),
        F.max("n").alias("mode_n"),
    )


@register(
    "transform_winsorize_values",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ), ranked AS (
      SELECT event_type, cents,
             COUNT(*) OVER (
               PARTITION BY event_type ORDER BY cents
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnt_le,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM e
    ), cuts AS (
      SELECT event_type,
             MIN(CASE WHEN 100 * cnt_le >= 5 * n THEN cents END) AS p05,
             MIN(CASE WHEN 100 * cnt_le >= 95 * n THEN cents END) AS p95
      FROM ranked GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.cents,
           GREATEST(c.p05, LEAST(c.p95, e.cents)) AS cents_winsorized,
           (e.cents < c.p05 OR e.cents > c.p95) AS clipped
    FROM e JOIN cuts c USING (event_type)
    """,
    doc=(
        "Winsorization (clip to [P5, P95] per group) with EXACT "
        "discrete percentiles: the cut is the smallest value whose "
        "cumulative count reaches the quantile, stated as the integer "
        "inequality 100*cnt_le >= q*n — no interpolation, no floats, "
        "so the clipped training signal is bit-reproducible. One "
        "windowed pass for the cuts, broadcast back, clip per row. At "
        "100 TB the cuts stage swaps for approx_percentile; the clip "
        "stage is unchanged."
    ),
    tags=("agg", "stats", "winsorize", "events"),
)
def transform_winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w_le = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    ranked = e.select(
        "event_type",
        "cents",
        F.count(F.lit(1)).over(w_le).alias("cnt_le"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    cuts = ranked.groupBy("event_type").agg(
        F.min(F.when(100 * F.col("cnt_le") >= 5 * F.col("n"), F.col("cents"))).alias(
            "p05"
        ),
        F.min(F.when(100 * F.col("cnt_le") >= 95 * F.col("n"), F.col("cents"))).alias(
            "p95"
        ),
    )
    j = e.join(F.broadcast(cuts), "event_type")
    return j.select(
        "event_id",
        "event_type",
        "cents",
        F.greatest(F.col("p05"), F.least(F.col("p95"), F.col("cents"))).alias(
            "cents_winsorized"
        ),
        ((F.col("cents") < F.col("p05")) | (F.col("cents") > F.col("p95"))).alias(
            "clipped"
        ),
    )


# ---------------------------------------------------------------------------
# Top-k per group, aggregate form (§2.6 — the shuffle-light alternative to
# the row_number window in window_rank_orders_per_customer)
# ---------------------------------------------------------------------------

_TOPK_PER_GROUP = 3


@register(
    "topk_per_group_aggregate",
    oracle=f"""
    SELECT o_custkey, CAST(rnk AS BIGINT) AS rnk, o_orderkey, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders
    )
    WHERE rnk <= {_TOPK_PER_GROUP}
    """,
    doc=(
        f"Top-{_TOPK_PER_GROUP} orders per customer expressed as ONE "
        "aggregate — slice(sort_array(collect_list(struct)), k) — instead "
        "of a row_number window. The window form sorts EVERY row of every "
        "hash partition before discarding all but k per group; the "
        "aggregate form ships the same rows but sorts only within each "
        "group's collected array and keeps the plan a single "
        "partial+final ObjectHashAggregate. Correct trade-off when the "
        "per-group cardinality is bounded (orders per customer here); "
        "for unbounded groups use the window form, which spills. "
        "Tie-break is total (price DESC, orderkey ASC) via a "
        "(price, -orderkey) struct sorted descending, so both engines "
        "pick identical winners."
    ),
    tags=("topk", "aggregate", "orders"),
)
def topk_per_group_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    top = o.groupBy("o_custkey").agg(
        F.slice(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("o_totalprice"),
                        (-F.col("o_orderkey")).alias("negkey"),
                    )
                ),
                asc=False,
            ),
            1,
            _TOPK_PER_GROUP,
        ).alias("top")
    )
    return top.select(
        "o_custkey", F.posexplode("top").alias("pos", "t")
    ).select(
        "o_custkey",
        (F.col("pos") + 1).cast("long").alias("rnk"),
        (-F.col("t.negkey")).alias("o_orderkey"),
        F.col("t.o_totalprice").alias("o_totalprice"),
    )


# ---------------------------------------------------------------------------
# Multiple COUNT(DISTINCT) — the Expand/gid rewrite (A3 at scale)
# ---------------------------------------------------------------------------

_SQL_MULTI_DISTINCT = """
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_prio,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders
    GROUP BY o_orderstatus
"""


@register(
    "agg_multi_distinct_expand",
    oracle=_SQL_MULTI_DISTINCT,
    doc=(
        "Two COUNT(DISTINCT ...) over DIFFERENT columns plus a plain "
        "COUNT(*) in one grouped aggregate — the shape Catalyst rewrites "
        "via Expand: each input row fans out to one row per distinct "
        "group (tagged gid), a first aggregate dedups (key, gid, value) "
        "with map-side partials, and a second aggregate counts per gid "
        "with FILTER clauses. Two bounded shuffles instead of one job "
        "per distinct column — the only shape that scales when a 100 TB "
        "fact needs several distinct counts in one pass. For counts "
        "where exactness is negotiable, agg_approx_distinct's HLL "
        "sketch avoids the Expand entirely."
    ),
    tags=("aggregate", "distinct", "orders"),
)
def agg_multi_distinct_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.catalog import register_temp_views

    register_temp_views(spark, sf_dir)
    return spark.sql(_SQL_MULTI_DISTINCT)


# ---------------------------------------------------------------------------
# Boolean aggregate pack (bool_and / bool_or / count_if)
# ---------------------------------------------------------------------------


@register(
    "agg_boolean_pack",
    oracle="""
    SELECT o_orderstatus,
           bool_and(o_totalprice > 1000.0)   AS all_over_1k,
           bool_or(o_totalprice > 400000.0)  AS any_over_400k,
           CAST(count_if(o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
           CAST(count_if(o_totalprice IS NULL) AS BIGINT) AS n_null_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc=(
        "Boolean aggregate pack: bool_and / bool_or / count_if per "
        "order status — the predicate-rollup surface (ANSI EVERY/ANY). "
        "All partial-aggregatable single-bit/long states, so the "
        "shuffle carries one boolean or counter per (group, agg) "
        "regardless of fact size; identical semantics in DuckDB "
        "including NULL handling (nulls are ignored by bool_and/"
        "bool_or, unmatched rows by count_if)."
    ),
    tags=("aggregate", "boolean", "orders"),
)
def agg_boolean_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.bool_and(F.col("o_totalprice") > 1000.0).alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000.0).alias("any_over_400k"),
        F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("n_urgent"),
        F.count_if(F.col("o_totalprice").isNull()).alias("n_null_price"),
    )


# ---------------------------------------------------------------------------
# Exact covariance (algebraic decimal-128 form)
# ---------------------------------------------------------------------------


@register(
    "agg_covariance_exact",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(
             CAST(COUNT(*) AS DECIMAL(38,0))
               * SUM(CAST(round(value * 100) AS DECIMAL(38,0))
                     * CAST(hour(CAST(ts AS TIMESTAMP)) AS DECIMAL(38,0)))
             - SUM(CAST(round(value * 100) AS DECIMAL(38,0)))
               * SUM(CAST(hour(CAST(ts AS TIMESTAMP)) AS DECIMAL(38,0)))
             AS BIGINT) AS cov_num
    FROM events
    GROUP BY event_type
    """,
    doc=(
        "Exact sample-covariance numerator n·Σxy − Σx·Σy between "
        "centi-scaled event value and hour-of-day, per event type — the "
        "algebraic single-pass form (no mean subtraction, no second "
        "scan) carried in decimal(38,0) internally and emitted as "
        "BIGINT (|cov_num| ~ 1e13 at sf1, well inside int64) so the "
        "result is hash-exact where float covar_samp would drift. This "
        "is the "
        "form a 100 TB profile pass uses: one partial+final aggregate, "
        "three extra decimal sums per group, and the sign/magnitude of "
        "the association available without any floating point. "
        "(cov_samp = cov_num / (n·(n−1)) when a float is wanted.)"
    ),
    tags=("aggregate", "statistics", "events"),
)
def agg_covariance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    x = F.round(F.col("value") * 100).cast("decimal(38,0)")
    y = F.hour(F.col("ts").cast("timestamp")).cast("decimal(38,0)")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum(x * y).alias("sxy"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
        )
        .select(
            "event_type",
            F.col("n_obs").cast("long").alias("n_obs"),
            (
                F.col("n_obs").cast("decimal(38,0)") * F.col("sxy")
                - F.col("sx") * F.col("sy")
            )
            .cast("long")
            .alias("cov_num"),
        )
    )


@register(
    "agg_percentile_disc",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_quantity, 0.5)  AS p50d,
           quantile_disc(l_quantity, 0.9)  AS p90d,
           quantile_disc(l_quantity, 0.99) AS p99d
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc=(
        "Discrete percentiles (PERCENTILE_DISC WITHIN GROUP ≡ DuckDB "
        "quantile_disc): returns an ACTUAL data value — the smallest "
        "value whose cumulative share reaches p — where the continuous "
        "form (agg_percentiles) interpolates between neighbors. The "
        "hash match pins that both engines pick the same element under "
        "the same tie/cumulation rule. Same scale story as the cont "
        "form: exact percentile is a sort-based aggregate; at 100 TB "
        "use the mergeable approx sketch (agg_percentiles_approx) and "
        "reserve DISC for the final small aggregate."
    ),
    tags=("aggregate", "percentile", "lineitem"),
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    wg = "percentile_disc({p}) WITHIN GROUP (ORDER BY l_quantity)"
    return li.groupBy("l_returnflag").agg(
        F.expr(wg.format(p=0.5)).alias("p50d"),
        F.expr(wg.format(p=0.9)).alias("p90d"),
        F.expr(wg.format(p=0.99)).alias("p99d"),
    )


# ---------------------------------------------------------------------------
# Bitmap exact distinct (Spark 4 bitmap aggregate family)
# ---------------------------------------------------------------------------


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_cust
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc=(
        "EXACT distinct count via Spark 4's bitmap aggregates: keys "
        "bucket into 32k-bit bitmaps (bitmap_bucket_number / "
        "bitmap_bit_position), bitmap_construct_agg ORs per-bucket "
        "membership bits, and SUM(bitmap_count) totals them. Unlike "
        "COUNT(DISTINCT) — whose dedup re-shuffles raw keys — the "
        "bitmap partial state is a fixed 4 KB page per (group, bucket): "
        "mergeable, cacheable as a materialized rollup, and exact "
        "where HLL (agg_approx_distinct) trades accuracy. The oracle "
        "is the plain COUNT(DISTINCT), so the hash match proves the "
        "bitmap pipeline loses nothing. This is the "
        "pre-aggregated-distinct pattern warehouses ship as BITMAP "
        "types; at 100 TB it turns repeated distinct queries into "
        "sums over stored bitmaps."
    ),
    tags=("aggregate", "distinct", "bitmap", "orders"),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    buckets = o.groupBy(
        "o_orderstatus",
        F.expr("bitmap_bucket_number(o_custkey)").alias("bkt"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))").alias("bm")
    )
    return buckets.groupBy("o_orderstatus").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_distinct_cust")
    )


@register(
    "agg_listagg_ordered",
    oracle="""
    SELECT o_orderstatus,
           string_agg(o_orderpriority, ',' ORDER BY o_orderkey) AS prios
    FROM orders
    WHERE o_orderkey % 97 = 0
    GROUP BY o_orderstatus
    """,
    doc=(
        "Ordered string aggregation — Spark 4's LISTAGG ... WITHIN "
        "GROUP (ORDER BY), the ANSI form of DuckDB's string_agg(... "
        "ORDER BY): per status, order priorities concatenated in "
        "o_orderkey order. The deterministic ORDER BY inside the "
        "aggregate is the whole point (unordered listagg output is "
        "partitioning-dependent and would never hash-match); the "
        "filter keeps the concatenated state small — at scale, ordered "
        "listagg buffers each group, so it belongs after reduction, "
        "not on raw 100 TB facts (analytics_top_paths shows the same "
        "discipline with capped per-user paths)."
    ),
    tags=("aggregate", "listagg", "orders"),
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    return o.groupBy("o_orderstatus").agg(
        F.expr(
            "listagg(o_orderpriority, ',') WITHIN GROUP (ORDER BY o_orderkey)"
        ).alias("prios")
    )


@register(
    "agg_grouping_id_pin",
    oracle="""
    SELECT CASE WHEN o_orderkey % 5 = 0 THEN NULL
                ELSE o_orderstatus END AS status,
           o_orderpriority AS prio,
           CAST(GROUPING(CASE WHEN o_orderkey % 5 = 0 THEN NULL
                              ELSE o_orderstatus END) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY ROLLUP(1, 2)
    """,
    doc=(
        "GROUPING() disambiguation under ROLLUP with REAL NULL keys "
        "injected: a subtotal row's NULL status and a genuine NULL "
        "status group are indistinguishable by value — GROUPING(col) "
        "(1 = column rolled up, 0 = real group, possibly NULL-keyed) "
        "is the only correct discriminator, and any consumer that "
        "filters subtotals by `status IS NULL` silently merges real "
        "NULL groups into totals. The hash match pins that both "
        "engines emit identical grouping flags for every rollup "
        "level. Same Expand-based plan as the other grouping-set "
        "queries."
    ),
    tags=("aggregate", "rollup", "null-semantics", "orders"),
)
def agg_grouping_id_pin(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    status = F.when(F.col("o_orderkey") % 5 == 0, F.lit(None)).otherwise(
        F.col("o_orderstatus")
    )
    d = o.select(status.alias("status"), F.col("o_orderpriority").alias("prio"))
    return d.rollup("status", "prio").agg(
        F.grouping("status").cast("long").alias("g_status"),
        F.grouping("prio").cast("long").alias("g_prio"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).select("status", "prio", "g_status", "g_prio", "n")


_EWMA_N = 16  # trailing window length (α = 1/2, dyadic weights)


@register(
    "ts_ewma_trailing",
    oracle=f"""
    WITH q AS (
      SELECT event_type, event_id, ts,
             CAST(round(value * 1000) AS BIGINT) AS iv
      FROM events
    ),
    w AS (
      SELECT event_type, event_id, ts,
             list(iv) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN {_EWMA_N - 1} PRECEDING AND CURRENT ROW
             ) AS lv
      FROM q
    )
    SELECT event_type, event_id, ts,
           CAST(list_sum(list_transform(range(len(lv)),
             i -> lv[i + 1] * (CAST(1 AS BIGINT) << CAST(i + {_EWMA_N} - len(lv) AS INTEGER))
           )) AS BIGINT) AS ewma_scaled
    FROM w
    """,
    doc=(
        "Timeseries trailing EWMA (α=1/2) over an irregular event "
        "stream: per event_type, the last 16 observations weighted "
        "2^k by recency — the smoothing stage behind monitoring/"
        "trend features. The frame is BOUNDED (ROWS 15 PRECEDING), so "
        "window state is O(16) per key — unlike a from-start recursive "
        "EWMA this parallelizes: one shuffle on event_type, then "
        "map-side list + higher-order weighted sum, no iteration. "
        "Dyadic integer weights (1<<k on quantized values) keep every "
        "sum an exact <2^53 integer, so the smoothed series is "
        "hash-green. A true infinite-memory EWMA needs a sequential "
        "scan (Spark: applyInPandasWithState per key); the bounded "
        "form is the scale-correct approximation (tail weight < 2^-16)."
    ),
    tags=("timeseries", "window", "events"),
)
def ts_ewma_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    q = table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "ts",
        F.round(F.col("value") * 1000, 0).cast("long").alias("iv"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EWMA_N - 1), 0)
    )
    lv = F.collect_list("iv").over(w)
    # dyadic weights as a literal lookup array (shiftleft needs a plain
    # int for its bit count, so 2^k is indexed, not computed, per row)
    weights = F.array(*[F.lit(2**j).cast("long") for j in range(_EWMA_N)])
    weighted = F.aggregate(
        F.zip_with(
            lv,
            F.sequence(F.lit(0), F.size(lv) - 1),
            lambda x, i: x
            * F.element_at(
                weights, (i + F.lit(_EWMA_N) - F.size(lv) + 1).cast("int")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        q.withColumn("lv", lv)
        .select(
            "event_type",
            "event_id",
            "ts",
            weighted.alias("ewma_scaled"),
        )
    )


@register(
    "ts_rolling_anomaly",
    oracle=f"""
    WITH q AS (
      SELECT event_type, event_id, ts,
             CAST(round(value * 1000) AS BIGINT) AS iv
      FROM events
    ),
    w AS (
      SELECT event_type, event_id, ts, iv,
             CAST(COUNT(*) OVER fr AS BIGINT) AS n,
             CAST(SUM(iv) OVER fr AS BIGINT) AS s,
             CAST(SUM(iv * iv) OVER fr AS BIGINT) AS ss
      FROM q
      WINDOW fr AS (
        PARTITION BY event_type ORDER BY ts, event_id
        ROWS BETWEEN {_EWMA_N - 1} PRECEDING AND CURRENT ROW
      )
    )
    SELECT event_type, event_id, ts, n,
           ((n * iv - s) * (n * iv - s) > 4 * (n * ss - s * s))
             AS is_anomaly
    FROM w
    """,
    doc=(
        "Rolling z-score anomaly detection (control-chart shape) over "
        "the irregular event stream: per event_type, trailing-16 count/"
        "sum/sum-of-squares in ONE shared bounded window frame, and the "
        "|x−μ| > 2σ test algebraically cleared of division and sqrt — "
        "(n·x−Σ)² > 4(n·Σx²−Σ²) — so the flag is an exact BIGINT "
        "comparison (quantized values keep every term < 2^48): a FLOAT-"
        "free statistical test that hash-matches across engines. Same "
        "scale shape as ts_ewma_trailing: one shuffle on the key, O(16) "
        "window state, all three aggregates computed in the same frame "
        "pass."
    ),
    tags=("timeseries", "window", "anomaly", "events"),
)
def ts_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    q = table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "ts",
        F.round(F.col("value") * 1000, 0).cast("long").alias("iv"),
    )
    fr = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EWMA_N - 1), 0)
    )
    n = F.count(F.lit(1)).over(fr).cast("long")
    s = F.sum("iv").over(fr).cast("long")
    ss = F.sum(F.col("iv") * F.col("iv")).over(fr).cast("long")
    dev = n * F.col("iv") - s
    var4 = F.lit(4) * (n * ss - s * s)
    return q.select(
        "event_type",
        "event_id",
        "ts",
        n.alias("n"),
        (dev * dev > var4).alias("is_anomaly"),
    )


# --------------------------------------------------------------------------
# A3++: Datasketches frequent-items and theta set-operation sketches
# --------------------------------------------------------------------------


@register(
    "agg_approx_top_k",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY n_events DESC, event_type
    LIMIT 3
    """,
    doc=(
        "Heavy hitters via the Spark 4 approx_top_k sketch, exercised "
        "through its MERGEABLE split: one accumulate per half of the "
        "data (event_id parity stands in for 'per partition / per "
        "day'), approx_top_k_combine unions the partials, estimate "
        "materializes (item, count) rows — the 100 TB rollup pattern "
        "where you NEVER re-touch raw data to re-rank. The fixture's 5 "
        "event types sit far under the sketch's tracked-item budget, "
        "so counts are in the sketch's EXACT regime and the final "
        "top-3 (count desc, item tie-break) hash-matches the plain "
        "GROUP BY oracle; past the budget the same plan degrades to "
        "ε-approximate instead of failing."
    ),
    tags=("aggregation", "sketch", "events"),
)
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type", (F.col("event_id") % 2).alias("half")
    )
    # Sentinel seed: ApproxTopKCombine.eval crashes (scala.MatchError on
    # the null serde type) when every accumulate group is empty — an
    # upstream Spark 4.1 bug on empty input. One never-occurring seed
    # item in its own half keeps the combine non-empty at zero cost; it
    # is filtered back out after estimation.
    seed = spark.range(1).select(
        F.lit("\u0000seed").alias("event_type"), F.lit(-1).alias("half")
    )
    halves = ev.unionByName(seed).groupBy("half").agg(
        F.expr("approx_top_k_accumulate(event_type, 10)").alias("st")
    )
    combined = halves.agg(
        F.expr("approx_top_k_estimate(approx_top_k_combine(st, 10), 10)").alias(
            "items"
        )
    )
    rows = (
        combined.select(F.explode("items").alias("e"))
        .select(
            F.col("e.item").alias("event_type"),
            F.col("e.count").cast("long").alias("n_events"),
        )
        .where(F.col("event_type") != "\u0000seed")
    )
    return rows.orderBy(F.desc("n_events"), "event_type").limit(3)


@register(
    "agg_theta_sketch_setops",
    oracle="""
    WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT (SELECT COUNT(*) FROM c) AS n_click,
           (SELECT COUNT(*) FROM p) AS n_purchase,
           (SELECT COUNT(*) FROM (SELECT * FROM c UNION SELECT * FROM p)) AS n_union,
           (SELECT COUNT(*) FROM (SELECT * FROM c INTERSECT SELECT * FROM p))
             AS n_inter,
           (SELECT COUNT(*) FROM (SELECT * FROM c EXCEPT SELECT * FROM p)) AS n_diff
    """,
    doc=(
        "Distinct-set ALGEBRA on sketches (Datasketches theta): one "
        "pass builds per-cohort user sketches with FILTER clauses, then "
        "union / intersection / difference — the audience-overlap "
        "query families (clicked AND purchased, clicked NOT purchased) "
        "— evaluate on the tiny sketch blobs, never re-scanning users. "
        "lgNomEntries=16 keeps the sketch in its EXACT regime through "
        "65536 distinct users (~sf4) at 512 KiB of state per cohort — "
        "the r7 sf0.5 cross-sf sweep caught the default lgK=12 "
        "crossing into ~0.2%-error estimation at 7500 users — so all "
        "five counts hash-match the DISTINCT/INTERSECT/EXCEPT oracle "
        "at every testable scale; beyond the threshold the identical "
        "plan returns ~2% relative-error estimates. At 100 TB the sketches are partial+final "
        "aggregates (bytes per cohort, broadcast-size state) where the "
        "exact oracle would need three full distinct shuffles."
    ),
    tags=("aggregation", "sketch", "events"),
)
def agg_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    sk = ev.agg(
        F.expr(
            "theta_sketch_agg(user_id, 16) FILTER (WHERE event_type = 'click')"
        ).alias("cs"),
        F.expr(
            "theta_sketch_agg(user_id, 16) FILTER (WHERE event_type = 'purchase')"
        ).alias("ps"),
    )
    est = lambda e, a: F.expr(f"CAST(theta_sketch_estimate({e}) AS BIGINT)").alias(a)  # noqa: E731
    return sk.select(
        est("cs", "n_click"),
        est("ps", "n_purchase"),
        est("theta_union(cs, ps, 16)", "n_union"),
        est("theta_intersection(cs, ps)", "n_inter"),
        est("theta_difference(cs, ps)", "n_diff"),
    )


# --------------------------------------------------------------------------
# Exact grouped median WITHOUT a global sort: two-pass histogram selection
# --------------------------------------------------------------------------

_MED_W = 64  # histogram buckets per group (size ~1e4 at cluster scale)


@register(
    "agg_exact_median_twopass",
    oracle="""
    SELECT c_mktsegment, quantile_disc(c_acctbal, 0.5) AS median_acctbal
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    doc=(
        "EXACT per-group median computed the way it must be at 100 TB "
        "— selection, not sorting. Pass A: per-group (n, min, max), "
        "broadcast. Pass B: equi-width histogram counts per group; a "
        "window cumsum over the TINY histogram relation (groups x 64 "
        "rows) locates the bucket containing rank k=(n+1)/2 and the "
        "rank remaining within it. Pass C: only rows in that one "
        "bucket per group (~n/64 of the data) are ranked by value and "
        "the k'th picked. No stage ever sorts more than one bucket; "
        "a sort-based median would shuffle and sort the whole table. "
        "Matches DuckDB quantile_disc(0.5) (PERCENTILE_DISC lower-"
        "median semantics) exactly — no approximation anywhere."
    ),
    tags=("aggregation", "percentile", "customer", "scale"),
)
def agg_exact_median_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer").select("c_mktsegment", "c_acctbal")
    # Pass A: per-group extent + count
    rng = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.min("c_acctbal").alias("lo"),
        F.max("c_acctbal").alias("hi"),
    )
    bucket = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.greatest(
                F.floor(
                    (F.col("c_acctbal") - F.col("lo"))
                    * _MED_W
                    / (F.col("hi") - F.col("lo"))
                ).cast("long"),
                F.lit(0),
            ),
            F.lit(_MED_W - 1),
        )
    )
    withb = c.join(F.broadcast(rng), "c_mktsegment").select(
        "c_mktsegment", "c_acctbal", "n_g", bucket.alias("bucket")
    )
    # Pass B: histogram + cumulative rank over the tiny summary
    hist = withb.groupBy("c_mktsegment", "n_g", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    k = ((F.col("n_g") + 1) / 2).cast("long")
    chosen = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("k", k)
        .where(
            (F.col("cum") >= F.col("k"))
            & (F.col("cum") - F.col("cnt") < F.col("k"))
        )
        .select(
            "c_mktsegment",
            "bucket",
            (F.col("k") - (F.col("cum") - F.col("cnt"))).alias("local_rank"),
        )
    )
    # Pass C: rank only the median bucket's rows
    narrowed = withb.join(
        F.broadcast(chosen), ["c_mktsegment", "bucket"]
    )
    wr = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return (
        narrowed.withColumn("r", F.row_number().over(wr))
        .where(F.col("r") == F.col("local_rank"))
        .select("c_mktsegment", F.col("c_acctbal").alias("median_acctbal"))
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Visualization downsampling: max-deviation point per time bucket
# --------------------------------------------------------------------------

_DS_BUCKET_S = 6 * 3600  # 6-hour buckets


@register(
    "ts_downsample_maxdev",
    oracle=f"""
    WITH b AS (
      SELECT event_id, event_type, ts, value,
             CAST(epoch(ts) AS BIGINT) // {_DS_BUCKET_S} AS bucket
      FROM events
    ),
    s AS (
      SELECT event_type, bucket,
             CAST(SUM(CAST(value AS DECIMAL(22,8))) AS DOUBLE)
               / COUNT(*) AS avg_v
      FROM b GROUP BY event_type, bucket
    ),
    r AS (
      SELECT b.event_id, b.event_type, b.bucket, b.value,
             ROW_NUMBER() OVER (
               PARTITION BY b.event_type, b.bucket
               ORDER BY ABS(b.value - s.avg_v) DESC, b.event_id
             ) AS rnk
      FROM b JOIN s ON b.event_type = s.event_type AND b.bucket = s.bucket
    )
    SELECT event_id, event_type, bucket, value
    FROM r WHERE rnk = 1
    """,
    doc=(
        "Time-series downsampling for dashboards: keep, per (series, "
        "6h bucket), the single point that deviates most from the "
        "bucket mean — the parallel-friendly cousin of LTTB that "
        "preserves spikes an avg-per-bucket rollup would erase. Two "
        "bounded aggregates (bucket stats, then per-bucket argmax via "
        "a rank-1 window over bucket-grain partitions); the bucket "
        "mean divides an exact decimal sum so both engines see the "
        "identical double, and ties break on event_id. Output is "
        "O(series x buckets) regardless of input volume."
    ),
    tags=("timeseries", "downsampling", "events"),
)
def ts_downsample_maxdev(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    b = ev.select(
        "event_id",
        "event_type",
        "value",
        (F.unix_timestamp("ts") / _DS_BUCKET_S).cast("long").alias("bucket"),
    )
    s = b.groupBy("event_type", "bucket").agg(
        (
            F.sum(F.col("value").cast(DEC)).cast("double") / F.count(F.lit(1))
        ).alias("avg_v")
    )
    w = Window.partitionBy("event_type", "bucket").orderBy(
        F.abs(F.col("value") - F.col("avg_v")).desc(), "event_id"
    )
    return (
        b.join(s, ["event_type", "bucket"])
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select("event_id", "event_type", "bucket", "value")
    )


# --------------------------------------------------------------------------
# Exact higher-moment profiling: skewness & kurtosis from power sums
# --------------------------------------------------------------------------


@register(
    "agg_skew_kurtosis_exact",
    oracle="""
    WITH c AS (
      SELECT c_mktsegment,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS v
      FROM customer
    ),
    s AS (
      SELECT c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(v AS HUGEINT)) AS HUGEINT) AS s1,
             CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2,
             CAST(SUM(CAST(v AS HUGEINT) * v * v) AS HUGEINT) AS s3,
             CAST(SUM(CAST(v AS HUGEINT) * v * v * v) AS HUGEINT) AS s4
      FROM c GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, n,
           (CAST(n AS DOUBLE) * (CAST(((s2) - ((s2) % 9007199254740992)) // 9007199254740992 AS DOUBLE) * 9007199254740992.0 + CAST((s2) % 9007199254740992 AS DOUBLE))
            - (CAST(((s1) - ((s1) % 9007199254740992)) // 9007199254740992 AS DOUBLE) * 9007199254740992.0 + CAST((s1) % 9007199254740992 AS DOUBLE)) * (CAST(((s1) - ((s1) % 9007199254740992)) // 9007199254740992 AS DOUBLE) * 9007199254740992.0 + CAST((s1) % 9007199254740992 AS DOUBLE)))
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 10000.0 AS variance_pop,
           (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(((s3) - ((s3) % 9007199254740992)) // 9007199254740992 AS DOUBLE) * 9007199254740992.0 + CAST((s3) % 9007199254740992 AS DOUBLE))
            - 3.0 * CAST(n AS DOUBLE) * (CAST(((s1) - ((s1) % 9007199254740992)) // 9007199254740992 AS DOUBLE) * 9007199254740992.0 + CAST((s1) % 9007199254740992 AS DOUBLE)) * (CAST(((s2) - ((s2) % 9007199254740992)) // 9007199254740992 AS DOUBLE) * 9007199254740992.0 + CAST((s2) % 9007199254740992 AS DOUBLE))
            + 2.0 * (CAST(((s1) - ((s1) % 9007199254740992)) // 9007199254740992 AS DOUBLE) * 9007199254740992.0 + CAST((s1) % 9007199254740992 AS DOUBLE)) * (CAST(((s1) - ((s1) % 9007199254740992)) // 9007199254740992 AS DOUBLE) * 9007199254740992.0 + CAST((s1) % 9007199254740992 AS DOUBLE)) * (CAST(((s1) - ((s1) % 9007199254740992)) // 9007199254740992 AS DOUBLE) * 9007199254740992.0 + CAST((s1) % 9007199254740992 AS DOUBLE)))
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
             AS m3_cents,
           (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              * (CAST(((s4) - ((s4) % 9007199254740992)) // 9007199254740992 AS DOUBLE) * 9007199254740992.0 + CAST((s4) % 9007199254740992 AS DOUBLE))
            - 4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(((s1) - ((s1) % 9007199254740992)) // 9007199254740992 AS DOUBLE) * 9007199254740992.0 + CAST((s1) % 9007199254740992 AS DOUBLE))
              * (CAST(((s3) - ((s3) % 9007199254740992)) // 9007199254740992 AS DOUBLE) * 9007199254740992.0 + CAST((s3) % 9007199254740992 AS DOUBLE))
            + 6.0 * CAST(n AS DOUBLE) * (CAST(((s1) - ((s1) % 9007199254740992)) // 9007199254740992 AS DOUBLE) * 9007199254740992.0 + CAST((s1) % 9007199254740992 AS DOUBLE)) * (CAST(((s1) - ((s1) % 9007199254740992)) // 9007199254740992 AS DOUBLE) * 9007199254740992.0 + CAST((s1) % 9007199254740992 AS DOUBLE))
              * (CAST(((s2) - ((s2) % 9007199254740992)) // 9007199254740992 AS DOUBLE) * 9007199254740992.0 + CAST((s2) % 9007199254740992 AS DOUBLE))
            - 3.0 * (CAST(((s1) - ((s1) % 9007199254740992)) // 9007199254740992 AS DOUBLE) * 9007199254740992.0 + CAST((s1) % 9007199254740992 AS DOUBLE)) * (CAST(((s1) - ((s1) % 9007199254740992)) // 9007199254740992 AS DOUBLE) * 9007199254740992.0 + CAST((s1) % 9007199254740992 AS DOUBLE)) * (CAST(((s1) - ((s1) % 9007199254740992)) // 9007199254740992 AS DOUBLE) * 9007199254740992.0 + CAST((s1) % 9007199254740992 AS DOUBLE))
              * (CAST(((s1) - ((s1) % 9007199254740992)) // 9007199254740992 AS DOUBLE) * 9007199254740992.0 + CAST((s1) % 9007199254740992 AS DOUBLE)))
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              * CAST(n AS DOUBLE)) AS m4_cents
    FROM s ORDER BY c_mktsegment
    """,
    doc=(
        "Higher-moment profiling (variance, third and fourth central "
        "moments — the skewness/kurtosis numerators) from exact "
        "integer power sums: balances quantize to cents, s1..s4 "
        "accumulate in decimal(38,0)/HUGEINT — order-independent and "
        "overflow-free to ~1e38 — and the central-moment algebra runs "
        "as one identical IEEE expression tree per group. The "
        "streaming skewness()/kurtosis() built-ins are accumulation-"
        "order-dependent doubles and can never hash-match across "
        "engines; power sums are the mergeable, partial+final form "
        "that can (and the right rollup state at 100 TB). Sums above "
        "2^53 convert to double via the two-limb split "
        "(functions/exact.int_to_double): DuckDB's huge-integer cast "
        "double-rounds where Spark's BigDecimal path is correctly "
        "rounded, so the naive CAST mismatches in the last ulps."
    ),
    tags=("aggregation", "profiling", "customer", "statistics"),
)
def agg_skew_kurtosis_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("v"),
    )
    d38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    v = F.col("v")
    s = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d38(v)).cast("decimal(38,0)").alias("s1"),
        F.sum(d38(v) * v).cast("decimal(38,0)").alias("s2"),
        F.sum(d38(v) * v * v).cast("decimal(38,0)").alias("s3"),
        F.sum(d38(v) * v * v * v).cast("decimal(38,0)").alias("s4"),
    )
    from dmi_ingestor_spark.functions.exact import int_to_double

    n = F.col("n").cast("double")
    s1 = int_to_double(F.col("s1"))
    s2 = int_to_double(F.col("s2"))
    s3 = int_to_double(F.col("s3"))
    s4 = int_to_double(F.col("s4"))
    variance = (n * s2 - s1 * s1) / (n * n) / F.lit(10000.0)
    m3 = (n * n * s3 - F.lit(3.0) * n * s1 * s2 + F.lit(2.0) * s1 * s1 * s1) / (
        n * n * n
    )
    m4 = (
        n * n * n * s4
        - F.lit(4.0) * n * n * s1 * s3
        + F.lit(6.0) * n * s1 * s1 * s2
        - F.lit(3.0) * s1 * s1 * s1 * s1
    ) / (n * n * n * n)
    return s.select(
        "c_mktsegment",
        "n",
        variance.alias("variance_pop"),
        m3.alias("m3_cents"),
        m4.alias("m4_cents"),
    ).orderBy("c_mktsegment")


# --------------------------------------------------------------------------
# Weighted median (lower weighted percentile) per group
# --------------------------------------------------------------------------


@register(
    "agg_weighted_median",
    oracle="""
    WITH w AS (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             CAST(c_custkey % 7 + 1 AS BIGINT) AS wt
      FROM customer
    ),
    cum AS (
      SELECT c_mktsegment, c_custkey, c_acctbal, wt,
             SUM(wt) OVER (PARTITION BY c_mktsegment
                           ORDER BY c_acctbal, c_custkey
                           ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(wt) OVER (PARTITION BY c_mktsegment) AS tw
      FROM w
    )
    SELECT c_mktsegment,
           MIN(c_acctbal) AS weighted_median,
           CAST(MIN(tw) AS BIGINT) AS total_weight
    FROM cum WHERE 2 * cw >= tw
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    doc=(
        "Weighted median per segment: smallest value whose cumulative "
        "weight reaches half the group total (2*cum >= total in pure "
        "integers — no 0.5 doubles anywhere). Weights are a "
        "deterministic function of the key so the oracle reproduces "
        "them. One per-group window pass ordered by (value, key) — "
        "partitions parallelize across groups; for the single-group "
        "case at 100 TB use the histogram-selection form "
        "(agg_exact_median_twopass) which never materializes a "
        "full-group ordering."
    ),
    tags=("aggregation", "percentile", "customer"),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        (F.col("c_custkey") % 7 + 1).cast("long").alias("wt"),
    )
    w_cum = (
        Window.partitionBy("c_mktsegment")
        .orderBy("c_acctbal", "c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("c_mktsegment")
    cum = c.select(
        "c_mktsegment",
        "c_acctbal",
        F.sum("wt").over(w_cum).alias("cw"),
        F.sum("wt").over(w_tot).alias("tw"),
    )
    return (
        cum.where(2 * F.col("cw") >= F.col("tw"))
        .groupBy("c_mktsegment")
        .agg(
            F.min("c_acctbal").alias("weighted_median"),
            F.min("tw").cast("long").alias("total_weight"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Shannon entropy of categorical distributions (profiling / quality signal)
# --------------------------------------------------------------------------


@register(
    "agg_entropy_exact",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id % 4 AS cohort, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, cohort
    ),
    t AS (
      SELECT cohort, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY cohort
    )
    SELECT c.cohort,
           CAST(COUNT(*) AS BIGINT) AS n_categories,
           CAST(MIN(t.tot) AS BIGINT) AS n_events,
           ROUND(SUM(ROUND(-(CAST(c.n AS DOUBLE) / t.tot)
                           * ln(CAST(c.n AS DOUBLE) / t.tot), 9)), 6)
             AS entropy_nats
    FROM c JOIN t ON c.cohort = t.cohort
    GROUP BY c.cohort ORDER BY c.cohort
    """,
    doc=(
        "Shannon entropy of the event-type distribution per user "
        "cohort — the category-concentration signal used for corpus "
        "diversity checks and drift alarms (a collapsing distribution "
        "drops entropy). Per-category terms are computed on the TINY "
        "(cohort x category) relation from broadcast totals; each "
        "-p*ln(p) term quantizes to 9dp BEFORE the sum (ln is not "
        "correctly-rounded, and summing raw doubles would be "
        "order-dependent) and the per-cohort sum of a handful of "
        "quantized terms rounds to 6dp — deterministic on both "
        "engines. Scale cost is one (category,cohort)-grain aggregate."
    ),
    tags=("aggregation", "profiling", "entropy", "events"),
)
def agg_entropy_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type", (F.col("user_id") % 4).alias("cohort")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = c.groupBy("cohort").agg(F.sum("n").cast("long").alias("tot"))
    p = F.col("n").cast("double") / F.col("tot")
    term = F.round(-p * F.log(p), 9)
    return (
        c.join(F.broadcast(t), "cohort")
        .groupBy("cohort")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_categories"),
            F.min("tot").cast("long").alias("n_events"),
            F.round(F.sum(term), 6).alias("entropy_nats"),
        )
        .orderBy("cohort")
    )


# --------------------------------------------------------------------------
# Robust outlier detection: median absolute deviation (MAD) clip
# --------------------------------------------------------------------------


@register(
    "transform_outlier_mad",
    oracle="""
    WITH c AS (
      SELECT c_mktsegment, c_custkey,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS v
      FROM customer
    ),
    med AS (
      SELECT c_mktsegment, MIN(v) AS med FROM (
        SELECT c_mktsegment, v,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY v, c_custkey) AS r,
               COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM c
      ) WHERE r = (n + 1) // 2 GROUP BY c_mktsegment
    ),
    dev AS (
      SELECT c.c_mktsegment, c.c_custkey, c.v, abs(c.v - med.med) AS d,
             med.med
      FROM c JOIN med ON c.c_mktsegment = med.c_mktsegment
    ),
    mad AS (
      SELECT c_mktsegment, MIN(d) AS mad FROM (
        SELECT c_mktsegment, d,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY d, c_custkey) AS r,
               COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM dev
      ) WHERE r = (n + 1) // 2 GROUP BY c_mktsegment
    )
    SELECT dev.c_mktsegment,
           CAST(MIN(dev.med) AS BIGINT) AS median_cents,
           CAST(MIN(mad.mad) AS BIGINT) AS mad_cents,
           CAST(COUNT(CASE WHEN dev.d > 3 * mad.mad THEN 1 END) AS BIGINT)
             AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM dev JOIN mad ON dev.c_mktsegment = mad.c_mktsegment
    GROUP BY dev.c_mktsegment ORDER BY dev.c_mktsegment
    """,
    doc=(
        "Robust outlier detection via Median Absolute Deviation: "
        "|x - median| > 3*MAD flags outliers without the "
        "mean/stddev's sensitivity to the outliers themselves — the "
        "data-cleaning standard before winsorizing "
        "(transform_winsorize_values is its quantile cousin). Two "
        "median selections (lower-median, (n+1)/2) run as per-group "
        "windows parallelized across segments; all arithmetic is "
        "integer cents, so the 3*MAD comparison is exact. For a "
        "single giant group, swap the windows for the histogram "
        "selection of agg_exact_median_twopass."
    ),
    tags=("aggregation", "robust-stats", "customer", "cleaning"),
)
def transform_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("v"),
    )

    def lower_median(df, val):
        wr = Window.partitionBy("c_mktsegment").orderBy(val, "c_custkey")
        wn = Window.partitionBy("c_mktsegment")
        return (
            df.withColumn("r", F.row_number().over(wr))
            .withColumn("n", F.count(F.lit(1)).over(wn))
            .where(F.col("r") == F.floor((F.col("n") + 1) / 2))
            .groupBy("c_mktsegment")
            .agg(F.min(val).alias("m"))
        )

    med = lower_median(c, "v").withColumnRenamed("m", "med")
    dev = c.join(F.broadcast(med), "c_mktsegment").select(
        "c_mktsegment",
        "c_custkey",
        "med",
        F.abs(F.col("v") - F.col("med")).alias("d"),
    )
    mad = lower_median(dev, "d").withColumnRenamed("m", "mad")
    return (
        dev.join(F.broadcast(mad), "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.min("med").cast("long").alias("median_cents"),
            F.min("mad").cast("long").alias("mad_cents"),
            F.count(F.when(F.col("d") > 3 * F.col("mad"), 1))
            .cast("long")
            .alias("n_outliers"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Gini coefficient of spend concentration (corpus/revenue balance metric)
# --------------------------------------------------------------------------


@register(
    "agg_gini_coefficient",
    oracle="""
    WITH c AS (
      SELECT c_mktsegment, c_custkey,
             CAST(ROUND((c_acctbal + 1000) * 100) AS BIGINT) AS v
      FROM customer
    ),
    ranked AS (
      SELECT c_mktsegment, v,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY v, c_custkey) AS r
      FROM c
    ),
    s AS (
      SELECT c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS sv,
             CAST(SUM(r * v) AS BIGINT) AS srv
      FROM ranked GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, n,
           (2.0 * CAST(srv AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(sv AS DOUBLE)))
           - (CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE)) AS gini
    FROM s ORDER BY c_mktsegment
    """,
    doc=(
        "Gini coefficient of account-balance concentration per "
        "segment — the inequality metric used for corpus source "
        "balance and revenue concentration audits (0 = uniform, 1 = "
        "winner-take-all). Computed by the rank formula G = "
        "2*Sum(i*x_i)/(n*Sum(x)) - (n+1)/n over integer cents "
        "(shifted positive), with the rank assigned by a per-group "
        "window — parallel across groups; the sums are exact BIGINT, "
        "so the two final divisions are the only doubles. For one "
        "giant group, ranks come from the histogram-cumsum trick "
        "(agg_exact_median_twopass) instead of a window."
    ),
    tags=("aggregation", "profiling", "customer", "inequality"),
)
def agg_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        F.round((F.col("c_acctbal") + 1000) * 100).cast("long").alias("v"),
    )
    w = Window.partitionBy("c_mktsegment").orderBy("v", "c_custkey")
    ranked = c.select(
        "c_mktsegment", "v", F.row_number().over(w).alias("r")
    )
    s = ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("sv"),
        F.sum(F.col("r") * F.col("v")).cast("long").alias("srv"),
    )
    n_d = F.col("n").cast("double")
    gini = (
        F.lit(2.0) * F.col("srv").cast("double") / (n_d * F.col("sv").cast("double"))
    ) - ((F.col("n") + 1).cast("double") / n_d)
    return s.select("c_mktsegment", "n", gini.alias("gini")).orderBy(
        "c_mktsegment"
    )


# --------------------------------------------------------------------------
# Autocorrelation function of a monthly series (exact sufficient stats)
# --------------------------------------------------------------------------

_ACF_MAX_LAG = 6


@register(
    "ts_autocorrelation",
    oracle=f"""
    WITH m AS (
      SELECT EXTRACT(YEAR FROM o_orderdate) * 12
             + EXTRACT(MONTH FROM o_orderdate) AS mnum,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM orders GROUP BY mnum
    ),
    lagged AS (
      SELECT a.mnum, CAST(k AS BIGINT) AS lag_k, a.y AS y0, b.y AS yk
      FROM m a
      CROSS JOIN UNNEST(generate_series(1, {_ACF_MAX_LAG})) AS u(k)
      JOIN m b ON b.mnum = a.mnum + k
    ),
    s AS (
      SELECT lag_k, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y0) AS BIGINT) AS s0, CAST(SUM(yk) AS BIGINT) AS sk,
             CAST(SUM(y0 * yk) AS BIGINT) AS s0k,
             CAST(SUM(y0 * y0) AS BIGINT) AS s00,
             CAST(SUM(yk * yk) AS BIGINT) AS skk
      FROM lagged GROUP BY lag_k
    )
    SELECT lag_k, n,
           (CAST(n AS DOUBLE) * CAST(s0k AS DOUBLE)
            - CAST(s0 AS DOUBLE) * CAST(sk AS DOUBLE))
           / sqrt((CAST(n AS DOUBLE) * CAST(s00 AS DOUBLE)
                   - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(skk AS DOUBLE)
                     - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE)))
             AS acf
    FROM s ORDER BY lag_k
    """,
    doc=(
        "Autocorrelation function (lags 1..6) of the monthly order "
        "count series — the seasonality detector that justifies "
        "ts_seasonal_naive_mae's lag-12 model. The series is first "
        "reduced to month grain (one partial+final aggregate), so "
        "the lagged self-join and the per-lag Pearson sums run on "
        "O(months) rows; all sufficient statistics are exact BIGINT "
        "and the correlation is one identical IEEE tree per lag "
        "(same pattern as analytics_price_trend_ols). At 100 TB the "
        "only full-scan stage is the month rollup."
    ),
    tags=("timeseries", "statistics", "orders"),
)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mnum")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    lags = F.explode(
        F.array(*[F.lit(k) for k in range(1, _ACF_MAX_LAG + 1)])
    ).alias("lag_k")
    a = m.select(F.col("mnum"), F.col("y").alias("y0")).select(
        "mnum", "y0", lags
    )
    b = m.select(
        F.col("mnum").alias("bmnum"), F.col("y").alias("yk")
    )
    lagged = a.join(
        F.broadcast(b),
        F.col("bmnum") == F.col("mnum") + F.col("lag_k"),
    )
    s = lagged.groupBy("lag_k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y0").cast("long").alias("s0"),
        F.sum("yk").cast("long").alias("sk"),
        F.sum(F.col("y0") * F.col("yk")).cast("long").alias("s0k"),
        F.sum(F.col("y0") * F.col("y0")).cast("long").alias("s00"),
        F.sum(F.col("yk") * F.col("yk")).cast("long").alias("skk"),
    )
    n_d = F.col("n").cast("double")
    num = n_d * F.col("s0k").cast("double") - F.col("s0").cast(
        "double"
    ) * F.col("sk").cast("double")
    den = F.sqrt(
        (n_d * F.col("s00").cast("double")
         - F.col("s0").cast("double") * F.col("s0").cast("double"))
        * (n_d * F.col("skk").cast("double")
           - F.col("sk").cast("double") * F.col("sk").cast("double"))
    )
    return (
        s.select(
            F.col("lag_k").cast("long").alias("lag_k"),
            "n",
            (num / den).alias("acf"),
        )
        .orderBy("lag_k")
    )


# --------------------------------------------------------------------------
# Benford's-law first-digit audit (fraud / fabricated-data detector)
# --------------------------------------------------------------------------

# expected first-digit shares, micro units: round(1e6 * log10(1 + 1/d)),
# computed at PLAN TIME in Python so both engines see identical literals
_BENFORD_MICRO = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def _benford_case_sql() -> str:
    whens = " ".join(
        f"WHEN {d} THEN {m}" for d, m in _BENFORD_MICRO.items()
    )
    return f"CASE first_digit {whens} END"


@register(
    "dq_benford_first_digit",
    oracle=f"""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS first_digit
      FROM orders WHERE o_totalprice > 0
    ),
    c AS (
      SELECT first_digit, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM d GROUP BY first_digit
    ),
    t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS total FROM c)
    SELECT first_digit, n_obs,
           CAST(1000000 * n_obs // t.total AS BIGINT) AS obs_micro,
           CAST({_benford_case_sql()} AS BIGINT) AS expected_micro,
           CAST(1000000 * n_obs // t.total
                - {_benford_case_sql()} AS BIGINT) AS dev_micro
    FROM c CROSS JOIN t ORDER BY first_digit
    """,
    doc=(
        "Benford's-law audit: the first-digit distribution of order "
        "amounts against the log10(1+1/d) expectation — the classic "
        "fabricated-data and fraud detector for naturally-spanning "
        "magnitudes. Expectations are PLAN-TIME Python literals "
        "(micro units), so no engine evaluates log10 at runtime; "
        "observed shares are integer micro via the broadcast total. "
        "One digit-grain aggregate over a scan-stage string head "
        "(cents form avoids float-format ambiguity). Lands in the "
        "dq family next to expectations/referential/freshness."
    ),
    tags=("dq", "audit", "benford", "orders"),
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    first_digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    ).cast("long")
    c = o.select(first_digit.alias("first_digit")).groupBy("first_digit").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs")
    )
    t = c.agg(F.sum("n_obs").cast("long").alias("total"))
    expected = F.coalesce(
        *[
            F.when(F.col("first_digit") == d, F.lit(m))
            for d, m in _BENFORD_MICRO.items()
        ]
    ).cast("long")
    obs = F.expr("CAST(div(1000000 * n_obs, total) AS BIGINT)")
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "first_digit",
            "n_obs",
            obs.alias("obs_micro"),
            expected.alias("expected_micro"),
            (obs - expected).alias("dev_micro"),
        )
        .orderBy("first_digit")
    )


# --------------------------------------------------------------------------
# CUSUM change-point detection (level-shift localization)
# --------------------------------------------------------------------------


@register(
    "ts_cusum_changepoint",
    oracle="""
    WITH m AS (
      SELECT EXTRACT(YEAR FROM o_orderdate) * 12
             + EXTRACT(MONTH FROM o_orderdate) AS mnum,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM orders GROUP BY mnum
    ),
    t AS (
      SELECT CAST(SUM(y) AS BIGINT) AS tot, CAST(COUNT(*) AS BIGINT) AS n
      FROM m
    ),
    c AS (
      SELECT m.mnum,
             CAST(t.n * SUM(m.y) OVER (ORDER BY m.mnum
                                       ROWS UNBOUNDED PRECEDING)
                  - (ROW_NUMBER() OVER (ORDER BY m.mnum)) * t.tot
                  AS BIGINT) AS s_scaled
      FROM m CROSS JOIN t
    )
    SELECT mnum AS changepoint_month, s_scaled,
           CAST(abs(s_scaled) AS BIGINT) AS abs_s
    FROM c
    ORDER BY abs(s_scaled) DESC, mnum
    LIMIT 1
    """,
    doc=(
        "CUSUM change-point localization on the monthly order series: "
        "the month maximizing |cumulative deviation from the global "
        "mean| is the level-shift point (Page 1954). The mean never "
        "materializes as a float — the statistic is scaled by n "
        "(S'_k = n*prefix_sum - k*total, exact BIGINT), so detection "
        "is pure integer arithmetic. The prefix window runs over the "
        "O(months) summary with a 1-row broadcast total; at 100 TB "
        "only the month rollup touches the facts. Completes the "
        "monitoring set: rolling z (is NOW an outlier) -> PSI (did "
        "the distribution drift) -> CUSUM (WHEN did the level shift)."
    ),
    tags=("timeseries", "monitoring", "changepoint", "orders"),
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mnum")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    t = m.agg(
        F.sum("y").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    w = Window.orderBy("mnum").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wr = Window.orderBy("mnum")
    c = m.crossJoin(F.broadcast(t)).select(
        "mnum",
        (
            F.col("n") * F.sum("y").over(w)
            - F.row_number().over(wr) * F.col("tot")
        )
        .cast("long")
        .alias("s_scaled"),
    )
    return (
        c.select("mnum", "s_scaled", F.abs("s_scaled").cast("long").alias("abs_s"))
        .orderBy(F.col("abs_s").desc(), "mnum")
        .limit(1)
        .select(
            F.col("mnum").alias("changepoint_month"), "s_scaled", "abs_s"
        )
    )


# --------------------------------------------------------------------------
# Herfindahl-Hirschman concentration index
# --------------------------------------------------------------------------


@register(
    "agg_hhi_concentration",
    oracle="""
    WITH rev AS (
      SELECT c.c_nationkey,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey
    ),
    t AS (SELECT CAST(SUM(cents) AS BIGINT) AS tot FROM rev)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_players,
           CAST(SUM(CAST(10000 * cents // t.tot AS BIGINT)
                    * CAST(10000 * cents // t.tot AS BIGINT)) AS BIGINT)
             AS hhi_bp2,
           CAST(MAX(10000 * cents // t.tot) AS BIGINT) AS top_share_bp
    FROM rev CROSS JOIN t
    GROUP BY t.tot
    """,
    doc=(
        "Herfindahl-Hirschman concentration index over nation revenue "
        "shares — the market-concentration number regulators and "
        "marketplace teams watch (10000 = monopoly, ~0 = atomized), "
        "and the squared-shares cousin of agg_gini_coefficient and "
        "analytics_revenue_concentration. Shares quantize to basis "
        "points against the broadcast total, HHI is the exact integer "
        "sum of squared shares. One group-grain aggregate + a 1-row "
        "total."
    ),
    tags=("aggregation", "concentration", "orders", "customer"),
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    t = rev.agg(F.sum("cents").cast("long").alias("tot"))
    share_bp = F.expr("CAST(div(10000 * cents, tot) AS BIGINT)")
    return (
        rev.crossJoin(F.broadcast(t))
        .groupBy("tot")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_players"),
            F.sum(share_bp * share_bp).cast("long").alias("hhi_bp2"),
            F.max(share_bp).cast("long").alias("top_share_bp"),
        )
        .select("n_players", "hhi_bp2", "top_share_bp")
    )


# --------------------------------------------------------------------------
# On-balance-volume style signed cumulative indicator
# --------------------------------------------------------------------------


@register(
    "ts_obv_indicator",
    oracle="""
    WITH m AS (
      SELECT EXTRACT(YEAR FROM o_orderdate) * 12
             + EXTRACT(MONTH FROM o_orderdate) AS mnum,
             CAST(COUNT(*) AS BIGINT) AS vol,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY mnum
    ),
    sgn AS (
      SELECT mnum, vol, cents,
             CASE WHEN cents > lag(cents) OVER (ORDER BY mnum) THEN 1
                  WHEN cents < lag(cents) OVER (ORDER BY mnum) THEN -1
                  ELSE 0 END AS s
      FROM m
    )
    SELECT mnum,
           CAST(SUM(s * vol) OVER (ORDER BY mnum
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS obv
    FROM sgn
    """,
    doc=(
        "On-balance volume, the classic signed cumulative flow "
        "indicator: each month's order volume adds with the SIGN of "
        "the revenue change versus the prior month — rising-revenue "
        "volume accumulates, falling-revenue volume drains — the "
        "momentum/divergence signal technical analysis runs on any "
        "(price, volume) pair. Lag + prefix-sum windows over the "
        "O(months) summary; all integers. The facts are touched once "
        "by the month rollup, like every ts_* query here."
    ),
    tags=("timeseries", "indicator", "orders"),
)
def ts_obv_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mnum")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("vol"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )
    wl = Window.orderBy("mnum")
    prev = F.lag("cents").over(wl)
    s = (
        F.when(F.col("cents") > prev, 1)
        .when(F.col("cents") < prev, -1)
        .otherwise(0)
    )
    ws = Window.orderBy("mnum").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return m.select("mnum", s.alias("s"), "vol").select(
        "mnum",
        F.sum(F.col("s") * F.col("vol")).over(ws).cast("long").alias("obv"),
    )


# --------------------------------------------------------------------------
# Wald–Wolfowitz runs test statistic (sequence-randomness audit)
# --------------------------------------------------------------------------


@register(
    "ts_runs_test",
    oracle="""
    WITH m AS (
      SELECT EXTRACT(YEAR FROM o_orderdate) * 12
             + EXTRACT(MONTH FROM o_orderdate) AS mnum,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM orders GROUP BY mnum
    ),
    med AS (
      SELECT MIN(y) AS med FROM (
        SELECT y, ROW_NUMBER() OVER (ORDER BY y, mnum) AS r,
               COUNT(*) OVER () AS n
        FROM m
      ) WHERE r = (n + 1) // 2
    ),
    signs AS (
      SELECT m.mnum,
             CASE WHEN m.y > med.med THEN 1 ELSE 0 END AS above
      FROM m CROSS JOIN med
    ),
    flips AS (
      SELECT above,
             CASE WHEN lag(above) OVER (ORDER BY mnum) IS NULL THEN 1
                  WHEN above <> lag(above) OVER (ORDER BY mnum) THEN 1
                  ELSE 0 END AS new_run
      FROM signs
    )
    SELECT CAST(SUM(new_run) AS BIGINT) AS n_runs,
           CAST(SUM(above) AS BIGINT) AS n_above,
           CAST(COUNT(*) - SUM(above) AS BIGINT) AS n_below_or_eq
    FROM flips
    """,
    doc=(
        "Wald-Wolfowitz runs count on the monthly series (above vs "
        "not-above the median): too FEW runs means trending/level-"
        "shifted data, too MANY means oscillation or alternating "
        "fabrication — the sequence-randomness audit next to "
        "dq_benford_first_digit (digit fabrication) and "
        "ts_cusum_changepoint (shift location). Median by exact "
        "lower-median selection, run boundaries by one lag window "
        "over the O(months) summary, all integers; the consumer "
        "compares n_runs against the 2*n_a*n_b/n expectation."
    ),
    tags=("timeseries", "dq", "randomness", "orders"),
)
def ts_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mnum")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    wr = Window.orderBy("y", "mnum")
    wn = Window.partitionBy()
    med = (
        m.withColumn("r", F.row_number().over(wr))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .where(F.col("r") == F.floor((F.col("n") + 1) / 2))
        .agg(F.min("y").alias("med"))
    )
    signs = m.crossJoin(F.broadcast(med)).select(
        "mnum", F.when(F.col("y") > F.col("med"), 1).otherwise(0).alias("above")
    )
    wl = Window.orderBy("mnum")
    prev = F.lag("above").over(wl)
    new_run = (
        F.when(prev.isNull(), 1)
        .when(F.col("above") != prev, 1)
        .otherwise(0)
    )
    flips = signs.select("above", new_run.alias("new_run"))
    return flips.agg(
        F.sum("new_run").cast("long").alias("n_runs"),
        F.sum("above").cast("long").alias("n_above"),
        (F.count(F.lit(1)) - F.sum("above")).cast("long").alias("n_below_or_eq"),
    )


# --------------------------------------------------------------------------
# Maximum drawdown (peak-to-trough of a cumulative series)
# --------------------------------------------------------------------------


@register(
    "ts_max_drawdown",
    oracle="""
    WITH m AS (
      SELECT EXTRACT(YEAR FROM o_orderdate) * 12
             + EXTRACT(MONTH FROM o_orderdate) AS mnum,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  - 70000000 AS BIGINT) AS net_cents
      FROM orders GROUP BY mnum
    ),
    cum AS (
      SELECT mnum,
             CAST(SUM(net_cents) OVER (ORDER BY mnum
                                       ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS equity
      FROM m
    ),
    dd AS (
      SELECT mnum, equity,
             CAST(MAX(equity) OVER (ORDER BY mnum
                                    ROWS UNBOUNDED PRECEDING)
                  - equity AS BIGINT) AS drawdown
      FROM cum
    )
    SELECT CAST(MAX(drawdown) AS BIGINT) AS max_drawdown_cents,
           CAST(MIN(CASE WHEN drawdown = mdd THEN mnum END) AS BIGINT)
             AS trough_month
    FROM (SELECT *, MAX(drawdown) OVER () AS mdd FROM dd)
    """,
    doc=(
        "Maximum drawdown — the worst peak-to-trough fall of a "
        "cumulative series (here monthly net revenue against a fixed "
        "baseline), the risk number every treasury/capacity dashboard "
        "carries next to the OBV momentum view. Running-max-minus-"
        "current over the prefix-summed month series, argmin by "
        "earliest trough — two prefix windows on O(months) rows, all "
        "integer cents; the facts are scanned once by the month "
        "rollup."
    ),
    tags=("timeseries", "risk", "orders"),
)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mnum")
    ).agg(
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            - F.lit(70000000)
        )
        .cast("long")
        .alias("net_cents")
    )
    wp = Window.orderBy("mnum").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = m.select("mnum", F.sum("net_cents").over(wp).alias("equity"))
    dd = cum.select(
        "mnum",
        (F.max("equity").over(wp) - F.col("equity")).alias("drawdown"),
    )
    wall = Window.partitionBy()
    return (
        dd.withColumn("mdd", F.max("drawdown").over(wall))
        .agg(
            F.max("drawdown").cast("long").alias("max_drawdown_cents"),
            F.min(
                F.when(F.col("drawdown") == F.col("mdd"), F.col("mnum"))
            )
            .cast("long")
            .alias("trough_month"),
        )
    )


# ---------------------------------------------------------------------------
# Holt's linear-trend double-exponential smoothing (forecast primitive)
# ---------------------------------------------------------------------------


def _tdiv(x: int, d: int) -> int:
    """Integer division truncating toward zero, as Spark's
    ``((x - x % d) / d).cast("long")`` and DuckDB's BIGINT ``//``
    (Python's ``//`` floors instead)."""
    q = abs(x) // abs(d)
    return q if (x < 0) == (d < 0) else -q


@register(
    "ts_holt_linear_smoothing",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT
        CAST(EXTRACT(YEAR FROM o_orderdate) * 12
             + EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mnum,
        CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    m AS (
      SELECT mnum, y, ROW_NUMBER() OVER (ORDER BY mnum) AS rn FROM base
    ),
    hw(rn, mnum, y, l, b, fitted) AS (
      SELECT m1.rn, m1.mnum, m1.y, m1.y, m2.y - m1.y, m1.y
      FROM m m1 JOIN m m2 ON m1.rn = 1 AND m2.rn = 2
      UNION ALL
      SELECT m.rn, m.mnum, m.y,
             (m.y + 3 * (hw.l + hw.b)) // 4,
             (((m.y + 3 * (hw.l + hw.b)) // 4) - hw.l + 3 * hw.b) // 4,
             hw.l + hw.b
      FROM hw JOIN m ON m.rn = hw.rn + 1
    )
    SELECT mnum, y, l AS level_c, b AS trend_c, fitted AS forecast_c
    FROM hw
    """,
    doc=(
        "Holt's linear-trend double-exponential smoothing over the "
        "monthly revenue series (alpha = beta = 1/4 in exact integer "
        "arithmetic: both engines' integer division truncates toward "
        "zero, pinned by ml_logreg_gradient_step). The monthly sums "
        "are the only corpus-sized work; the recurrence is one "
        "fold_series loop over the sorted month series (one Python "
        "step per month, O(months), exact Python ints), emitting the "
        "per-month state. The oracle is a recursive CTE computing the "
        "identical recurrence — a hash-checked iterative forecast. "
        "Fewer than two months emit no rows. forecast_c is the "
        "one-step-ahead prediction l+b from the previous month."
    ),
    tags=("timeseries", "iterative", "forecast", "orders"),
)
def ts_holt_linear_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("mnum")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )

    def holt(_key, rows):
        if len(rows) < 2:  # the recurrence starts from two months
            return []
        (m0, y0), (_, y1) = rows[:2]
        level, trend = y0, y1 - y0
        out = [(m0, y0, level, trend, level)]
        for mnum, y in rows[1:]:
            l_new = _tdiv(y + 3 * (level + trend), 4)
            b_new = _tdiv(l_new - level + 3 * trend, 4)
            out.append((mnum, y, l_new, b_new, level + trend))
            level, trend = l_new, b_new
        return out

    return fold_series(
        m, [], "mnum", ["y"],
        "mnum long, y long, level_c long, trend_c long, forecast_c long",
        holt,
    )


# ---------------------------------------------------------------------------
# HyperLogLog from scratch — exact-math, cross-engine hash-checkable
# ---------------------------------------------------------------------------


@register(
    "agg_hll_custom_sketch",
    oracle="""
    WITH h AS (
      SELECT CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h60
      FROM orders
    ),
    rw AS (
      SELECT h60 % 64 AS reg,
             (h60 // 64) % 1099511627776 AS w
      FROM h
    ),
    ranks AS (
      SELECT reg,
             CASE WHEN w > 0 THEN 40 - LENGTH(bin(w)) + 1 ELSE 41 END AS rho
      FROM rw
    ),
    regs AS (SELECT reg, MAX(rho) AS m FROM ranks GROUP BY reg),
    den AS (
      SELECT
        CAST(SUM(1::BIGINT << CAST(40 - m AS INTEGER)) AS BIGINT)
          + (64 - COUNT(*)) * 1099511627776 AS denom_scaled,
        CAST(64 - COUNT(*) AS BIGINT) AS v_zero
      FROM regs
    ),
    truth AS (
      SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
      FROM orders
    )
    SELECT
      CAST(64 AS BIGINT) AS n_registers,
      d.v_zero,
      CAST(d.denom_scaled AS BIGINT) AS denom_scaled,
      CAST(FLOOR(0.709 * 4096 * 1099511627776 / d.denom_scaled) AS BIGINT)
        AS hll_estimate,
      t.exact_distinct
    FROM den d, truth t
    """,
    doc=(
        "HyperLogLog implemented from scratch (Flajolet et al. 2007) "
        "with every intermediate CROSS-ENGINE EXACT, making the sketch "
        "itself hash-checkable — unlike approx_count_distinct, whose "
        "engine-private hashing forces rows-only: the 60-bit md5-derived "
        "hash splits into a 6-bit register and a 40-bit suffix; the "
        "leading-zero rank is integer (LENGTH(bin(w)) — no float log); "
        "per-register maxima aggregate partial+final; the harmonic "
        "denominator is a sum of powers of two at fixed scale 2^40 "
        "(dyadic — BIGINT-exact); and the final alpha*m^2/denom is one "
        "IEEE multiply-divide-floor both engines evaluate bit-"
        "identically. Output includes the exact distinct for the error "
        "readout. At 100 TB the mergeable form is the same per-register "
        "max — a 64-row state per partition."
    ),
    tags=("agg", "sketch", "approx", "orders", "scale"),
)
def agg_hll_custom_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    h60 = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15), 16, 10
    ).cast("long")
    rw = o.select(
        (h60 % 64).alias("reg"),
        F.expr(
            "mod(div(conv(substr(md5(cast(o_custkey as string)), 1, 15), 16, 10)"
            ", 64), 1099511627776)"
        )
        .cast("long")
        .alias("w"),
    )
    ranks = rw.select(
        "reg",
        F.when(
            F.col("w") > 0, 40 - F.length(F.bin(F.col("w"))) + 1
        )
        .otherwise(41)
        .alias("rho"),
    )
    regs = ranks.groupBy("reg").agg(F.max("rho").alias("m"))
    den = regs.agg(
        (
            F.sum(F.expr("shiftleft(cast(1 as bigint), int(40 - m))"))
            + (64 - F.count(F.lit(1))) * F.lit(1099511627776)
        )
        .cast("long")
        .alias("denom_scaled"),
        (64 - F.count(F.lit(1))).cast("long").alias("v_zero"),
    )
    truth = o.agg(
        F.count_distinct("o_custkey").cast("long").alias("exact_distinct")
    )
    return (
        den.crossJoin(F.broadcast(truth))
        .select(
            F.lit(64).cast("long").alias("n_registers"),
            "v_zero",
            "denom_scaled",
            F.floor(
                F.lit(0.709) * 4096 * 1099511627776 / F.col("denom_scaled")
            )
            .cast("long")
            .alias("hll_estimate"),
            "exact_distinct",
        )
    )


# ---------------------------------------------------------------------------
# Classical seasonal decomposition (additive, month-of-year indices)
# ---------------------------------------------------------------------------


@register(
    "ts_seasonal_decompose_lite",
    oracle="""
    WITH m AS (
      SELECT
        CAST(EXTRACT(YEAR FROM o_orderdate) * 12
             + EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mnum,
        CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS moy,
        CAST(COUNT(*) AS BIGINT) AS y
      FROM orders GROUP BY 1, 2
    ),
    seas AS (
      SELECT moy, CAST(SUM(y) // COUNT(*) AS BIGINT) AS moy_avg FROM m
      GROUP BY moy
    ),
    grand AS (SELECT CAST(SUM(y) // COUNT(*) AS BIGINT) AS g FROM m)
    SELECT m.mnum, m.moy, m.y,
           s.moy_avg,
           CAST(s.moy_avg - g.g AS BIGINT) AS seasonal_index,
           CAST(m.y - (s.moy_avg - g.g) AS BIGINT) AS deseasonalized
    FROM m JOIN seas s ON s.moy = m.moy CROSS JOIN grand g
    """,
    doc=(
        "Additive seasonal decomposition, classical month-of-year "
        "index form: the monthly series reduces once, per-calendar-"
        "month averages minus the grand mean give the seasonal "
        "indices, and subtracting them deseasonalizes the series — "
        "the pre-STL adjustment every capacity/forecast dashboard "
        "applies. Three bounded aggregates (month grain, 12-row "
        "seasonal table broadcast, 1-row grand mean broadcast); "
        "integer floor-averages keep it hash-exact. Complements "
        "ts_seasonal_naive_mae (backtest) and ts_holt_linear_smoothing "
        "(trend recursion)."
    ),
    tags=("timeseries", "forecast", "orders"),
)
def ts_seasonal_decompose_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("mnum"),
        F.month("o_orderdate").cast("long").alias("moy"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    seas = m.groupBy("moy").agg(
        F.expr("div(sum(y), count(1))").cast("long").alias("moy_avg")
    )
    grand = m.agg(F.expr("div(sum(y), count(1))").cast("long").alias("g"))
    return (
        m.join(F.broadcast(seas), "moy")
        .crossJoin(F.broadcast(grand))
        .select(
            "mnum",
            "moy",
            "y",
            "moy_avg",
            (F.col("moy_avg") - F.col("g")).cast("long").alias("seasonal_index"),
            (F.col("y") - (F.col("moy_avg") - F.col("g")))
            .cast("long")
            .alias("deseasonalized"),
        )
    )


@register(
    "agg_histogram_log_bins",
    oracle="""
    WITH t AS (
      SELECT CAST(round(o_totalprice) AS BIGINT) AS v FROM orders
    ),
    binned AS (
      SELECT v,
             CASE WHEN v <= 0 THEN -1
                  ELSE LENGTH(bin(v)) - 1 END AS log2_bin
      FROM t
    )
    SELECT CAST(log2_bin AS BIGINT) AS log2_bin,
           CAST(1::BIGINT << CAST(GREATEST(log2_bin, 0) AS INTEGER) AS BIGINT)
             AS bin_lo,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(v) AS BIGINT) AS min_v,
           CAST(MAX(v) AS BIGINT) AS max_v
    FROM binned
    GROUP BY log2_bin
    ORDER BY log2_bin
    """,
    doc=(
        "Power-of-two (log2-spaced) histogram of order values — the "
        "bucket scheme every latency/size observability system uses "
        "(HdrHistogram-lite): the bin index floor(log2(v)) computes "
        "EXACTLY as the bit length of the integer (LENGTH(bin(v))-1 on "
        "both engines), so no float log enters and the histogram is "
        "hash-checked. Map-side bin + one bounded aggregate (at most "
        "64 bins regardless of input size) — the O(1)-state "
        "alternative to exact equi-frequency binning when only the "
        "distribution's shape matters at 100 TB."
    ),
    tags=("agg", "histogram", "scale"),
)
def agg_histogram_log_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    v = F.round("o_totalprice").cast("long")
    log2_bin = F.when(v <= 0, F.lit(-1)).otherwise(
        F.length(F.bin(v)) - 1
    ).cast("long")
    return (
        o.select(v.alias("v"), log2_bin.alias("log2_bin"))
        .groupBy("log2_bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .select(
            "log2_bin",
            F.expr(
                "shiftleft(cast(1 as bigint), int(greatest(log2_bin, 0)))"
            ).alias("bin_lo"),
            "n",
            "min_v",
            "max_v",
        )
        .orderBy("log2_bin")
    )


# --------------------------------------------------------------------------
# SAX symbolization (PAA + gaussian breakpoints), bit-exact doubles
# --------------------------------------------------------------------------


@register(
    "ts_sax_symbolize",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, value,
             NTILE(4) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS seg
      FROM events
    ),
    stats AS (
      SELECT user_id,
             {sql_dec_to_double("SUM(CAST(value AS DECIMAL(22,8)))")}
               / COUNT(*) AS mu_pre,
             {sql_dec_to_double("SUM(CAST(value AS DECIMAL(22,8)) * CAST(value AS DECIMAL(22,8)))")}
               / COUNT(*) AS m2
      FROM ordered GROUP BY user_id
    ),
    paa AS (
      SELECT user_id, seg,
             {sql_dec_to_double("SUM(CAST(value AS DECIMAL(22,8)))")}
               / COUNT(*) AS paa_mean
      FROM ordered GROUP BY user_id, seg
    ),
    z AS (
      SELECT p.user_id, p.seg,
             (p.paa_mean - s.mu_pre)
               / sqrt(s.m2 - s.mu_pre * s.mu_pre) AS zval
      FROM paa p JOIN stats s ON p.user_id = s.user_id
    ),
    sym AS (
      SELECT user_id, seg,
             CASE WHEN zval < -0.6745 THEN 'a'
                  WHEN zval < 0.0 THEN 'b'
                  WHEN zval < 0.6745 THEN 'c'
                  ELSE 'd' END AS symbol
      FROM z
    )
    SELECT user_id,
           string_agg(symbol, '' ORDER BY seg) AS sax_word
    FROM sym GROUP BY user_id ORDER BY user_id
    """,
    doc=(
        "SAX (Symbolic Aggregate approXimation) of each user's event "
        "value series: z-normalize per series, Piecewise Aggregate "
        "Approximation into 4 equal-count segments (ntile over the "
        "time order), then map each segment mean to an alphabet-4 "
        "symbol at the standard gaussian breakpoints (+-0.6745, 0). "
        "The time-series indexing/motif primitive (Lin et al. 2003). "
        "Bit-exact double parity WITHOUT integer scaling: all sums go "
        "through exact decimal accumulation, and the downstream "
        "mean/variance/sqrt/divide tree is written identically on "
        "both engines — IEEE-754 ops (incl. sqrt) are correctly "
        "rounded, so identical inputs + identical formula = identical "
        "bits. Scale shape: one user-partitioned window + two grouped "
        "aggregates; no cross-series state."
    ),
    tags=("timeseries", "sax", "events"),
)
def ts_sax_symbolize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    ordered = ev.select(
        "user_id",
        "value",
        F.ntile(4)
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("seg"),
    )
    vdec = F.col("value").cast(DEC)
    stats = ordered.groupBy("user_id").agg(
        (dec_to_double(F.sum(vdec)) / F.count(F.lit(1))).alias("mu_pre"),
        (dec_to_double(F.sum(vdec * vdec)) / F.count(F.lit(1))).alias("m2"),
    )
    paa = ordered.groupBy("user_id", "seg").agg(
        (dec_to_double(F.sum(vdec)) / F.count(F.lit(1))).alias("paa_mean")
    )
    z = paa.join(stats, "user_id").select(
        "user_id",
        "seg",
        (
            (F.col("paa_mean") - F.col("mu_pre"))
            / F.sqrt(F.col("m2") - F.col("mu_pre") * F.col("mu_pre"))
        ).alias("zval"),
    )
    sym = z.select(
        "user_id",
        "seg",
        F.when(F.col("zval") < -0.6745, "a")
        .when(F.col("zval") < 0.0, "b")
        .when(F.col("zval") < 0.6745, "c")
        .otherwise("d")
        .alias("symbol"),
    )
    return (
        sym.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg", "symbol"))),
                    lambda s: s.symbol,
                ),
                "",
            ).alias("sax_word")
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Count-min sketch: distributed build + point queries with exact audit
# --------------------------------------------------------------------------

_CMS_D = 3  # hash rows
_CMS_W = 64  # counters per row


def _cms_hash_sql(i: int, key: str) -> str:
    # three independent 32-bit hash rows from ONE md5 digest (hex
    # slices 1-8, 9-16, 17-24): a single digest per row costs a third
    # of three keyed digests at 100 TB, and the slices are independent
    return (
        f"CAST(concat('0x', substr(md5(concat('cms-', CAST({key} AS VARCHAR))),"
        f" {8 * i + 1}, 8)) AS BIGINT) % {_CMS_W}"
    )


@register(
    "agg_count_min_sketch",
    oracle=f"""
    WITH cells AS (
      SELECT r.i AS row_i,
             CASE r.i
               WHEN 0 THEN {_cms_hash_sql(0, "l_partkey")}
               WHEN 1 THEN {_cms_hash_sql(1, "l_partkey")}
               ELSE {_cms_hash_sql(2, "l_partkey")} END AS cell,
             COUNT(*) AS c
      FROM lineitem CROSS JOIN (VALUES (0), (1), (2)) r(i)
      GROUP BY row_i, cell
    ),
    probes AS (
      SELECT k.key, r.i AS row_i,
             CASE r.i
               WHEN 0 THEN {_cms_hash_sql(0, "k.key")}
               WHEN 1 THEN {_cms_hash_sql(1, "k.key")}
               ELSE {_cms_hash_sql(2, "k.key")} END AS cell
      FROM (SELECT DISTINCT l_partkey AS key FROM lineitem
            WHERE l_partkey <= 20) k
      CROSS JOIN (VALUES (0), (1), (2)) r(i)
    ),
    est AS (
      SELECT p.key, MIN(c.c) AS est_count
      FROM probes p JOIN cells c
        ON p.row_i = c.row_i AND p.cell = c.cell
      GROUP BY p.key
    ),
    exact AS (
      SELECT l_partkey AS key, COUNT(*) AS exact_count
      FROM lineitem WHERE l_partkey <= 20 GROUP BY key
    )
    SELECT e.key AS partkey,
           CAST(s.est_count AS BIGINT) AS est_count,
           CAST(e.exact_count AS BIGINT) AS exact_count,
           CAST(s.est_count - e.exact_count AS BIGINT) AS overestimate
    FROM exact e JOIN est s ON e.key = s.key
    ORDER BY partkey
    """,
    doc=(
        "Count-min sketch end to end: the sketch BUILD is a "
        "distributed grouped count over (hash-row, cell) pairs — 3 "
        "md5-derived hash rows x 64 counters, i.e. the mergeable "
        "192-counter summary that answers frequency queries over any "
        "key cardinality in O(1) state; point queries take the min "
        "over rows, audited against exact counts (overestimate >= 0 "
        "is the CMS guarantee, and every value is hash-checked). "
        "Scale shape (round-9 rewrite): ONE partial+final count "
        "collapses the corpus to the key grain, so the md5 rows are "
        "computed once per DISTINCT key (not 3x per fact row) and the "
        "x3 explode fans out the key-grain relation into the 192-row "
        "sketch; probes and the exact audit both reuse the key-grain "
        "counts — one corpus pass, not three scans. The heavy-hitter "
        "counting primitive for corpus token/domain frequency at 100 TB."
    ),
    tags=("aggregate", "sketch", "lineitem", "scale"),
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_partkey")

    def digest(key) -> F.Column:
        return F.md5(
            F.concat(F.lit("cms-"), F.col(key).cast("string")).cast("binary")
        )

    def h(i: int, key) -> F.Column:
        return (
            F.conv(F.substring(digest(key), 8 * i + 1, 8), 16, 10).cast("long")
            % _CMS_W
        )

    # Round-9 rewrite (guide §2.3, aggregate before you shuffle /
    # hash): collapse the corpus to the KEY GRAIN first — one
    # partial+final count per distinct key — then md5 each distinct
    # key once instead of 3x per fact row (key-repetition factor ~5
    # here, often far more in real corpora), and derive the exact
    # audit counts from the same relation instead of a second pushed
    # scan. Cell counts are identical: SUM of per-key counts per
    # (row_i, cell) == COUNT(*) per (row_i, cell).
    by_key = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cells = (
        by_key.select(
            "cnt",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("row_i"), h(i, "key").alias("cell")
                        )
                        for i in range(_CMS_D)
                    ]
                )
            ).alias("rc"),
        )
        .groupBy(F.col("rc.row_i").alias("row_i"), F.col("rc.cell").alias("cell"))
        .agg(F.sum("cnt").alias("c"))
    )
    audited = by_key.filter(F.col("key") <= 20)
    probes = audited.select(
        "key",
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("row_i"), h(i, "key").alias("cell"))
                    for i in range(_CMS_D)
                ]
            )
        ).alias("rc"),
    ).select(
        "key", "cnt", F.col("rc.row_i").alias("row_i"), F.col("rc.cell").alias("cell")
    )
    est = (
        probes.join(F.broadcast(cells), ["row_i", "cell"])
        .groupBy("key")
        .agg(
            F.min("c").alias("est_count"),
            F.first("cnt").alias("exact_count"),
        )
    )
    return est.select(
        F.col("key").alias("partkey"),
        F.col("est_count").cast("long").alias("est_count"),
        F.col("exact_count").cast("long").alias("exact_count"),
        (F.col("est_count") - F.col("exact_count"))
        .cast("long")
        .alias("overestimate"),
    ).orderBy("partkey")


# --------------------------------------------------------------------------
# Bollinger bands (trailing mean +- 2 sigma), pure integer comparisons
# --------------------------------------------------------------------------

_BOLL_N = 6  # trailing window (months)
_BOLL_S = 10**6


@register(
    "ts_bollinger_bands",
    oracle=f"""
    WITH monthly AS (
      SELECT DATE_TRUNC('month', o_orderdate) AS month_start,
             SUM(CAST(round(o_totalprice) AS BIGINT)) AS x
      FROM orders GROUP BY 1
    ),
    framed AS (
      SELECT month_start, x,
             COUNT(*) OVER w AS n,
             SUM(CAST(x AS HUGEINT)) OVER w AS sx,
             SUM(CAST(x AS HUGEINT) * x) OVER w AS sxx
      FROM monthly
      WINDOW w AS (ORDER BY month_start
                   ROWS BETWEEN {_BOLL_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(month_start AS TIMESTAMP) AS month_start,
           CAST(x AS BIGINT) AS monthly_total,
           CAST(n AS BIGINT) AS trailing_n,
           CAST((sx * {_BOLL_S}) // n AS BIGINT) AS mean_scaled,
           CAST(n * sxx - sx * sx AS VARCHAR) AS var_num,
           CAST(CASE WHEN (CAST(x AS HUGEINT) * n - sx)
                           * (CAST(x AS HUGEINT) * n - sx)
                     > 4 * (n * sxx - sx * sx)
                THEN 1 ELSE 0 END AS BIGINT) AS outside_band
    FROM framed
    ORDER BY month_start
    """,
    doc=(
        "Bollinger bands over the monthly revenue series: trailing "
        "6-month mean and the +-2-sigma breakout flag, decided "
        "ENTIRELY in integer arithmetic — (x*n - sx)^2/4 > n*sxx - "
        "sx^2 is the exact 'outside two standard deviations' "
        "predicate with no sqrt and no doubles (the band test every "
        "volatility monitor runs; same sufficient-statistics trick "
        "as the Welch t and variance queries). One month-grain "
        "rollup scans the facts; the window runs over the O(months) "
        "summary series."
    ),
    tags=("timeseries", "window", "orders"),
)
def ts_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month_start")
    ).agg(F.sum(F.round("o_totalprice").cast("long")).alias("x"))
    w = (
        Window.orderBy("month_start").rowsBetween(-(_BOLL_N - 1), 0)
    )
    # monthly totals grow with sf: x ~ 2.7e9 at sf1, so x*x and its
    # 6-month sum pass 2^63 in LONG while DuckDB's SUM auto-widens to
    # HUGEINT — keep the sufficient statistics in DECIMAL(38,0) so the
    # cleared-form band test survives any scale (2SLS overflow class)
    xd = F.col("x").cast("decimal(38,0)")
    framed = monthly.select(
        "month_start",
        "x",
        F.count(F.lit(1)).over(w).cast("decimal(38,0)").alias("n"),
        F.sum(xd).over(w).alias("sx"),
        F.sum(xd * xd).over(w).alias("sxx"),
    )
    return framed.select(
        "month_start",
        F.col("x").cast("long").alias("monthly_total"),
        F.col("n").cast("long").alias("trailing_n"),
        F.expr(f"(sx * {_BOLL_S}) div n").cast("long").alias("mean_scaled"),
        # var_num itself passes 2^63 at sf>=0.5 (r7 sf0.5 sweep catch:
        # 2.67e19 at 80 months of ~2.3e12 cents) — emit the exact
        # DECIMAL(38,0) value as its digit string on both engines
        # rather than a lossy/raising BIGINT or DOUBLE cast
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("string")
        .alias("var_num"),
        # multiply-by-4 form, not //4: Spark's `div` yields BIGINT and
        # overflows on the squared term at sf>=0.5; a^2 > 4*var_num is
        # the same +-2-sigma test in pure DECIMAL(38,0) arithmetic
        (
            F.expr(
                "((CAST(x AS DECIMAL(38,0)) * n - sx)"
                " * (CAST(x AS DECIMAL(38,0)) * n - sx))"
            )
            > F.lit(4) * (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        )
        .cast("long")
        .alias("outside_band"),
    ).orderBy("month_start")


# --------------------------------------------------------------------------
# Harmonic (Fourier) seasonality regression with plan-time phase literals
# --------------------------------------------------------------------------

import math as _math

_HARM_K = (1, 2, 3)
_HARM_PHASES = [
    (k, m,
     round(_math.cos(2 * _math.pi * k * m / 12) * 10**6),
     round(_math.sin(2 * _math.pi * k * m / 12) * 10**6))
    for k in _HARM_K
    for m in range(12)
]


@register(
    "ts_harmonic_regression",
    oracle=f"""
    WITH monthly AS (
      SELECT month(o_orderdate) - 1 AS m,
             SUM(CAST(round(o_totalprice) AS BIGINT)) AS x
      FROM orders GROUP BY 1
    ),
    phases(k, m, c_micro, s_micro) AS (
      VALUES {", ".join(f"({k}, {m}, {c}, {s})" for k, m, c, s in _HARM_PHASES)}
    ),
    coeffs AS (
      SELECT p.k,
             SUM(mo.x * p.c_micro) AS a_k,
             SUM(mo.x * p.s_micro) AS b_k
      FROM monthly mo JOIN phases p ON mo.m = p.m
      GROUP BY p.k
    )
    SELECT CAST(k AS BIGINT) AS harmonic,
           CAST(a_k AS BIGINT) AS a_k,
           CAST(b_k AS BIGINT) AS b_k,
           CAST(CAST(CAST(a_k AS DECIMAL(38,0)) * a_k
                + CAST(b_k AS DECIMAL(38,0)) * b_k
                AS DECIMAL(38,0)) AS VARCHAR) AS amplitude_sq
    FROM coeffs
    ORDER BY harmonic
    """,
    doc=(
        "Harmonic (Fourier) seasonality regression of the monthly "
        "revenue profile: projections onto the first three annual "
        "harmonics, with cos/sin phases baked as PLAN-TIME integer "
        "micro literals (the dq_benford_first_digit trick — no "
        "runtime transcendental ever touches data). The Fourier "
        "coefficients are exact BIGINT dot products (monthly integer "
        "totals x micro phases, order-independent), so which "
        "harmonic dominates — the actual seasonality readout — is "
        "hash-pinned in pure integers; the squared amplitude stays "
        "exact decimal (a double a*b+c here can diverge by one ulp "
        "when an engine contracts it to a fused multiply-add). One month-grain rollup scans "
        "the facts; the projection is a 12x3-row broadcast join. "
        "Complements ts_seasonal_decompose_lite (moving-average "
        "view) with the frequency-domain view."
    ),
    tags=("timeseries", "seasonality", "orders"),
)
def ts_harmonic_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy((F.month("o_orderdate") - 1).alias("m")).agg(
        F.sum(F.round("o_totalprice").cast("long")).alias("x")
    )
    phases = o.sparkSession.createDataFrame(
        _HARM_PHASES, "k int, m int, c_micro long, s_micro long"
    )
    coeffs = (
        monthly.join(F.broadcast(phases), "m")
        .groupBy("k")
        .agg(
            F.sum(F.col("x") * F.col("c_micro")).alias("a_k"),
            F.sum(F.col("x") * F.col("s_micro")).alias("b_k"),
        )
    )
    return coeffs.select(
        F.col("k").cast("long").alias("harmonic"),
        F.col("a_k").cast("long").alias("a_k"),
        F.col("b_k").cast("long").alias("b_k"),
        (
            F.col("a_k").cast("decimal(38,0)") * F.col("a_k")
            + F.col("b_k").cast("decimal(38,0)") * F.col("b_k")
        )
        .cast("decimal(38,0)")
        .cast("string")
        .alias("amplitude_sq"),
    ).orderBy("harmonic")


# --------------------------------------------------------------------------
# Longest month-over-month growth streak (gaps-and-islands on the summary)
# --------------------------------------------------------------------------


@register(
    "ts_longest_growth_streak",
    oracle="""
    WITH monthly AS (
      SELECT DATE_TRUNC('month', o_orderdate) AS month_start,
             SUM(CAST(round(o_totalprice) AS BIGINT)) AS x
      FROM orders GROUP BY 1
    ),
    flagged AS (
      SELECT month_start, x,
             CASE WHEN x > lag(x) OVER (ORDER BY month_start)
                  THEN 1 ELSE 0 END AS up
      FROM monthly
    ),
    islands AS (
      SELECT month_start, up,
             SUM(1 - up) OVER (ORDER BY month_start) AS grp
      FROM flagged
    ),
    runs AS (
      SELECT grp, CAST(SUM(up) AS BIGINT) AS run_len,
             MIN(month_start) AS run_anchor
      FROM islands GROUP BY grp
    )
    SELECT CAST((SELECT COUNT(*) FROM monthly) AS BIGINT) AS n_months,
           CAST((SELECT SUM(up) FROM flagged) AS BIGINT) AS n_up_months,
           CAST(MAX(run_len) AS BIGINT) AS longest_streak,
           CAST((SELECT MIN(run_anchor) FROM runs r2
                 WHERE r2.run_len = (SELECT MAX(run_len) FROM runs))
                AS TIMESTAMP) AS streak_anchor
    FROM runs
    """,
    doc=(
        "Longest month-over-month revenue growth streak — gaps-and-"
        "islands (lag flag + running reset-count) applied to the "
        "monthly SUMMARY series, with the earliest anchor month as a "
        "deterministic tiebreak. The 'N consecutive quarters of "
        "growth' KPI. Facts are touched once by the month rollup; "
        "the windows run over O(months) rows, same discipline as "
        "the other ts_ queries (bounded-series SinglePartition is "
        "the allowlisted pattern)."
    ),
    tags=("timeseries", "window", "orders"),
)
def ts_longest_growth_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month_start")
    ).agg(F.sum(F.round("o_totalprice").cast("long")).alias("x"))
    w = Window.orderBy("month_start")
    flagged = monthly.select(
        "month_start",
        F.when(F.col("x") > F.lag("x").over(w), 1).otherwise(0).alias("up"),
    )
    islands = flagged.select(
        "month_start",
        "up",
        F.sum(F.lit(1) - F.col("up"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("grp"),
    )
    runs = islands.groupBy("grp").agg(
        F.sum("up").cast("long").alias("run_len"),
        F.min("month_start").alias("run_anchor"),
    )
    tot = flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.sum("up").cast("long").alias("n_up_months"),
    )
    best = runs.agg(F.max("run_len").alias("longest_streak"))
    anchor = (
        runs.join(F.broadcast(best), runs.run_len == best.longest_streak)
        .agg(F.min("run_anchor").alias("streak_anchor"))
    )
    return (
        tot.crossJoin(F.broadcast(best))
        .crossJoin(F.broadcast(anchor))
        .select(
            "n_months",
            "n_up_months",
            "longest_streak",
            "streak_anchor",
        )
    )


# ---------------------------------------------------------------------------
# Dynamic time warping between two seasonal profiles (exact integer DP)
# ---------------------------------------------------------------------------

_DTW_N = 12  # 2-hour buckets


def _dtw_last_row(a: list[int], b: list[int]) -> list:
    """Last row of the DTW table of series ``a`` against ``b``:
    D[i][j] = |a_i - b_j| + min(D[i-1][j], D[i-1][j-1], D[i][j-1]) over
    an infinite border with D[-1][-1] = 0, one O(len(b)) row per step."""
    prev = [0] + [_math.inf] * len(b)
    for x in a:
        cur = [_math.inf]
        for j, y in enumerate(b):
            cur.append(abs(x - y) + min(prev[j + 1], prev[j], cur[j]))
        prev = cur
    return prev[1:]


def _dtw_oracle() -> str:
    """Row-by-row DTW DP as unrolled CTEs.

    The same-row dependency D[j] = c_j + min(P[j], P[j-1], D[j-1])
    unrolls to the min-plus prefix scan
        D[j] = S_j + min_{k<=j} ( min(P[k], P[k-1]) - S_{k-1} )
    (S = per-row prefix sums of cost), so each DP row is ONE running-min
    window over the previous row — no cell-at-a-time recursion."""
    head = f"""
    WITH pa AS MATERIALIZED (
      SELECT hour(ts) // 2 AS i,
             CAST(SUM(round(value * 100)) AS BIGINT) AS av
      FROM events WHERE event_type = 'purchase' GROUP BY i
    ), pb AS MATERIALIZED (
      SELECT hour(ts) // 2 AS j,
             CAST(SUM(round(value * 100)) AS BIGINT) AS bv
      FROM events WHERE event_type = 'click' GROUP BY j
    ), s AS MATERIALIZED (
      SELECT a.i, b.j, abs(a.av - b.bv) AS c,
             SUM(abs(a.av - b.bv)) OVER (
               PARTITION BY a.i ORDER BY b.j
             ) AS sj
      FROM pa a CROSS JOIN pb b
    ), r0 AS MATERIALIZED (
      SELECT j, sj AS d FROM s WHERE i = 0
    )"""
    rows = []
    for i in range(1, _DTW_N):
        rows.append(
            f""", r{i} AS MATERIALIZED (
      SELECT j, sj + MIN(t) OVER (ORDER BY j ROWS UNBOUNDED PRECEDING) AS d
      FROM (
        SELECT s.j, s.sj,
               LEAST(p.d, COALESCE(lag(p.d) OVER (ORDER BY s.j), p.d))
                 - (s.sj - s.c) AS t
        FROM s JOIN r{i - 1} p ON s.j = p.j
        WHERE s.i = {i}
      )
    )"""
        )
    tail = f"""
    SELECT CAST(j AS BIGINT) AS j, CAST(d AS BIGINT) AS dtw_cum
    FROM r{_DTW_N - 1} ORDER BY j"""
    return head + "".join(rows) + tail


@register(
    "ts_dtw_alignment",
    oracle=_dtw_oracle(),
    doc=(
        "Dynamic time warping between the purchase and click hourly "
        "revenue profiles (12 two-hour buckets, integer cents) — the "
        "elastic-distance primitive behind time-series clustering and "
        "template matching, where Euclidean distance fails on phase "
        "shifts. Spark runs the textbook O(n^2) DP row by row "
        "(_dtw_last_row, shared with ts_dtw_distance) in one "
        "fold_series call over the two REDUCED series (the "
        "corpus-sized work is the two grouped sums; the Python loop "
        "sees 24 rows; an empty series emits no rows), "
        "while the oracle unrolls each DP row to a running-min window "
        "via the min-plus prefix-scan identity D[j] = S_j + min_k"
        "(min(P[k],P[k-1]) - S_(k-1)) — two very different "
        "formulations, one integer answer, so the hash pin is strong "
        "evidence the DP is right. Output is the full final DP row "
        "(dtw_cum at j=11 is the DTW distance)."
    ),
    tags=("aggregate", "timeseries", "dtw", "events"),
)
def ts_dtw_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    series = e.groupBy(
        "event_type", (F.hour("ts") / 2).cast("long").alias("b")
    ).agg(F.sum(F.round(F.col("value") * 100)).cast("long").alias("cents"))

    def align(_key, rows):
        a = [c for t, _, c in rows if t == "purchase"]
        b = [c for t, _, c in rows if t == "click"]
        if not a or not b:  # no DP table without both series
            return []
        return enumerate(_dtw_last_row(a, b))

    return fold_series(
        series, [], ["event_type", "b"], ["cents"], "j long, dtw_cum long", align
    ).orderBy("j")


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing (weekly season, exact integers)
# ---------------------------------------------------------------------------

_HW_M = 7  # season length (days)


@register(
    "ts_holt_winters_seasonal",
    oracle=f"""
    WITH RECURSIVE base AS (
      SELECT CAST(day(ts) AS BIGINT) AS d,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY d
    ),
    m AS (
      SELECT d, y, ROW_NUMBER() OVER (ORDER BY d) AS rn FROM base
    ),
    init AS (
      SELECT CAST(SUM(y) // {_HW_M} AS BIGINT) AS l0,
             list(y - CAST((SELECT SUM(y) // {_HW_M} FROM m WHERE rn <= {_HW_M})
                           AS BIGINT) ORDER BY rn) AS s0
      FROM m WHERE rn <= {_HW_M}
    ),
    hw(rn, d, y, l, b, s, seasonal_c, fitted_c) AS (
      SELECT CAST({_HW_M} AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             l0, CAST(0 AS BIGINT), s0, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      FROM init
      UNION ALL
      SELECT m.rn, m.d, m.y,
             (m.y - hw.s[CAST((m.rn - 1) % {_HW_M} AS INTEGER) + 1]
              + 3 * (hw.l + hw.b)) // 4,
             ((m.y - hw.s[CAST((m.rn - 1) % {_HW_M} AS INTEGER) + 1]
               + 3 * (hw.l + hw.b)) // 4 - hw.l + 3 * hw.b) // 4,
             list_transform(generate_series(1, {_HW_M}), i ->
               CASE WHEN i = CAST((m.rn - 1) % {_HW_M} AS INTEGER) + 1
                    THEN (m.y - ((m.y - hw.s[CAST((m.rn - 1) % {_HW_M}
                                                  AS INTEGER) + 1]
                                  + 3 * (hw.l + hw.b)) // 4)
                          + 3 * hw.s[CAST((m.rn - 1) % {_HW_M}
                                          AS INTEGER) + 1]) // 4
                    ELSE hw.s[CAST(i AS INTEGER)] END),
             CAST(hw.s[CAST((m.rn - 1) % {_HW_M} AS INTEGER) + 1] AS BIGINT),
             hw.l + hw.b + hw.s[CAST((m.rn - 1) % {_HW_M} AS INTEGER) + 1]
      FROM hw JOIN m ON m.rn = hw.rn + 1
    )
    SELECT d, y, CAST(l AS BIGINT) AS level_c, CAST(b AS BIGINT) AS trend_c,
           seasonal_c, CAST(fitted_c AS BIGINT) AS fitted_c
    FROM hw WHERE rn > {_HW_M}
    ORDER BY d
    """,
    doc=(
        "Holt-Winters ADDITIVE SEASONAL smoothing over the daily "
        "events-revenue series with a weekly (m=7) season — the "
        "seasonal completer of the smoothing family (EWMA -> Holt "
        "linear -> this): level, trend AND a 7-slot seasonal state "
        "updated each day with alpha=beta=gamma=1/4 in exact "
        "truncating integer arithmetic. The recurrence is one "
        "fold_series loop over the sorted daily series whose state is "
        "(l, b, s[7]) — one Python step per day, O(days), exact "
        "Python ints; the corpus-sized work is one grouped daily sum, "
        "and a series of at most one season emits no rows. "
        "Oracle = recursive CTE threading the identical state with a "
        "LIST column. fitted_c = l + b + s_(t-m), the one-step-ahead "
        "seasonal forecast, pinned per day."
    ),
    tags=("timeseries", "iterative", "forecast", "seasonal", "events"),
)
def ts_holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.dayofmonth("ts").cast("long").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    m = _HW_M

    def holt_winters(_key, rows):
        if len(rows) <= m:  # the first season only initialises the state
            return []
        level = _tdiv(sum(y for _, y in rows[:m]), m)
        trend, seas = 0, [y - level for _, y in rows[:m]]
        out = []
        for k, (d, y) in enumerate(rows[m:]):
            sold = seas[k % m]
            l_new = _tdiv(y - sold + 3 * (level + trend), 4)
            b_new = _tdiv(l_new - level + 3 * trend, 4)
            seas[k % m] = _tdiv(y - l_new + 3 * sold, 4)
            out.append((d, y, l_new, b_new, sold, level + trend + sold))
            level, trend = l_new, b_new
        return out

    return fold_series(
        daily, [], "d", ["y"],
        "d long, y long, level_c long, trend_c long, seasonal_c long, "
        "fitted_c long",
        holt_winters,
    ).orderBy("d")


# ---------------------------------------------------------------------------
# Matrix profile (SSD form): nearest-neighbor subsequence distances
# ---------------------------------------------------------------------------

_MP_W = 7  # subsequence window (days)
_MP_EXCL = 4  # exclusion zone: |i - j| >= ceil(w/2)


@register(
    "ts_matrix_profile_ssd",
    oracle=f"""
    WITH daily AS MATERIALIZED (
      SELECT CAST(day(ts) AS BIGINT) AS d,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY d
    ),
    n AS (SELECT COUNT(*) AS nd FROM daily),
    pairs AS (
      SELECT i.d AS i, j.d AS j,
             CAST(SUM((a.y - b.y) * (a.y - b.y)) AS BIGINT) AS ssd
      FROM daily i
      JOIN daily j ON abs(i.d - j.d) >= {_MP_EXCL}
      CROSS JOIN n
      JOIN daily a ON a.d BETWEEN i.d AND i.d + {_MP_W} - 1
      JOIN daily b ON b.d = a.d - i.d + j.d
      WHERE i.d + {_MP_W} - 1 <= n.nd AND j.d + {_MP_W} - 1 <= n.nd
      GROUP BY i.d, j.d
    ),
    profile AS (
      SELECT i,
             MIN(ssd) AS mp_ssd,
             MIN(CASE WHEN ssd = (SELECT MIN(p2.ssd) FROM pairs p2
                                  WHERE p2.i = pairs.i)
                 THEN j END) AS nn_j
      FROM pairs GROUP BY i
    )
    SELECT i AS start_day, CAST(nn_j AS BIGINT) AS nn_start_day,
           CAST(mp_ssd AS BIGINT) AS mp_ssd
    FROM profile ORDER BY start_day
    """,
    doc=(
        "Matrix profile over the daily revenue series (SSD form, "
        "window=7, exclusion zone 4): for every 7-day subsequence, "
        "the squared distance to its nearest non-trivial neighbor "
        "subsequence and that neighbor's position — the "
        "motif/discord primitive (low profile = repeated pattern, "
        "high profile = anomaly) from the Yeh et al. matrix-profile "
        "line of work, on exact integer cents so the profile is "
        "hash-pinned (the z-normalized variant needs sqrt; the SSD "
        "variant is the right exact-arithmetic citizen). Relational "
        "form: the O(n^2 w) pair-offset expansion is a self-join on "
        "the REDUCED daily series (30 rows -> ~4k intermediate), "
        "grouped to the profile — at corpus scale the reduction "
        "comes first, the quadratic part only ever touches the "
        "summary. Ties broken to the smallest neighbor index on "
        "both engines."
    ),
    tags=("timeseries", "matrix-profile", "anomaly", "events"),
)
def ts_matrix_profile_ssd(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.dayofmonth("ts").cast("long").alias("d"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("y")
        )
        .localCheckpoint(eager=True)
    )
    nd = daily.agg(F.count(F.lit(1)).alias("nd"))
    i = daily.select(F.col("d").alias("i"))
    j = daily.select(F.col("d").alias("j"))
    a = daily.select(F.col("d").alias("ad"), F.col("y").alias("ay"))
    b = daily.select(F.col("d").alias("bd"), F.col("y").alias("by"))
    pairs = (
        i.join(F.broadcast(j), F.abs(F.col("i") - F.col("j")) >= _MP_EXCL)
        .crossJoin(F.broadcast(nd))
        .filter(
            (F.col("i") + _MP_W - 1 <= F.col("nd"))
            & (F.col("j") + _MP_W - 1 <= F.col("nd"))
        )
        .join(
            F.broadcast(a),
            (F.col("ad") >= F.col("i"))
            & (F.col("ad") <= F.col("i") + _MP_W - 1),
        )
        .join(
            F.broadcast(b),
            F.col("bd") == F.col("ad") - F.col("i") + F.col("j"),
        )
        .groupBy("i", "j")
        .agg(
            F.sum(
                (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by"))
            )
            .cast("long")
            .alias("ssd")
        )
    )
    prof = pairs.groupBy("i").agg(
        F.min("ssd").cast("long").alias("mp_ssd"),
        F.min(F.struct("ssd", "j"))["j"].cast("long").alias("nn_j"),
    )
    return prof.select(
        F.col("i").alias("start_day"),
        F.col("nn_j").alias("nn_start_day"),
        "mp_ssd",
    ).orderBy("start_day")


# --------------------------------------------------------------------------
# Theil–Sen robust trend: median of pairwise slopes on the month grain
# --------------------------------------------------------------------------


@register(
    "ts_theil_sen_slope",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority AS priority,
             EXTRACT(YEAR FROM o_orderdate) * 12
             + EXTRACT(MONTH FROM o_orderdate) AS mnum,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM orders GROUP BY priority, mnum
    ),
    pairs AS (
      SELECT a.priority,
             CAST(b.y - a.y AS DOUBLE) / CAST(b.mnum - a.mnum AS DOUBLE)
               AS slope
      FROM m a JOIN m b
        ON b.priority = a.priority AND b.mnum > a.mnum
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(quantile_disc(slope, 0.5) AS DOUBLE) AS theil_sen_slope
    FROM pairs GROUP BY priority ORDER BY priority
    """,
    doc=(
        "Theil–Sen estimator per priority class: the median of all "
        "pairwise slopes (y_j - y_i)/(x_j - x_i) of the monthly order "
        "count series — the classic robust trend line (breakdown "
        "point 29%), immune to the outlier months that wreck the OLS "
        "slope in analytics_price_trend_ols. The corpus-sized work is "
        "one month-grain rollup; the O(months^2) pairwise join runs "
        "on ~84 rows per group (date range is fixed, so the pair "
        "count does NOT grow with SF — at 100 TB the rollup is still "
        "the only full scan). Each slope is one BIGINT subtraction "
        "pair and one double division (identical IEEE op on both "
        "engines); the median is percentile_disc, which SELECTS an "
        "element rather than interpolating, so parity is exact."
    ),
    tags=("timeseries", "statistics", "robust", "orders"),
)
def ts_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
                "mnum"
            ),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    a = m.select("priority", F.col("mnum").alias("x1"), F.col("y").alias("y1"))
    b = m.select(
        F.col("priority").alias("p2"),
        F.col("mnum").alias("x2"),
        F.col("y").alias("y2"),
    )
    pairs = a.join(
        b, (F.col("p2") == F.col("priority")) & (F.col("x2") > F.col("x1"))
    ).select(
        "priority",
        (
            (F.col("y2") - F.col("y1")).cast("double")
            / (F.col("x2") - F.col("x1")).cast("double")
        ).alias("slope"),
    )
    return (
        pairs.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)")
            .cast("double")
            .alias("theil_sen_slope"),
        )
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
# Misra–Gries heavy hitters: mergeable candidate summaries + exact verify
# --------------------------------------------------------------------------

_MG_K = 500  # summary capacity == 1/support


@register(
    "agg_frequent_items_mg",
    oracle=f"""
    SELECT user_id,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY user_id, event_type
    HAVING COUNT(*) * {_MG_K} > (SELECT COUNT(*) FROM events)
    ORDER BY user_id, event_type
    """,
    doc=(
        "Exact frequent (user, event_type) pairs above support n/500 "
        "via the two-phase Misra–Gries pattern: phase 1 builds a "
        "capacity-500 MG summary PER PARTITION in one mapInPandas "
        "pass (vectorized value_counts per Arrow batch, then the "
        "classic subtract-the-(k+1)-th-largest prune; est >= true - "
        "n_p/500, so any globally frequent key — which by pigeonhole "
        "is locally frequent in at least one partition — survives "
        "some summary). Phase 2 unions the O(#partitions * 500)-row "
        "summaries, broadcast-semi-joins the candidate keys back "
        "onto the exact group counts, and filters with the integer "
        "test count*500 > n_total, so the OUTPUT is exact — the "
        "sketch only prunes the verify set. This is the mergeable- "
        "summaries shape that scales: at 100 TB the full scan "
        "happens twice (summary + verify) and everything between is "
        "kilobytes, vs a straight groupBy-filter whose shuffle "
        "carries every distinct key."
    ),
    tags=("aggregate", "sketch", "heavy-hitters", "scale"),
)
def agg_frequent_items_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = table(spark, sf_dir, "events").select("user_id", "event_type")

    def mg_summary(batches):
        counters: dict[tuple[int, str], int] = {}
        for pdf in batches:
            vc = pdf.value_counts(["user_id", "event_type"])
            for key, cnt in vc.items():
                counters[key] = counters.get(key, 0) + int(cnt)
            if len(counters) > _MG_K:
                cut = sorted(counters.values(), reverse=True)[_MG_K]
                counters = {
                    k: v - cut for k, v in counters.items() if v > cut
                }
        yield pd.DataFrame(
            {
                "user_id": [k[0] for k in counters],
                "event_type": [k[1] for k in counters],
            }
        )

    candidates = ev.mapInPandas(
        mg_summary, schema="user_id long, event_type string"
    ).distinct()
    exact = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    total = ev.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        exact.join(
            F.broadcast(candidates), ["user_id", "event_type"], "left_semi"
        )
        .join(F.broadcast(total))
        .filter(F.col("n_events") * _MG_K > F.col("n_total"))
        .select("user_id", "event_type", "n_events")
        .orderBy("user_id", "event_type")
    )

# ---------------------------------------------------------------------------
# Dynamic time warping distance between two daily event-value series
# ---------------------------------------------------------------------------

_DTW_DAYS = 30
_DTW_INF = 10**15


@register(
    "ts_dtw_distance",
    oracle=f"""
    WITH spine AS (
      SELECT unnest(generate_series(1, {_DTW_DAYS})) AS day
    ),
    daily AS (
      SELECT CAST(EXTRACT(DAY FROM ts) AS BIGINT) AS day,
             CAST(SUM(CASE WHEN event_type = 'click'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS a_cents,
             CAST(SUM(CASE WHEN event_type = 'error'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS b_cents
      FROM events
      WHERE event_type IN ('click', 'error')
      GROUP BY 1
    ),
    series AS (
      SELECT list(COALESCE(d.a_cents, 0) ORDER BY s.day) AS sa,
             list(COALESCE(d.b_cents, 0) ORDER BY s.day) AS sb
      FROM spine s LEFT JOIN daily d ON s.day = d.day
    ),
    dp AS (
      SELECT sa, sb,
        list_reduce(
          list_prepend(
            list_transform(generate_series(0, {_DTW_DAYS}),
                           j -> CASE WHEN j = 0 THEN CAST(0 AS BIGINT)
                                     ELSE CAST({_DTW_INF} AS BIGINT) END),
            list_transform(sa, a -> [a])
          ),
          (prev, xa) -> list_reduce(
            list_prepend([CAST({_DTW_INF} AS BIGINT)],
                         list_transform(sb, b -> [b])),
            (acc, xb) -> list_append(acc,
              abs(xa[1] - xb[1])
              + least(prev[len(acc) + 1], prev[len(acc)], acc[len(acc)]))
          )
        ) AS final_row
      FROM series
    )
    SELECT CAST({_DTW_DAYS} AS BIGINT) AS n_days,
           final_row[{_DTW_DAYS + 1}] AS dtw_cents,
           list_reduce(
             list_transform(generate_series(1, {_DTW_DAYS}),
                            i -> abs(sa[i] - sb[i])),
             (a, b) -> a + b) AS lockstep_cents
    FROM dp
    """,
    doc=(
        "Dynamic time warping distance (Sakoe & Chiba 1978) between the "
        "daily click-revenue and error-revenue series: the full "
        f"{_DTW_DAYS}x{_DTW_DAYS} DP runs row by row in one "
        "fold_series loop (_dtw_last_row, shared with "
        "ts_dtw_alignment: each step builds the next DP row against "
        "series B in O(days)) on Spark, and as a nested list_reduce "
        "with captured outer lambda variables on DuckDB. Costs are "
        "exact integer cents so the whole DP is integer arithmetic "
        "(Python ints): hash-exact, no float drift "
        "possible. lockstep_cents (the warp-free L1 distance) is "
        "emitted alongside — DTW <= lockstep always, and the gap "
        "measures how much temporal misalignment the warp absorbs. "
        "Scale shape: the only corpus-sized work is one groupBy(day) "
        "partial aggregate; the DP itself runs on one "
        f"{_DTW_DAYS}-row series in O(days^2) Python steps — per-key "
        "series DTW (matrix-profile style motif search) distributes "
        "the same way with keys given to fold_series."
    ),
    tags=("timeseries", "events", "dtw", "scale"),
)
def ts_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    daily = (
        e.where(F.col("event_type").isin("click", "error"))
        .groupBy(F.dayofmonth("ts").cast("long").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", cents).otherwise(0))
            .cast("long")
            .alias("a_cents"),
            F.sum(F.when(F.col("event_type") == "error", cents).otherwise(0))
            .cast("long")
            .alias("b_cents"),
        )
    )
    spine = spark.range(1, _DTW_DAYS + 1).select(F.col("id").alias("day"))
    filled = spine.join(daily, "day", "left").fillna(0, ["a_cents", "b_cents"])

    def distance(_key, rows):
        sa = [x for _, x, _ in rows]
        sb = [y for _, _, y in rows]
        lockstep = sum(abs(x - y) for x, y in zip(sa, sb))
        return [(_DTW_DAYS, _dtw_last_row(sa, sb)[-1], lockstep)]

    return fold_series(
        filled, [], "day", ["a_cents", "b_cents"],
        "n_days long, dtw_cents long, lockstep_cents long", distance,
    )

# ---------------------------------------------------------------------------
# Classical additive seasonal decomposition (integer-exact, x7 scale)
# ---------------------------------------------------------------------------


@register(
    "ts_seasonal_decompose",
    oracle="""
    WITH spine AS (SELECT unnest(generate_series(1, 30)) AS day),
    daily AS (
      SELECT CAST(EXTRACT(DAY FROM ts) AS BIGINT) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    filled AS (
      SELECT s.day, COALESCE(d.cents, 0) AS cents,
             CAST((s.day - 1) % 7 AS BIGINT) AS dow
      FROM spine s LEFT JOIN daily d ON s.day = d.day
    ),
    trended AS (
      SELECT day, cents, dow,
             CASE WHEN day BETWEEN 4 AND 27 THEN
               SUM(cents) OVER (ORDER BY day
                                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
             END AS trend7
      FROM filled
    ),
    seas AS (
      SELECT dow,
             CAST(SUM(cents * 7 - trend7) AS BIGINT) AS dev7_sum,
             CAST(COUNT(trend7) AS BIGINT) AS dev_cnt
      FROM trended WHERE trend7 IS NOT NULL GROUP BY dow
    )
    SELECT t.day, t.cents, t.dow,
           CAST(t.trend7 AS BIGINT) AS trend7_cents,
           s.dev7_sum, s.dev_cnt,
           CASE WHEN t.trend7 IS NOT NULL THEN
             CAST(t.cents * 7 * s.dev_cnt - t.trend7 * s.dev_cnt - s.dev7_sum
                  AS BIGINT)
           END AS resid7cnt_cents
    FROM trended t JOIN seas s ON t.dow = s.dow
    ORDER BY t.day
    """,
    doc=(
        "Classical additive seasonal decomposition of the daily "
        "event-revenue series (trend = centered 7-day moving sum, "
        "weekly seasonal = mean deviation per day-of-week, residual) "
        "carried ENTIRELY in scaled integers: trend is kept at x7 "
        "scale (the moving SUM, not average) and the residual at "
        "x7xcount scale, so no division ever happens and every row is "
        "hash-exact — the trick for cross-engine-stable decomposition "
        "audits. observed*7 = trend7 + seasonal7 + residual7 holds "
        "exactly (after scaling seasonal by its count). Scale: one "
        "corpus groupBy(day), then windows over the O(days) summary; "
        "per-key decomposition at 100 TB nests the same windows under "
        "partitionBy(key)."
    ),
    tags=("timeseries", "events", "decomposition"),
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.dayofmonth("ts").cast("long").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents")
    )
    spine = spark.range(1, 31).select(F.col("id").alias("day"))
    filled = (
        spine.join(daily, "day", "left")
        .fillna(0, ["cents"])
        .select("day", "cents", ((F.col("day") - 1) % 7).alias("dow"))
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    trended = filled.select(
        "day",
        "cents",
        "dow",
        F.when(
            F.col("day").between(4, 27), F.sum("cents").over(w7)
        ).alias("trend7"),
    )
    seas = (
        trended.where(F.col("trend7").isNotNull())
        .groupBy("dow")
        .agg(
            F.sum(F.col("cents") * 7 - F.col("trend7"))
            .cast("long")
            .alias("dev7_sum"),
            F.count("trend7").cast("long").alias("dev_cnt"),
        )
    )
    return (
        trended.join(F.broadcast(seas), "dow")
        .select(
            "day",
            "cents",
            "dow",
            F.col("trend7").cast("long").alias("trend7_cents"),
            "dev7_sum",
            "dev_cnt",
            F.when(
                F.col("trend7").isNotNull(),
                (
                    F.col("cents") * 7 * F.col("dev_cnt")
                    - F.col("trend7") * F.col("dev_cnt")
                    - F.col("dev7_sum")
                ).cast("long"),
            ).alias("resid7cnt_cents"),
        )
        .orderBy("day")
    )

# ---------------------------------------------------------------------------
# Holt-Winters additive triple exponential smoothing (weekly seasonality)
# ---------------------------------------------------------------------------

_HW_ALPHA, _HW_BETA, _HW_GAMMA = 0.5, 0.25, 0.25
_HW_DAYS = 30
_HW_P = 7


def _hw_oracle() -> str:
    head = """
    WITH spine AS (SELECT unnest(generate_series(1, 30)) AS day),
    daily AS (
      SELECT CAST(EXTRACT(DAY FROM ts) AS BIGINT) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    obs AS (
      SELECT list(CAST(COALESCE(d.cents, 0) AS DOUBLE) ORDER BY s.day) AS o
      FROM spine s LEFT JOIN daily d ON s.day = d.day
    ),
    h6 AS (
      SELECT o,
             (o[1]+o[2]+o[3]+o[4]+o[5]+o[6]+o[7]) / 7.0 AS level,
             0.0 AS trend,
             list_transform(generate_series(1, 7),
               i -> o[i] - (o[1]+o[2]+o[3]+o[4]+o[5]+o[6]+o[7]) / 7.0) AS seas,
             0.0 AS sse
      FROM obs
    )"""
    parts = [head]
    for t in range(_HW_P, _HW_DAYS):  # 0-based day index
        si = t % _HW_P + 1  # 1-based seasonal slot
        a, b, g = _HW_ALPHA, _HW_BETA, _HW_GAMMA
        parts.append(f""",
    h{t} AS (
      SELECT o,
             {a} * (o[{t + 1}] - seas[{si}]) + {1 - a} * (level + trend)
               AS level,
             {b} * (({a} * (o[{t + 1}] - seas[{si}])
                     + {1 - a} * (level + trend)) - level)
               + {1 - b} * trend AS trend,
             list_transform(generate_series(1, 7), i ->
               CASE WHEN i = {si} THEN
                 {g} * (o[{t + 1}]
                        - ({a} * (o[{t + 1}] - seas[{si}])
                           + {1 - a} * (level + trend)))
                 + {1 - g} * seas[{si}]
               ELSE seas[i] END) AS seas,
             sse + (o[{t + 1}] - (level + trend + seas[{si}]))
                 * (o[{t + 1}] - (level + trend + seas[{si}])) AS sse
      FROM h{t - 1}
    )""")
    parts.append(f"""
    SELECT level AS level_cents, trend AS trend_cents, sse AS sse_cents2,
           level + trend + seas[{_HW_DAYS % _HW_P + 1}] AS forecast_day31,
           seas[1] AS seas_1, seas[2] AS seas_2, seas[3] AS seas_3,
           seas[4] AS seas_4, seas[5] AS seas_5, seas[6] AS seas_6,
           seas[7] AS seas_7
    FROM h{_HW_DAYS - 1}""")
    return "".join(parts)


@register(
    "ts_holt_winters",
    oracle=_hw_oracle(),
    doc=(
        "Holt-Winters additive triple exponential smoothing (Winters "
        "1960) over the daily event-revenue series with weekly "
        "seasonality: level/trend/7-slot seasonal state initialized "
        "from the first week, then one sequential update per day with "
        "alpha=1/2, beta=gamma=1/4 (exact binary fractions), one-step-"
        "ahead SSE accumulated along the way, and the day-31 forecast "
        "emitted. Spark runs the recursion as one fold_series loop "
        "over the sorted 30-day series, one Python step per day with "
        "state (level, trend, seasonal list, sse); the oracle unrolls "
        "the identical IEEE update tree as 23 chained CTEs — both "
        "engines execute the same float ops in the same order (sums "
        "left to right), so the state is bit-exact. Scale: the corpus "
        "contributes one groupBy(day) aggregate; the loop is O(days) "
        "with O(period) state, and per-key forecasting passes the key "
        "to fold_series — one packed series per key, so the per-key "
        "memory bound is that series' length."
    ),
    tags=("timeseries", "events", "forecast", "iterative"),
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.dayofmonth("ts").cast("long").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents")
    )
    spine = spark.range(1, _HW_DAYS + 1).select(F.col("id").alias("day"))
    filled = spine.join(daily, "day", "left").fillna(0, ["cents"])
    a, b, g, p = _HW_ALPHA, _HW_BETA, _HW_GAMMA, _HW_P

    def holt_winters(_key, rows):
        # the IEEE operations and their order are the oracle's, so the
        # doubles are bit-exact: left-to-right sums, no fsum
        o = [float(c) for _, c in rows]
        level = 0.0
        for x in o[:p]:
            level += x
        level /= float(p)
        trend, sse, seas = 0.0, 0.0, [x - level for x in o[:p]]
        for t in range(p, _HW_DAYS):
            ob, s_t = o[t], seas[t % p]
            pred = level + trend + s_t
            new_level = a * (ob - s_t) + (1 - a) * (level + trend)
            trend = b * (new_level - level) + (1 - b) * trend
            level = new_level
            seas[t % p] = g * (ob - level) + (1 - g) * s_t
            sse = sse + (ob - pred) * (ob - pred)
        forecast = level + trend + seas[_HW_DAYS % p]
        return [(level, trend, sse, forecast, *seas)]

    return fold_series(
        filled, [], "day", ["cents"],
        "level_cents double, trend_cents double, sse_cents2 double, "
        "forecast_day31 double, "
        + ", ".join(f"seas_{i + 1} double" for i in range(_HW_P)),
        holt_winters,
    )


# ---------------------------------------------------------------------------
# K-minimum-values distinct sketch (mergeable, deterministic, exact oracle)
# ---------------------------------------------------------------------------

_KMV_K = 16
_KMV_SPACE = 1 << 56  # 14 md5 hex digits -> 56-bit hash space


@register(
    "agg_kmv_distinct_sketch",
    oracle=f"""
    WITH eh AS MATERIALIZED (
      SELECT DISTINCT event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14)
                  AS BIGINT) AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM eh
    ),
    kept AS MATERIALIZED (SELECT * FROM ranked WHERE rn <= {_KMV_K}),
    ex AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_distinct
      FROM eh GROUP BY event_type
    ),
    grp AS (
      SELECT k.event_type, ex.exact_distinct,
             CAST(MAX(k.rn) AS BIGINT) AS k_used,
             CAST(MAX(k.h) AS BIGINT) AS kth_hash
      FROM kept k JOIN ex ON ex.event_type = k.event_type
      GROUP BY k.event_type, ex.exact_distinct
    ),
    merged AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
             CAST(MAX(h) AS BIGINT) AS kth_hash
      FROM (SELECT DISTINCT h FROM kept ORDER BY h LIMIT {_KMV_K})
    ),
    mex AS (
      SELECT CAST(COUNT(DISTINCT h) AS BIGINT) AS exact_distinct FROM eh
    ),
    unioned AS (
      SELECT event_type, exact_distinct, k_used, kth_hash FROM grp
      UNION ALL
      SELECT '__all__', mex.exact_distinct, m.k_used, m.kth_hash
      FROM merged m CROSS JOIN mex
    )
    SELECT event_type, exact_distinct, k_used, kth_hash,
           CASE WHEN k_used < {_KMV_K} THEN exact_distinct
                ELSE CAST(CAST({_KMV_K - 1} AS HUGEINT) * {_KMV_SPACE}
                          // kth_hash AS BIGINT)
           END AS kmv_estimate
    FROM unioned
    ORDER BY event_type
    """,
    doc=(
        "K-minimum-values distinct-count sketch (Bar-Yossef et al. "
        f"2002) per event type, K={_KMV_K}: keep the K smallest "
        "56-bit md5 hashes of user_id; estimate = (K-1)*2^56 / "
        "h_(K), falling back to the exact count when a group has "
        "fewer than K distinct hashes. The '__all__' row DEMONSTRATES "
        "MERGEABILITY — the union sketch is just the K smallest of "
        "the concatenated per-group sketches, no rescan — which is "
        "what makes KMV (unlike exact distinct) a one-pass partial+ "
        "final aggregate at 100 TB. Deterministic md5 hashing makes "
        "every value (kth hash included) hash-exact against the "
        "oracle, unlike the seeded built-in approx_count_distinct. "
        "Scale: one distinct shuffle on (type, h), a per-group sort "
        "bounded by K; the complementary HLL/theta sketches are "
        "agg_hll_custom / agg_theta_sketch_setops."
    ),
    tags=("aggregate", "sketch", "events"),
)
def agg_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string").cast("binary")), 1, 14),
        16,
        10,
    ).cast("long")
    eh = e.select("event_type", h.alias("h")).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    kept = eh.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= _KMV_K
    )
    ex = eh.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("exact_distinct")
    )
    grp = (
        kept.groupBy("event_type")
        .agg(
            F.max("rn").cast("long").alias("k_used"),
            F.max("h").cast("long").alias("kth_hash"),
        )
        .join(ex, "event_type")
    )
    # merged sketch: K smallest across all groups' kept hashes — the
    # bounded (<= 5K rows) relation collapses to ONE row via a global
    # aggregate (partial+final sandwich), then array ops pick the kth.
    merged = (
        kept.select("h")
        .distinct()
        .agg(F.slice(F.array_sort(F.collect_list("h")), 1, _KMV_K).alias("ks"))
        .select(
            F.lit("__all__").alias("event_type"),
            F.size("ks").cast("long").alias("k_used"),
            F.element_at(F.col("ks"), F.size("ks")).alias("kth_hash"),
        )
    )
    mex = eh.select("h").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("exact_distinct")
    )
    unioned = grp.select(
        "event_type", "exact_distinct", "k_used", "kth_hash"
    ).unionByName(
        merged.crossJoin(F.broadcast(mex)).select(
            "event_type", "exact_distinct", "k_used", "kth_hash"
        )
    )
    est = F.when(F.col("k_used") < _KMV_K, F.col("exact_distinct")).otherwise(
        F.expr(f"CAST({(_KMV_K - 1) * _KMV_SPACE} AS BIGINT) div kth_hash")
    )
    return unioned.select(
        "event_type",
        "exact_distinct",
        "k_used",
        "kth_hash",
        est.cast("long").alias("kmv_estimate"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Binary-segmentation changepoint (exact between-segment argmax)
# --------------------------------------------------------------------------

_BSEG_S = 10**6  # mean-gap display scale


@register(
    "ts_changepoint_binseg",
    oracle=f"""
    WITH m AS (
      SELECT EXTRACT(YEAR FROM o_orderdate) * 12
             + EXTRACT(MONTH FROM o_orderdate) AS mnum,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM orders GROUP BY mnum
    ),
    t AS (
      SELECT CAST(SUM(y) AS BIGINT) AS tot, CAST(COUNT(*) AS BIGINT) AS n
      FROM m
    ),
    c AS (
      SELECT m.mnum,
             ROW_NUMBER() OVER (ORDER BY m.mnum) AS k,
             SUM(m.y) OVER (ORDER BY m.mnum ROWS UNBOUNDED PRECEDING) AS sl,
             t.tot, t.n
      FROM m CROSS JOIN t
    ),
    cand AS (
      SELECT mnum, k,
             CAST(k AS BIGINT) AS n_left,
             CAST(n - k AS BIGINT) AS n_right,
             CAST(sl * (n - k) - (tot - sl) * k AS BIGINT) AS a_num,
             CAST(k * (n - k) AS BIGINT) AS den
      FROM c WHERE k < n
    ),
    flagged AS (
      SELECT a.mnum, a.n_left, a.n_right,
             CAST(({_BSEG_S} * abs(a.a_num)) // a.den AS BIGINT)
               AS mean_gap_scaled,
             CAST(CASE WHEN MIN(CASE WHEN
                 CAST(a.a_num AS HUGEINT) * a.a_num * b.den
                   > CAST(b.a_num AS HUGEINT) * b.a_num * a.den
                 OR (CAST(a.a_num AS HUGEINT) * a.a_num * b.den
                     = CAST(b.a_num AS HUGEINT) * b.a_num * a.den
                     AND a.k <= b.k)
               THEN 1 ELSE 0 END) = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_best
      FROM cand a CROSS JOIN cand b
      GROUP BY a.mnum, a.n_left, a.n_right, a.a_num, a.den
    )
    SELECT mnum AS split_after_month, n_left, n_right, mean_gap_scaled,
           is_best
    FROM flagged ORDER BY split_after_month
    """,
    doc=(
        "Binary-segmentation changepoint on the monthly order series — "
        "the first split of the classic binseg/PELT family: choose the "
        "boundary maximizing the between-segment term "
        "n_l·n_r·(mean_l - mean_r)²/n, equivalently minimizing total "
        "within-segment SSE. The gain ordering is decided EXACTLY: "
        "gains are rationals A²/(n_l·n_r) with A = S_l·n_r - S_r·n_l, "
        "so the argmax is found by cross-multiplied integer comparison "
        "over all candidate pairs (DECIMAL(38,0)/HUGEINT products; "
        "O(months²) pairs of a broadcast-tiny relation) — no float "
        "enters the decision, unlike variance-based detectors that "
        "tie-break on rounding. Complements CUSUM (level-shift "
        "evidence) with the segmentation objective optimizers "
        "actually use. 100 TB shape: facts touched once by the month "
        "rollup; everything after runs on the O(months) summary."
    ),
    tags=("timeseries", "monitoring", "changepoint", "orders"),
)
def ts_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mnum")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    t = m.agg(
        F.sum("y").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    w = Window.orderBy("mnum").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wr = Window.orderBy("mnum")
    c = m.crossJoin(F.broadcast(t)).select(
        "mnum",
        F.row_number().over(wr).alias("k"),
        F.sum("y").over(w).alias("sl"),
        "tot",
        "n",
    )
    cand = c.filter(F.col("k") < F.col("n")).select(
        "mnum",
        "k",
        F.col("k").cast("long").alias("n_left"),
        (F.col("n") - F.col("k")).cast("long").alias("n_right"),
        (
            F.col("sl") * (F.col("n") - F.col("k"))
            - (F.col("tot") - F.col("sl")) * F.col("k")
        )
        .cast("long")
        .alias("a_num"),
        (F.col("k") * (F.col("n") - F.col("k"))).cast("long").alias("den"),
    )
    a = cand.select(
        F.col("mnum"),
        F.col("k"),
        F.col("n_left"),
        F.col("n_right"),
        F.col("a_num"),
        F.col("den"),
    )
    b = cand.select(
        F.col("k").alias("k_b"),
        F.col("a_num").alias("a_num_b"),
        F.col("den").alias("den_b"),
    )
    ga = F.expr("CAST(a_num AS DECIMAL(38,0)) * a_num * den_b")
    gb = F.expr("CAST(a_num_b AS DECIMAL(38,0)) * a_num_b * den")
    beats = (ga > gb) | ((ga == gb) & (F.col("k") <= F.col("k_b")))
    flagged = (
        a.join(F.broadcast(b))
        .groupBy("mnum", "n_left", "n_right", "a_num", "den")
        .agg(
            F.min(beats.cast("int")).alias("all_beat"),
        )
        .select(
            F.col("mnum").alias("split_after_month"),
            "n_left",
            "n_right",
            F.expr(f"({_BSEG_S} * abs(a_num)) div den")
            .cast("long")
            .alias("mean_gap_scaled"),
            (F.col("all_beat") == 1).cast("long").alias("is_best"),
        )
    )
    return flagged.orderBy("split_after_month")


# --------------------------------------------------------------------------
# Dominant-period detection (seasonal-strength sweep + argmax)
# --------------------------------------------------------------------------

_PGRAM_PERIODS = (3, 4, 6, 12, 24)
_PGRAM_S = 10**6


@register(
    "ts_period_detect_argmax",
    oracle=f"""
    WITH m AS (
      SELECT EXTRACT(YEAR FROM o_orderdate) * 12
             + EXTRACT(MONTH FROM o_orderdate) AS mnum,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM orders GROUP BY mnum
    ),
    idx AS (
      SELECT mnum, y, ROW_NUMBER() OVER (ORDER BY mnum) - 1 AS i FROM m
    ),
    fanned AS (
      SELECT p.p, idx.i % p.p AS pos, idx.y
      FROM idx CROSS JOIN
           (VALUES {", ".join(f"({p})" for p in _PGRAM_PERIODS)}) p(p)
    ),
    per_pos AS (
      SELECT p, pos, SUM(y) AS sp, COUNT(*) AS np
      FROM fanned GROUP BY p, pos
    ),
    tot AS (
      SELECT CAST(SUM(y) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
      FROM idx
    ),
    scored AS (
      SELECT pp.p AS period,
             CAST(SUM((CAST({_PGRAM_S} AS HUGEINT) * pp.sp * pp.sp) // pp.np)
                  - (CAST({_PGRAM_S} AS HUGEINT) * t.s * t.s) // t.n
                  AS BIGINT) AS ssb_scaled
      FROM per_pos pp CROSS JOIN tot t
      GROUP BY pp.p, t.s, t.n
    ),
    best AS (
      SELECT period AS bp FROM scored
      ORDER BY ssb_scaled DESC, period LIMIT 1
    )
    SELECT s.period, s.ssb_scaled,
           CAST(CASE WHEN s.period = b.bp THEN 1 ELSE 0 END AS BIGINT)
             AS is_best
    FROM scored s CROSS JOIN best b
    ORDER BY s.period
    """,
    doc=(
        "Dominant-period detection — the step BEFORE every seasonal "
        "model in the repo (Holt-Winters, seasonal decompose, "
        "harmonic regression all take the period as given; this "
        "finds it): for each candidate period P the monthly series "
        "is folded to phase positions i mod P and scored by the "
        "between-position sum of squares SSB(P) = Σ S_p²/n_p − "
        "S²/N — the ANOVA seasonal-strength statistic, equal to the "
        "periodogram's energy at that period up to the within-term. "
        "Every division is a floor-div on the SAME 1e6-scaled "
        "DECIMAL(38,0)/HUGEINT quantities in both engines, so the "
        "score table and the (score desc, period) argmax are "
        "hash-exact. Facts touched once by the month rollup; the "
        "sweep is a x|P| literal fanout of the O(months) summary."
    ),
    tags=("timeseries", "seasonality", "orders"),
)
def ts_period_detect_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mnum")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    idx = m.select(
        "y", (F.row_number().over(Window.orderBy("mnum")) - 1).alias("i")
    )
    pcol = F.explode(
        F.array(*[F.lit(p) for p in _PGRAM_PERIODS])
    ).alias("p")
    fanned = idx.select("i", "y", pcol).select(
        "p", (F.col("i") % F.col("p")).alias("pos"), "y"
    )
    per_pos = fanned.groupBy("p", "pos").agg(
        F.sum("y").alias("sp"), F.count(F.lit(1)).alias("np")
    )
    tot = idx.agg(
        F.sum("y").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    scored = (
        per_pos.crossJoin(F.broadcast(tot))
        .groupBy(F.col("p").alias("period"), "s", "n")
        .agg(
            F.expr(
                f"CAST(SUM((CAST({_PGRAM_S} AS DECIMAL(38,0)) * sp * sp)"
                f" div np) - (CAST({_PGRAM_S} AS DECIMAL(38,0)) * s * s)"
                f" div n AS BIGINT)"
            ).alias("ssb_scaled")
        )
        .select("period", "ssb_scaled")
    )
    best = (
        scored.orderBy(F.col("ssb_scaled").desc(), "period")
        .limit(1)
        .select(F.col("period").alias("bp"))
    )
    return (
        scored.crossJoin(F.broadcast(best))
        .select(
            F.col("period").cast("long").alias("period"),
            "ssb_scaled",
            (F.col("period") == F.col("bp")).cast("long").alias("is_best"),
        )
        .orderBy("period")
    )


# --------------------------------------------------------------------------
# Croston's method for intermittent demand
# --------------------------------------------------------------------------

_CR_DAYS = 30
_CR_S = 10**6  # state scale
_CR_MOD = 97   # order-key sparsifier: keeps ~1% of orders as "demand"


def _croston_oracle() -> str:
    head = f"""
    WITH daily AS (
      SELECT o_orderpriority AS priority, dayofmonth(o_orderdate) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders
      WHERE o_orderkey % {_CR_MOD} = 0 AND dayofmonth(o_orderdate) <= {_CR_DAYS}
      GROUP BY priority, day
    ),
    pri AS (SELECT DISTINCT o_orderpriority AS priority FROM orders),
    spine AS (
      SELECT p.priority, s.day
      FROM pri p CROSS JOIN (
        SELECT unnest(generate_series(1, {_CR_DAYS})) AS day) s
    ),
    obs AS (
      SELECT s.priority,
             list(COALESCE(d.cnt, 0) ORDER BY s.day) AS o
      FROM spine s LEFT JOIN daily d
        ON s.priority = d.priority AND s.day = d.day
      GROUP BY s.priority
    ),
    h0 AS (
      SELECT priority, o, CAST(0 AS BIGINT) AS z, CAST(0 AS BIGINT) AS p,
             CAST(1 AS BIGINT) AS q, 0 AS ini
      FROM obs
    )"""
    parts = [head]
    for t in range(1, _CR_DAYS + 1):
        parts.append(f""",
    h{t} AS (
      SELECT priority, o,
        CASE WHEN o[{t}] > 0 THEN
          CASE WHEN ini = 0 THEN o[{t}] * {_CR_S}
               ELSE (4 * z + o[{t}] * {_CR_S}) // 5 END
        ELSE z END AS z,
        CASE WHEN o[{t}] > 0 THEN
          CASE WHEN ini = 0 THEN q * {_CR_S}
               ELSE (4 * p + q * {_CR_S}) // 5 END
        ELSE p END AS p,
        CASE WHEN o[{t}] > 0 THEN 1 ELSE q + 1 END AS q,
        CASE WHEN o[{t}] > 0 THEN 1 ELSE ini END AS ini
      FROM h{t - 1}
    )""")
    parts.append(f"""
    SELECT priority,
           CAST(len(list_filter(o, x -> x > 0)) AS BIGINT) AS n_demand,
           z AS z_scaled, p AS p_scaled,
           CAST(CASE WHEN ini = 1 THEN (z * {_CR_S}) // p ELSE 0 END
                AS BIGINT) AS forecast_scaled
    FROM h{_CR_DAYS}
    ORDER BY priority""")
    return "".join(parts)


@register(
    "ts_croston_intermittent",
    oracle=_croston_oracle(),
    doc=(
        "Croston's method (1972) — THE forecaster for intermittent "
        "demand, where plain exponential smoothing biases toward zero: "
        "demand sizes and inter-demand intervals get separate SES "
        "streams (updated only when demand occurs), and the rate "
        "forecast is their ratio z/p. State stays INTEGER: the "
        "alpha=1/5 update is written in its non-negative form "
        "(4*state + new*S)//5 so floor and truncate coincide and both "
        "engines agree bit-exactly; initialization is first-demand "
        "size / first-arrival interval, per the original paper. One "
        "series per order priority, demand sparsified to ~1% of "
        "orders. Spark threads the recursion through one fold_series "
        "loop per priority (exact Python ints); the oracle unrolls 30 "
        "chained CTEs. Scale: corpus contributes one "
        "groupBy(priority, day); the loop is O(days) per key — the "
        "per-SKU shape of retail demand pipelines."
    ),
    tags=("timeseries", "forecast", "iterative", "orders"),
)
def ts_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = (
        o.filter(
            (F.col("o_orderkey") % _CR_MOD == 0)
            & (F.dayofmonth("o_orderdate") <= _CR_DAYS)
        )
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.dayofmonth("o_orderdate").cast("long").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    pri = o.select(F.col("o_orderpriority").alias("priority")).distinct()
    spine = pri.crossJoin(
        spark.range(1, _CR_DAYS + 1).select(F.col("id").alias("day"))
    )
    filled = spine.join(daily, ["priority", "day"], "left").fillna(0, ["cnt"])

    def croston(key, rows):
        z, p, q, ini = 0, 0, 1, False
        for _, d in rows:
            if d > 0:
                z = (4 * z + d * _CR_S) // 5 if ini else d * _CR_S
                p = (4 * p + q * _CR_S) // 5 if ini else q * _CR_S
                q, ini = 1, True
            else:
                q += 1
        n_demand = sum(1 for _, d in rows if d > 0)
        return [(*key, n_demand, z, p, (z * _CR_S) // p if ini else 0)]

    return fold_series(
        filled, ["priority"], "day", ["cnt"],
        "priority string, n_demand long, z_scaled long, p_scaled long, "
        "forecast_scaled long",
        croston,
    ).orderBy("priority")


# --------------------------------------------------------------------------
# Ljung-Box portmanteau test for autocorrelation
# --------------------------------------------------------------------------

_LB_N = 30   # series length (days)
_LB_M = 7    # lags tested
_LB_R = 10**6  # autocorrelation scale


def _lb_oracle() -> str:
    n, m, r = _LB_N, _LB_M, _LB_R
    cks = ", ".join(
        f"""list_aggregate(list_transform(range({n - k}),
             i -> a[i + 1] * a[i + 1 + {k}]), 'sum') AS c{k}"""
        for k in range(0, m + 1)
    )
    lag_rows = " UNION ALL ".join(
        f"SELECT {k} AS lag, c{k} AS c_k, c0 FROM cs" for k in range(1, m + 1)
    )
    return f"""
    WITH daily AS (
      SELECT dayofmonth(ts) AS day,
             CAST(SUM(ROUND(value)) AS BIGINT) AS x
      FROM events WHERE dayofmonth(ts) <= {n}
      GROUP BY day
    ),
    spine AS (SELECT unnest(generate_series(1, {n})) AS day),
    obs AS (
      SELECT list(COALESCE(d.x, 0) ORDER BY s.day) AS o
      FROM spine s LEFT JOIN daily d ON s.day = d.day
    ),
    centered AS (
      SELECT list_transform(o, x ->
               {n} * x - list_aggregate(o, 'sum')) AS a
      FROM obs
    ),
    cs AS (SELECT {cks} FROM centered),
    lags AS ({lag_rows}),
    rr AS (
      SELECT lag, c_k, c0,
             CASE WHEN c0 = 0 THEN 0 ELSE
               (CASE WHEN c_k >= 0 THEN 1 ELSE -1 END)
               * ((CAST({r} AS HUGEINT) * ABS(c_k)) // c0)
             END AS r_scaled
      FROM lags
    ),
    terms AS (
      SELECT lag, c_k, r_scaled,
             ({n} * {n + 2} * r_scaled * r_scaled) // ({n} - lag) AS term
      FROM rr
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(c_k AS BIGINT) AS autocov_num,
           CAST(r_scaled AS BIGINT) AS r_scaled,
           CAST(term AS BIGINT) AS term_scaled,
           CAST((SELECT SUM(term) FROM terms) AS BIGINT) AS q_scaled
    FROM terms
    ORDER BY lag
    """


@register(
    "ts_ljung_box_q",
    oracle=_lb_oracle(),
    doc=(
        "Ljung-Box portmanteau test on the daily event-revenue series: "
        "Q = n(n+2) * sum_k r_k^2/(n-k) over the first 7 lags — THE "
        "is-it-white-noise gate run on model residuals before trusting "
        "any forecast. Exact arithmetic end to end: centering is "
        "n*x_i - S (no division), the truncated-sum autocovariances "
        "C_k are integer dot products of the shifted series, "
        "r_k = C_k/C_0 becomes a sign-safe scaled integer "
        "(|C_k| <= C_0 by Cauchy-Schwarz bounds it to +-1e6), and "
        "each lag's Q term takes one floored division — both engines "
        "execute the identical floor sequence, so every intermediate "
        "(autocovariance, correlation, term) is hash-pinned, not just "
        "Q. Corpus contact is one groupBy(day); the lag arithmetic "
        "folds over a 30-element array in-plan (per-key Q at 100 TB = "
        "the same fold inside groupBy(key))."
    ),
    tags=("timeseries", "statistics", "events", "diagnostics"),
)
def ts_ljung_box_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    n, m, r = _LB_N, _LB_M, _LB_R
    e = table(spark, sf_dir, "events")
    daily = (
        e.filter(F.dayofmonth("ts") <= n)
        .groupBy(F.dayofmonth("ts").alias("day"))
        .agg(F.sum(F.round("value")).cast("long").alias("x"))
    )
    spine = spark.range(1, n + 1).select(F.col("id").cast("int").alias("day"))
    obs = (
        spine.join(daily, "day", "left")
        .fillna(0, ["x"])
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("day", "x"))),
                lambda s: s["x"],
            ).alias("o")
        )
    )
    centered = obs.select(
        F.expr(
            f"transform(o, x -> {n} * x - aggregate(o, 0L, (acc, v) -> acc + v))"
        ).alias("a")
    )
    cks = [
        F.expr(
            f"aggregate(sequence(1, {n - k}), 0L,"
            f" (acc, i) -> acc + element_at(a, i) * element_at(a, i + {k}))"
        ).alias(f"c{k}")
        for k in range(0, m + 1)
    ]
    cs = centered.select(*cks)
    lag_rows = None
    for k in range(1, m + 1):
        row = cs.select(
            F.lit(k).cast("long").alias("lag"),
            F.col(f"c{k}").alias("c_k"),
            F.col("c0"),
        )
        lag_rows = row if lag_rows is None else lag_rows.unionAll(row)
    rr = lag_rows.select(
        "lag",
        "c_k",
        F.expr(
            f"CASE WHEN c0 = 0 THEN 0 ELSE"
            f" (CASE WHEN c_k >= 0 THEN 1 ELSE -1 END)"
            f" * ((CAST({r} AS DECIMAL(38,0)) * ABS(c_k)) div c0) END"
        )
        .cast("long")
        .alias("r_scaled"),
    )
    terms = rr.select(
        "lag",
        "c_k",
        "r_scaled",
        F.expr(
            f"({n} * {n + 2} * r_scaled * r_scaled) div ({n} - lag)"
        ).alias("term"),
    )
    total = terms.agg(F.sum("term").alias("q_scaled"))
    return (
        terms.crossJoin(F.broadcast(total))
        .select(
            "lag",
            F.col("c_k").cast("long").alias("autocov_num"),
            F.col("r_scaled").cast("long"),
            F.col("term").cast("long").alias("term_scaled"),
            F.col("q_scaled").cast("long"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# Salted two-phase exact COUNT(DISTINCT) — the hot-key skew rewrite
# ---------------------------------------------------------------------------

_SALT_N = 16


@register(
    "agg_distinct_salted_twophase",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_cust,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc=(
        "Exact per-key COUNT(DISTINCT) via SALTED two-phase aggregation "
        "— the rewrite for the hot-key cliff: a plain "
        "groupBy(key).agg(countDistinct(v)) must co-locate EVERY row of "
        "a hot key on one task. Phase 1 groups by (key, "
        "hash(v) % 16) — the salt is derived from the DISTINCT-counted "
        "value itself, so equal values always land in the same salt "
        "bucket and per-bucket distinct counts are disjoint; phase 2 "
        "SUMS the 16 partial distinct counts per key. Each phase-1 "
        "task sees at most 1/16th of a hot key's rows; adding salt "
        "width scales the skew relief linearly. The companion count(*) "
        "rides the same shuffle. The oracle is the direct one-phase "
        "form — hash-green proves the rewrite exact, which is the "
        "whole point (approx-distinct is the OTHER answer to this "
        "problem; this one stays exact)."
    ),
    tags=("aggregate", "skew", "orders"),
)
def agg_distinct_salted_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_orderstatus", "o_custkey")
    phase1 = (
        o.withColumn("salt", F.pmod(F.hash("o_custkey"), F.lit(_SALT_N)))
        .groupBy("o_orderstatus", "salt")
        .agg(
            F.countDistinct("o_custkey").alias("d_part"),
            F.count(F.lit(1)).alias("n_part"),
        )
    )
    return (
        phase1.groupBy("o_orderstatus")
        .agg(
            F.sum("d_part").cast("long").alias("n_distinct_cust"),
            F.sum("n_part").cast("long").alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Adstock (geometric carryover) transform — marketing-mix preprocessing
# ---------------------------------------------------------------------------

_AD_DAYS = 30


def _adstock_oracle() -> str:
    head = f"""
    WITH daily AS (
      SELECT o_orderpriority AS channel, dayofmonth(o_orderdate) AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS spend
      FROM orders
      WHERE dayofmonth(o_orderdate) <= {_AD_DAYS}
      GROUP BY channel, day
    ),
    ch AS (SELECT DISTINCT o_orderpriority AS channel FROM orders),
    spine AS (
      SELECT c.channel, s.day
      FROM ch c CROSS JOIN (
        SELECT unnest(generate_series(1, {_AD_DAYS})) AS day) s
    ),
    obs AS (
      SELECT s.channel,
             list(COALESCE(d.spend, 0) ORDER BY s.day) AS o
      FROM spine s LEFT JOIN daily d
        ON s.channel = d.channel AND s.day = d.day
      GROUP BY s.channel
    ),
    a0 AS (
      SELECT channel, o, CAST(0 AS BIGINT) AS a, CAST(0 AS BIGINT) AS tot,
             CAST(0 AS BIGINT) AS pk, CAST(0 AS BIGINT) AS pkday
      FROM obs
    )"""
    parts = [head]
    for t in range(1, _AD_DAYS + 1):
        parts.append(f""",
    a{t} AS (
      SELECT channel, o,
        o[{t}] + a // 2 AS a,
        tot + o[{t}] + a // 2 AS tot,
        CASE WHEN o[{t}] + a // 2 > pk THEN o[{t}] + a // 2 ELSE pk END AS pk,
        CASE WHEN o[{t}] + a // 2 > pk THEN {t} ELSE pkday END AS pkday
      FROM a{t - 1}
    )""")
    parts.append(f"""
    SELECT channel,
           a AS adstock_final,
           tot AS adstock_total,
           pk AS adstock_peak,
           CAST(pkday AS BIGINT) AS peak_day
    FROM a{_AD_DAYS}
    ORDER BY channel""")
    return "".join(parts)


@register(
    "analytics_adstock_carryover",
    oracle=_adstock_oracle(),
    doc=(
        "Adstock / geometric carryover transform (Broadbent 1979) — "
        "the marketing-mix-model preprocessing step that spreads each "
        "period's ad spend into following periods: a_t = x_t + "
        "lambda*a_(t-1) with lambda = 1/2 written in INTEGER form "
        "(a//2, floor == truncate on non-negatives) so 30 chained "
        "updates stay bit-exact across engines — the same "
        "integer-recursion discipline as ts_croston_intermittent. "
        "Emits per channel the final carried stock, the total "
        "carried exposure, and the peak (value, day). Spark threads "
        "the recursion through one fold_series loop per channel "
        "(exact Python ints); the oracle unrolls 30 CTEs. Scale: the "
        "corpus contributes one groupBy(channel, day); the loop is "
        "O(days) per channel."
    ),
    tags=("analytics", "timeseries", "iterative", "orders"),
)
def analytics_adstock_carryover(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = (
        o.filter(F.dayofmonth("o_orderdate") <= _AD_DAYS)
        .groupBy(
            F.col("o_orderpriority").alias("channel"),
            F.dayofmonth("o_orderdate").cast("long").alias("day"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("spend")
        )
    )
    ch = o.select(F.col("o_orderpriority").alias("channel")).distinct()
    spine = ch.crossJoin(
        spark.range(1, _AD_DAYS + 1).select(F.col("id").alias("day"))
    )
    filled = spine.join(daily, ["channel", "day"], "left").fillna(0, ["spend"])

    def adstock(key, rows):
        a = tot = pk = pk_day = 0
        for t, (_, x) in enumerate(rows, 1):
            a = x + a // 2
            tot += a
            if a > pk:
                pk, pk_day = a, t
        return [(*key, a, tot, pk, pk_day)]

    return fold_series(
        filled, ["channel"], "day", ["spend"],
        "channel string, adstock_final long, adstock_total long, "
        "adstock_peak long, peak_day long",
        adstock,
    ).orderBy("channel")


# ---------------------------------------------------------------------------
# Statistical process control: Nelson rules 1-3 on exact integers
# ---------------------------------------------------------------------------


@register(
    "ts_control_chart_nelson",
    oracle="""
    WITH x AS (
      SELECT dayofmonth(o_orderdate) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders WHERE dayofmonth(o_orderdate) <= 30
      GROUP BY day
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cnt) AS BIGINT) AS sx,
             CAST(SUM(cnt * cnt) AS BIGINT) AS sxx
      FROM x
    ),
    flagged AS (
      SELECT x.day, x.cnt,
             CASE WHEN (s.n * x.cnt - s.sx) * (s.n * x.cnt - s.sx)
                       > 9 * (s.n * s.sxx - s.sx * s.sx)
                  THEN 1 ELSE 0 END AS rule1_beyond_3sigma,
             CASE WHEN s.n * x.cnt - s.sx > 0 THEN 1
                  WHEN s.n * x.cnt - s.sx < 0 THEN -1 ELSE 0 END AS side,
             CASE WHEN x.cnt > LAG(x.cnt) OVER w THEN 1
                  WHEN x.cnt < LAG(x.cnt) OVER w THEN -1 ELSE 0 END AS trend
      FROM x, s
      WINDOW w AS (ORDER BY x.day)
    ),
    runs AS (
      SELECT day, cnt, rule1_beyond_3sigma, side, trend,
             CASE WHEN COUNT(*) OVER w9 = 9
                       AND (SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END)
                              OVER w9 = 9
                         OR SUM(CASE WHEN side = -1 THEN 1 ELSE 0 END)
                              OVER w9 = 9)
                  THEN 1 ELSE 0 END AS rule2_nine_one_side,
             CASE WHEN COUNT(*) OVER w5 = 5
                       AND (SUM(CASE WHEN trend = 1 THEN 1 ELSE 0 END)
                              OVER w5 = 5
                         OR SUM(CASE WHEN trend = -1 THEN 1 ELSE 0 END)
                              OVER w5 = 5)
                  THEN 1 ELSE 0 END AS rule3_six_trending
      FROM flagged
      WINDOW w9 AS (ORDER BY day ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
             w5 AS (ORDER BY day ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    )
    SELECT day, cnt,
           CAST(rule1_beyond_3sigma AS BIGINT) AS rule1_beyond_3sigma,
           CAST(rule2_nine_one_side AS BIGINT) AS rule2_nine_one_side,
           CAST(rule3_six_trending AS BIGINT) AS rule3_six_trending
    FROM runs
    ORDER BY day
    """,
    doc=(
        "Control-chart monitoring — Nelson rules 1-3 (Nelson, JQT "
        "1984) over the daily order-count series: rule 1 (a point "
        "beyond 3 sigma) is evaluated in EXACT integer form by "
        "cross-multiplication — (n*x - S)^2 > 9*(n*Sxx - S^2) avoids "
        "both the mean division and the sigma sqrt; rule 2 (nine "
        "consecutive points one side of the mean, sides from the "
        "integer sign of n*x - S) and rule 3 (six points steadily "
        "in/decreasing = five monotone steps) are rolling-frame "
        "window counts. The corpus pass is ONE groupBy(day); every "
        "window runs on the O(days) summary series (allowlisted "
        "funnel, same as the other ts_* summary windows). This is "
        "the anomaly gate SRE/manufacturing dashboards run on every "
        "metric stream."
    ),
    tags=("timeseries", "quality", "orders"),
)
def ts_control_chart_nelson(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    x = (
        table(spark, sf_dir, "orders")
        .filter(F.dayofmonth("o_orderdate") <= 30)
        .groupBy(F.dayofmonth("o_orderdate").cast("long").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    s = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cnt").cast("long").alias("sx"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("sxx"),
    )
    w = Window.orderBy("day")
    flagged = x.crossJoin(F.broadcast(s)).select(
        "day",
        "cnt",
        (
            (F.col("n") * F.col("cnt") - F.col("sx"))
            * (F.col("n") * F.col("cnt") - F.col("sx"))
            > 9 * (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        )
        .cast("long")
        .alias("rule1_beyond_3sigma"),
        F.signum((F.col("n") * F.col("cnt") - F.col("sx")).cast("double"))
        .cast("long")
        .alias("side"),
        F.when(F.col("cnt") > F.lag("cnt").over(w), F.lit(1))
        .when(F.col("cnt") < F.lag("cnt").over(w), F.lit(-1))
        .otherwise(F.lit(0))
        .alias("trend"),
    )
    w9 = Window.orderBy("day").rowsBetween(-8, 0)
    w5 = Window.orderBy("day").rowsBetween(-4, 0)
    runs = flagged.select(
        "day",
        "cnt",
        "rule1_beyond_3sigma",
        (
            (F.count(F.lit(1)).over(w9) == 9)
            & (
                (F.sum((F.col("side") == 1).cast("long")).over(w9) == 9)
                | (F.sum((F.col("side") == -1).cast("long")).over(w9) == 9)
            )
        )
        .cast("long")
        .alias("rule2_nine_one_side"),
        (
            (F.count(F.lit(1)).over(w5) == 5)
            & (
                (F.sum((F.col("trend") == 1).cast("long")).over(w5) == 5)
                | (F.sum((F.col("trend") == -1).cast("long")).over(w5) == 5)
            )
        )
        .cast("long")
        .alias("rule3_six_trending"),
    )
    return runs.orderBy("day")
