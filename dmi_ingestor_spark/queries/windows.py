"""Window-function surface (SURVEY.md §2.5) and sort/limit/top-k (§2.6).

Absent from the reference (its only ordered scan is the band loop,
``dmi_ingestor/ingestor.py:103``). Every orderBy used for ranking or
limits includes a unique tiebreaker column so results are total-ordered
and reproducible against the oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dmi_ingestor_spark.catalog import table
from dmi_ingestor_spark.functions.exact import (
    sql_dec_to_double,
    sql_int_to_double,
    sql_sum_exact,
    sum_exact,
)
from dmi_ingestor_spark.operators.rowmap import fold_series
from dmi_ingestor_spark.registry import register


@register(
    "window_rank_orders_per_customer",
    oracle="""
    SELECT * FROM (
      SELECT
        o_custkey,
        o_orderkey,
        o_totalprice,
        ROW_NUMBER() OVER w AS rn,
        RANK() OVER w AS rnk,
        DENSE_RANK() OVER w AS drnk,
        CAST(NTILE(4) OVER w AS BIGINT) AS quartile
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    ) t
    WHERE rn <= 3
    """,
    doc=(
        "row_number/rank/dense_rank/ntile per customer; rn<=3 filter is "
        "the top-k-per-group idiom (Catalyst pushes the rank filter into "
        "the window via LimitPushDownThroughWindow at scale)."
    ),
    tags=("window", "topk"),
)
def window_rank_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_lag_lead_events",
    oracle="""
    SELECT
      user_id,
      event_id,
      event_type,
      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      epoch_us(CAST(LAG(ts) OVER w AS TIMESTAMP)) AS prev_ts_us,
      LEAD(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc=(
        "lag/lead over per-user event-time order. Timestamps are emitted "
        "as epoch microseconds (BIGINT) on both sides — tz- and "
        "precision-proof for the hash compare (FIXTURES.md ns→µs note)."
    ),
    tags=("window", "events"),
)
def window_lag_lead_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    to_us = lambda c: (F.unix_micros(F.col(c).cast("timestamp")))  # noqa: E731
    return e.select(
        "user_id",
        "event_id",
        "event_type",
        to_us("ts").alias("ts_us"),
        F.unix_micros(F.lag("ts").over(w).cast("timestamp")).alias("prev_ts_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "window_running_sum",
    oracle=f"""
    SELECT
      user_id,
      event_id,
      CAST(SUM(CAST(value AS DECIMAL(22,8))) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS DOUBLE) AS running_value,
      COUNT(*) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS running_n
    FROM events
    """,
    doc=(
        "Running (cumulative) sum per user in event-time order, explicit "
        "ROWS frame; decimal accumulation keeps the prefix sums "
        "order-exact so every row hash-matches the oracle."
    ),
    tags=("window", "events"),
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(22,8)")).over(w).cast("double").alias("running_value"),
        F.count(F.lit(1)).over(w).alias("running_n"),
    )


@register(
    "window_first_last_value",
    oracle="""
    SELECT DISTINCT
      user_id,
      FIRST_VALUE(event_type) OVER w AS first_type,
      LAST_VALUE(event_type) OVER w AS last_type,
      COUNT(*) OVER (PARTITION BY user_id) AS n_events
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
    doc="first/last value over the full per-user frame, deduped to one row per user.",
    tags=("window", "events"),
)
def window_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        e.select(
            "user_id",
            F.first("event_type").over(w).alias("first_type"),
            F.last("event_type").over(w).alias("last_type"),
            F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n_events"),
        )
        .distinct()
    )


@register(
    "window_rank_variants",
    oracle="""
    SELECT
      o_orderkey,
      o_custkey,
      CAST(RANK() OVER w AS BIGINT) AS rk,
      CAST(DENSE_RANK() OVER w AS BIGINT) AS drk,
      CAST(ROUND(PERCENT_RANK() OVER w * 1000000) AS BIGINT) AS pct_rk_q,
      CAST(ROUND(CUME_DIST() OVER w * 1000000) AS BIGINT) AS cume_q,
      NTH_VALUE(o_orderkey, 2) OVER (
        PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS second_best_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc=(
        "Rank-family coverage beyond rank/ntile: percent_rank and "
        "cume_dist (quantized x1e6 to integers — both engines compute "
        "the same exact rational, so the rounding is deterministic) and "
        "nth_value with an explicit running frame. One window spec "
        "shared by all ranks = a single sort per partition."
    ),
    tags=("window", "orders"),
)
def window_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w).cast("long").alias("rk"),
        F.dense_rank().over(w).cast("long").alias("drk"),
        F.round(F.percent_rank().over(w) * 1_000_000).cast("long").alias("pct_rk_q"),
        F.round(F.cume_dist().over(w) * 1_000_000).cast("long").alias("cume_q"),
        F.nth_value("o_orderkey", 2).over(running).alias("second_best_order"),
    )


# -- §2.6 sort / limit / top-k ---------------------------------------------
@register(
    "sort_limit_top_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
    doc=(
        "Global top-k: orderBy+limit, which Catalyst rewrites to "
        "TakeOrderedAndProject (per-partition heap + driver merge — no "
        "global sort shuffle). Unique tiebreaker keeps the k-boundary "
        "deterministic."
    ),
    tags=("sort", "topk"),
)
def sort_limit_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(25)
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT
      l.l_orderkey,
      {sql_sum_exact("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
      o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc=(
        "TPC-H Q3 shape: selective dim filter → broadcast customer → "
        "shuffle join orders⋈lineitem → agg → top-10. The revenue sort "
        "key is an exact decimal sum, so the LIMIT boundary is "
        "deterministic."
    ),
    tags=("join", "topk", "flagship"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(sum_exact(revenue, "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Cohort retention (product-analytics staple).
# --------------------------------------------------------------------------

_T0_US = 1_704_067_200_000_000  # 2024-01-01 UTC in epoch micros
_WEEK_US = 7 * 24 * 3_600_000_000


@register(
    "cohort_weekly_retention",
    oracle=f"""
    WITH t AS (
      SELECT user_id,
             (epoch_us(CAST(ts AS TIMESTAMP)) - {_T0_US}) // {_WEEK_US} AS wk
      FROM events
    ), f AS (
      SELECT user_id, wk, MIN(wk) OVER (PARTITION BY user_id) AS cohort_wk
      FROM t
    )
    SELECT CAST(cohort_wk AS BIGINT) AS cohort_week,
           CAST(wk - cohort_wk AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_users
    FROM f
    GROUP BY 1, 2
    """,
    doc=(
        "Weekly cohort retention: users bucketed by first-activity week "
        "(all-integer epoch-micros arithmetic — no date-type parity "
        "hazards), counted distinct per (cohort_week, week_offset). One "
        "shuffle on user_id serves BOTH the min-over-window cohort "
        "assignment and (via partial aggregation) the distinct count — "
        "the join-back formulation would shuffle the events twice."
    ),
    tags=("window", "cohort", "events", "analytics"),
)
def cohort_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select(
        "user_id",
        F.expr(
            f"(unix_micros(cast(ts as timestamp)) - {_T0_US}) div {_WEEK_US}"
        ).alias("wk"),
    )
    w = Window.partitionBy("user_id")
    f = e.withColumn("cohort_wk", F.min("wk").over(w))
    return (
        f.groupBy(
            F.col("cohort_wk").cast("long").alias("cohort_week"),
            (F.col("wk") - F.col("cohort_wk")).cast("long").alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").cast("long").alias("n_active_users"))
    )


# --------------------------------------------------------------------------
# Multi-step funnel conversion.
# --------------------------------------------------------------------------

_FUNNEL_STEP_US = 3_600_000_000  # 1 hour per step


@register(
    "funnel_conversion_3step",
    oracle=f"""
    WITH t AS (
      SELECT user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t
      FROM events
    ), s1 AS (
      SELECT *, MIN(CASE WHEN event_type = 'view' THEN t END)
                  OVER (PARTITION BY user_id) AS t1
      FROM t
    ), s2 AS (
      SELECT *, MIN(CASE WHEN event_type = 'click'
                          AND t > t1 AND t <= t1 + {_FUNNEL_STEP_US}
                         THEN t END)
                  OVER (PARTITION BY user_id) AS t2
      FROM s1
    ), s3 AS (
      SELECT *, MIN(CASE WHEN event_type = 'purchase'
                          AND t > t2 AND t <= t2 + {_FUNNEL_STEP_US}
                         THEN t END)
                  OVER (PARTITION BY user_id) AS t3
      FROM s2
    )
    SELECT
      CAST(COUNT(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END)
           AS BIGINT) AS n_viewed,
      CAST(COUNT(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END)
           AS BIGINT) AS n_clicked,
      CAST(COUNT(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END)
           AS BIGINT) AS n_purchased
    FROM s3
    """,
    doc=(
        "3-step funnel (view -> click within 1h -> purchase within 1h): "
        "each step's earliest qualifying time is a conditional MIN over "
        "the user partition, chained across three window passes that "
        "all share ONE user_id shuffle (Catalyst reuses the "
        "partitioning, so steps add window nodes, not Exchanges — "
        "check PLANS.md). All-integer epoch-micros comparisons; final "
        "row is the three distinct-user step counts."
    ),
    tags=("window", "funnel", "events", "analytics"),
)
def funnel_conversion_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("t")
    )
    w = Window.partitionBy("user_id")
    s = e.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("t"))).over(w)
    )
    s = s.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("t") > F.col("t1"))
                & (F.col("t") <= F.col("t1") + _FUNNEL_STEP_US),
                F.col("t"),
            )
        ).over(w),
    )
    s = s.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("t") > F.col("t2"))
                & (F.col("t") <= F.col("t2") + _FUNNEL_STEP_US),
                F.col("t"),
            )
        ).over(w),
    )
    return s.agg(
        F.count_distinct(
            F.when(F.col("t1").isNotNull(), F.col("user_id"))
        ).cast("long").alias("n_viewed"),
        F.count_distinct(
            F.when(F.col("t2").isNotNull(), F.col("user_id"))
        ).cast("long").alias("n_clicked"),
        F.count_distinct(
            F.when(F.col("t3").isNotNull(), F.col("user_id"))
        ).cast("long").alias("n_purchased"),
    )


# --------------------------------------------------------------------------
# Time-series gap-fill + linear interpolation (hypertable staple).
# --------------------------------------------------------------------------

_GF_HOUR_US = 3_600_000_000
_GF_MIN_N = 4  # hours with fewer click events are treated as gaps


@register(
    "ts_gapfill_interpolate",
    oracle=f"""
    WITH base AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // {_GF_HOUR_US} AS h,
             COUNT(*) AS n,
             CAST(FLOOR(SUM(CAST(value AS DECIMAL(22,8)))) AS DOUBLE)
             + CAST(SUM(CAST(value AS DECIMAL(22,8)))
                    - FLOOR(SUM(CAST(value AS DECIMAL(22,8)))) AS DOUBLE)
               AS sum_v
      FROM events WHERE event_type = 'click'
      GROUP BY h
    ), sparse AS (
      SELECT h, sum_v / n AS v FROM base WHERE n >= {_GF_MIN_N}
    ), ext AS (
      SELECT MIN(h) AS hmin, MAX(h) AS hmax FROM base
    ), spine AS (
      SELECT u.h FROM ext, UNNEST(generate_series(hmin, hmax)) AS u(h)
    ), joined AS (
      SELECT spine.h, sparse.v FROM spine LEFT JOIN sparse ON spine.h = sparse.h
    ), f AS (
      SELECT h, v,
        last_value(v IGNORE NULLS) OVER (
          ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER (
          ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        first_value(v IGNORE NULLS) OVER (
          ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER (
          ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
      FROM joined
    )
    SELECT CAST(h AS BIGINT) AS h,
           v IS NOT NULL AS was_observed,
           CAST(FLOOR(1000000 * (
             CASE WHEN v IS NOT NULL THEN v
                  WHEN pv IS NULL THEN nv
                  WHEN nv IS NULL THEN pv
                  ELSE pv + (nv - pv) * (h - ph) / (nh - ph) END
           )) AS BIGINT) AS interp_q
    FROM f
    """,
    doc=(
        "Hypertable gap-fill: hourly click averages sparsified (hours "
        "under a count threshold become gaps), re-densified onto a full "
        "hour spine, and linearly interpolated between the nearest "
        "observed neighbors via IGNORE-NULLS window frames (edges "
        "carry-forward/backward). Averages go through exact-decimal "
        "sums so both engines interpolate IDENTICAL doubles with the "
        "identical op sequence; the output is floor-quantized x1e6. "
        "One sort-per-series at scale: partition the window by series "
        "key (single series here), never a global sort."
    ),
    tags=("window", "timeseries", "gapfill", "events"),
)
def ts_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.functions.exact import DEC, dec_to_double

    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    base = (
        e.select(
            F.expr(f"unix_micros(cast(ts as timestamp)) div {_GF_HOUR_US}").alias("h"),
            "value",
        )
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_to_double(F.sum(F.col("value").cast(DEC))).alias("sum_v"),
        )
    )
    sparse = base.filter(F.col("n") >= _GF_MIN_N).select(
        "h", (F.col("sum_v") / F.col("n")).alias("v")
    )
    ext = base.agg(F.min("h").alias("hmin"), F.max("h").alias("hmax"))
    spine = ext.select(
        F.explode(F.sequence(F.col("hmin"), F.col("hmax"))).alias("h")
    )
    joined = spine.join(sparse, "h", "left")
    w_before = (
        Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    )
    # forward neighbor via a DESCENDING running frame, not
    # (currentRow, unboundedFollowing): Spark re-scans a shrinking
    # frame from each row to the end (O(spine^2)); the desc running
    # last(ignorenulls) is the same value in O(spine) (same class as
    # the caliper-matching r8 finding).
    w_after = Window.orderBy(F.desc("h")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    obs_h = F.when(F.col("v").isNotNull(), F.col("h"))
    f = joined.select(
        "h",
        "v",
        F.last("v", ignorenulls=True).over(w_before).alias("pv"),
        F.last(obs_h, ignorenulls=True).over(w_before).alias("ph"),
        F.last("v", ignorenulls=True).over(w_after).alias("nv"),
        F.last(obs_h, ignorenulls=True).over(w_after).alias("nh"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("h") - F.col("ph"))
            / (F.col("nh") - F.col("ph"))
        )
    )
    return f.select(
        F.col("h").cast("long").alias("h"),
        F.col("v").isNotNull().alias("was_observed"),
        F.floor(F.lit(1_000_000) * interp).cast("long").alias("interp_q"),
    )


@register(
    "window_frame_semantics",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type, user_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    )
    SELECT event_id, event_type, cents,
           CAST(SUM(user_id) OVER (
             PARTITION BY event_type ORDER BY cents
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS range_sum,
           CAST(SUM(user_id) OVER (
             PARTITION BY event_type ORDER BY cents, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS rows_sum
    FROM e
    """,
    doc=(
        "§2.5 frame semantics, pinned: a RANGE frame includes all "
        "PEERS of the current order value (ties share one running "
        "total), a ROWS frame cuts between them — the classic silent "
        "wrong-number bug when a cumulative sum meets duplicate keys. "
        "The ROWS variant totals over a UNIQUE order (tie-broken by "
        "event_id) because a ROWS frame over a non-unique order is "
        "nondeterministic by definition; integer sums keep both "
        "hash-exact."
    ),
    tags=("window", "frames", "events"),
)
def window_frame_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w_range = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_rows = (
        Window.partitionBy("event_type")
        .orderBy("cents", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "event_type",
        "cents",
        F.sum("user_id").over(w_range).alias("range_sum"),
        F.sum("user_id").over(w_rows).alias("rows_sum"),
    )


@register(
    "window_null_ordering",
    oracle="""
    WITH last_order AS (
      SELECT c.c_custkey, c.c_mktsegment,
             MAX(epoch_us(o.o_orderdate)) AS last_us
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_mktsegment
    )
    SELECT c_custkey, c_mktsegment, last_us,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY c_mktsegment
             ORDER BY last_us DESC NULLS LAST, c_custkey
           ) AS BIGINT) AS recency_rank
    FROM last_order
    """,
    doc=(
        "Null-ordering semantics, pinned: customers ranked by last "
        "order recency, never-ordered customers (NULL) explicitly "
        "LAST. This column exists because the engines DISAGREE by "
        "default — Spark sorts ascending NULLS FIRST / descending "
        "NULLS LAST, DuckDB defaults to NULLS LAST everywhere — so "
        "any rank over a nullable key that doesn't spell the "
        "placement out is silently engine-dependent. desc_nulls_last "
        "+ unique tiebreak makes the rank total and portable."
    ),
    tags=("window", "null-semantics", "customer"),
)
def window_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    last = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.max(
                F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            ).alias("last_us")
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("last_us").desc_nulls_last(), "c_custkey"
    )
    return last.select(
        "c_custkey",
        "c_mktsegment",
        "last_us",
        F.row_number().over(w).cast("long").alias("recency_rank"),
    )


@register(
    "analytics_top_paths",
    oracle="""
    WITH paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM events
      GROUP BY user_id
    ), counted AS (
      SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM paths GROUP BY path
    )
    SELECT path, n_users
    FROM counted
    QUALIFY ROW_NUMBER() OVER (ORDER BY n_users DESC, path) <= 20
    """,
    doc=(
        "Behavioral path analysis (trajectory-mining shape): each "
        "user's full event-type sequence in time order becomes one "
        "path string, then the 20 most common paths. The sequence "
        "build is sort_array(collect_list(struct)) inside ONE "
        "aggregate — per-user data never leaves its group, no window "
        "over raw events; the top-k over path counts is "
        "TakeOrdered-sized. Ordered string_agg is the DuckDB twin."
    ),
    tags=("window", "paths", "events", "analytics"),
)
def analytics_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
    )
    paths = e.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("t", "event_id", "event_type"))
                ),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    w = Window.orderBy(F.col("n_users").desc(), "path")
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Time-weighted average over an irregular series (hypertable TWAP)
# ---------------------------------------------------------------------------


@register(
    "ts_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS v_int,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t,
             LEAD(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS t_next
      FROM events
    )
    SELECT event_type,
           CAST(SUM(v_int * (t_next - t)) AS BIGINT) AS twap_num,
           CAST(SUM(t_next - t) AS BIGINT) AS twap_den,
           CAST(SUM(v_int * (t_next - t)) // SUM(t_next - t) AS BIGINT)
             AS twap_c
    FROM seq
    WHERE t_next IS NOT NULL
    GROUP BY event_type
    """,
    doc=(
        "Time-weighted average over an irregularly sampled series "
        "(TimescaleDB time_weight / kdb twap): each observation's value "
        "is held until the next one, so the mean weights by holding "
        "duration, not sample count — THE correct average for "
        "event-driven feeds where quiet periods under-sample. "
        "All-integer: values in centi-units, durations in epoch-micros "
        "deltas via lead(), numerator/denominator summed as BIGINTs "
        "and floor-divided, so the iteration-free plan (one window "
        "Exchange on event_type reused by the grouped agg) is "
        "hash-exact. The totally-ordered (ts, event_id) sort key makes "
        "lead() deterministic under timestamp ties."
    ),
    tags=("window", "timeseries", "events"),
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("v_int"),
        t.alias("t"),
    ).withColumn("t_next", F.lead("t").over(w))
    return (
        seq.filter(F.col("t_next").isNotNull())
        .groupBy("event_type")
        .agg(
            F.sum(F.col("v_int") * (F.col("t_next") - F.col("t"))).alias("twap_num"),
            F.sum(F.col("t_next") - F.col("t")).alias("twap_den"),
        )
        .select(
            "event_type",
            "twap_num",
            "twap_den",
            F.expr("twap_num div twap_den").alias("twap_c"),
        )
    )


# ---------------------------------------------------------------------------
# Running distinct count (COUNT(DISTINCT) OVER — Spark lacks it; the
# first-seen-flag cumulative sum is the standard equivalent)
# ---------------------------------------------------------------------------


@register(
    "window_running_distinct",
    oracle="""
    SELECT event_type, event_id,
           COUNT(DISTINCT user_id) OVER (
             PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS run_dist
    FROM events
    """,
    doc=(
        "Running distinct-user count per event type. Spark does not "
        "support COUNT(DISTINCT) as a window function; the engine uses "
        "the standard equivalent — flag each (type, user)'s FIRST "
        "occurrence via row_number()==1, then a cumulative SUM of the "
        "flags — while the DuckDB oracle runs the native "
        "COUNT(DISTINCT) OVER, so the hash match PROVES the rewrite is "
        "semantically identical, not merely similar. Two window passes "
        "(two Exchanges: the first-seen pass keys by (type, user), the "
        "running sum re-keys by type alone), and "
        "at 100 TB both are plain bounded-state window scans — no "
        "per-row distinct set is materialized anywhere (the naive "
        "implementation holds a hash set per frame, O(users) memory "
        "per row; the rewrite is O(1))."
    ),
    tags=("window", "distinct", "events"),
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select(
        "event_type", "event_id", "ts", "user_id"
    )
    w_seen = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.withColumn(
            "first_seen", (F.row_number().over(w_seen) == 1).cast("long")
        )
        .withColumn("run_dist", F.sum("first_seen").over(w_run))
        .select("event_type", "event_id", "run_dist")
    )


# ---------------------------------------------------------------------------
# CEP-lite pattern detection (MATCH_RECOGNIZE / Flink CEP analogue)
# ---------------------------------------------------------------------------


@register(
    "analytics_cep_pattern",
    oracle="""
    WITH paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(CASE WHEN regexp_matches(
                  path, '(^|>)click>click>purchase(>|$)')
                THEN 1 ELSE 0 END AS BIGINT) AS has_funnel
    FROM paths
    """,
    doc=(
        "Complex-event-processing pattern detection without "
        "MATCH_RECOGNIZE (which Spark lacks): per user, the ordered "
        "event-type sequence is folded to ONE path string inside a "
        "single aggregate (array_sort(collect_list(struct)) — no "
        "window pass, no self-joins), then the pattern 'two "
        "consecutive clicks immediately followed by a purchase' is a "
        "regex over the path. Any regular pattern compiles to this "
        "form, which is why it is the scalable CEP fallback: one "
        "user-keyed Exchange, state bounded by events-per-user, and "
        "the regex runs JVM-side in codegen. The oracle builds the "
        "identical path with ORDER BY string_agg, so ordering ties "
        "(ts, event_id) are pinned too."
    ),
    tags=("analytics", "cep", "events"),
)
def analytics_cep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    path = F.concat_ws(
        ">",
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s.getField("event_type"),
        ),
    )
    return e.groupBy("user_id").agg(
        F.when(path.rlike("(^|>)click>click>purchase(>|$)"), 1)
        .otherwise(0)
        .cast("long")
        .alias("has_funnel")
    )


# ---------------------------------------------------------------------------
# Month-over-month growth (lag over an aggregate)
# ---------------------------------------------------------------------------


@register(
    "analytics_mom_growth",
    oracle="""
    WITH monthly AS (
      SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders
      GROUP BY 1
    )
    SELECT month, rev_c,
           LAG(rev_c) OVER (ORDER BY month) AS prev_rev_c,
           rev_c - LAG(rev_c) OVER (ORDER BY month) AS delta_c
    FROM monthly
    """,
    doc=(
        "Month-over-month revenue growth — the canonical "
        "window-over-aggregate composition: one grouped aggregate "
        "collapses the fact table to per-month cent totals (exact "
        "integer cents), then a single unpartitioned lag window walks "
        "the month spine. The global window is safe ONLY because it "
        "runs over the aggregate's output (dozens of rows), never the "
        "fact — at 100 TB the heavy lifting is all in the "
        "partial+final sum; the lag stage is O(months). Deltas stay "
        "integer cents (no ratio) so sign-dependent floor-vs-truncate "
        "division semantics never enter the hash."
    ),
    tags=("analytics", "window", "orders"),
)
def analytics_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format(F.col("o_orderdate").cast("timestamp"), "yyyy-MM").alias(
            "month"
        )
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_c")
    )
    w = Window.orderBy("month")
    return monthly.select(
        "month",
        "rev_c",
        F.lag("rev_c").over(w).alias("prev_rev_c"),
        (F.col("rev_c") - F.lag("rev_c").over(w)).alias("delta_c"),
    )


# ---------------------------------------------------------------------------
# RFM segmentation (recency / frequency / monetary quintiles)
# ---------------------------------------------------------------------------


@register(
    "analytics_rfm_segments",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             MAX(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS last_us,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_c
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, freq, monetary_c,
           CAST(NTILE(5) OVER (ORDER BY last_us DESC, o_custkey) AS BIGINT) AS r_score,
           CAST(NTILE(5) OVER (ORDER BY freq DESC, o_custkey) AS BIGINT) AS f_score,
           CAST(NTILE(5) OVER (ORDER BY monetary_c DESC, o_custkey) AS BIGINT)
             AS m_score
    FROM per_cust
    """,
    doc=(
        "RFM segmentation — the classic customer-analytics composition: "
        "ONE grouped aggregate reduces orders to per-customer "
        "(last-order epoch, order count, lifetime cents), then exact "
        "NTILE(5) quintiles on each dimension. Round 3 replaced the "
        "three unpartitioned ntile() windows (each an O(customers) "
        "SinglePartition sort — customers are NOT bounded at 100 TB) "
        "with the sharded-rank operator (operators/ranks.py): per "
        "dimension, one range shuffle + parallel local sorts + a "
        "closed-form NTILE expression, then hash-joins reassemble the "
        "three scores on o_custkey. Every NTILE order includes the "
        "o_custkey tiebreaker so quintile boundaries are total-ordered "
        "and hash-stable. All-integer (epoch-micros, counts, cents)."
    ),
    tags=("analytics", "window", "orders", "scale"),
)
def analytics_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.operators.ranks import (
        ntile_from_rank,
        sharded_row_number,
    )

    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max(F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias(
            "last_us"
        ),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("monetary_c"),
    ).cache()

    def score(value_col: str, out: str) -> DataFrame:
        ranked, n = sharded_row_number(
            per_cust.select("o_custkey", value_col),
            [F.col(value_col).desc(), F.col("o_custkey")],
            out="rn",
        )
        return ranked.select(
            "o_custkey", ntile_from_rank(F.col("rn"), n, 5).alias(out)
        )

    return (
        per_cust.join(score("last_us", "r_score"), "o_custkey")
        .join(score("freq", "f_score"), "o_custkey")
        .join(score("monetary_c", "m_score"), "o_custkey")
        .select(
            "o_custkey", "freq", "monetary_c", "r_score", "f_score", "m_score"
        )
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence (pair generation without a self-join)
# ---------------------------------------------------------------------------


@register(
    "analytics_copurchase_pairs",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS p1, b.l_partkey AS p2,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM op a
    JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    ORDER BY n_orders DESC, p1, p2
    LIMIT 50
    """,
    doc=(
        "Market-basket co-occurrence: top co-purchased part pairs with "
        "support >= 2. The oracle states it as the textbook self-join "
        "(op a JOIN op b ON same order, p1 < p2) — the form that "
        "re-shuffles the fact against itself. The engine instead "
        "groups each order once into a sorted part array (baskets are "
        "small and bounded) and generates the C(k,2) pairs with "
        "nested transform/slice/flatten — pure codegen, ONE pass over "
        "lineitem, and the only shuffles are the basket groupBy and "
        "the bounded pair count. The hash match proves the array "
        "enumeration is exactly the relational self-join. Top-50 by "
        "(support, p1, p2) is total-ordered → TakeOrdered, no global "
        "sort."
    ),
    tags=("analytics", "basket", "lineitem"),
)
def analytics_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) ->"
                " transform(slice(parts, i + 2, size(parts)),"
                "           y -> struct(x AS p1, y AS p2))))"
            )
        ).alias("pr")
    ).select("pr.p1", "pr.p2")
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .orderBy(F.col("n_orders").desc(), "p1", "p2")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Revenue concentration by customer decile (Pareto / Gini-lite)
# ---------------------------------------------------------------------------


@register(
    "analytics_revenue_concentration",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT o_custkey, rev_c,
             CAST(NTILE(10) OVER (ORDER BY rev_c DESC, o_custkey) AS BIGINT)
               AS decile
      FROM per_cust
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(rev_c) AS BIGINT) AS decile_rev_c,
           CAST((SUM(rev_c) * 1000) // (SELECT SUM(rev_c) FROM ranked)
                AS BIGINT) AS share_permille
    FROM ranked
    GROUP BY decile
    """,
    doc=(
        "Revenue concentration — 'what share do the top deciles hold': "
        "per-customer cent totals (one aggregate over the fact), "
        "NTILE(10) deciles over the reduced relation, then per-decile "
        "sums with an integer-permille share of the grand total (the "
        "scalar subquery broadcasts). The 80/20 concentration readout "
        "every revenue dashboard ships, all-integer so the division "
        "(positive operands: floor == truncate) hash-matches. Round 3: "
        "the decile comes from the sharded-rank operator "
        "(operators/ranks.py) instead of an unpartitioned ntile() "
        "window — customers are not bounded at 100 TB, so the exact "
        "global order is range-sharded, never single-task."
    ),
    tags=("analytics", "window", "orders", "scale"),
)
def analytics_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.operators.ranks import (
        ntile_from_rank,
        sharded_row_number,
    )

    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_c")
    )
    enumerated, n = sharded_row_number(
        per_cust, [F.col("rev_c").desc(), F.col("o_custkey")], out="rn"
    )
    ranked = enumerated.select(
        "o_custkey",
        "rev_c",
        ntile_from_rank(F.col("rn"), n, 10).alias("decile"),
    )
    total = ranked.agg(F.sum("rev_c").alias("grand_c"))
    return (
        ranked.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("rev_c").cast("long").alias("decile_rev_c"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_customers",
            "decile_rev_c",
            F.expr("(decile_rev_c * 1000) div grand_c").alias("share_permille"),
        )
    )


# ---------------------------------------------------------------------------
# Pagination (ORDER BY ... LIMIT with OFFSET, §2.6)
# ---------------------------------------------------------------------------


@register(
    "sort_limit_offset_page",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25 OFFSET 50
    """,
    doc=(
        "Keyset-free pagination — page 3 (rows 51-75) of the "
        "price-ordered order book via ORDER BY + OFFSET/LIMIT "
        "(DataFrame.offset, Spark 3.4+). The total order (price DESC, "
        "orderkey) makes the page deterministic; the planner still "
        "computes only a top-(offset+limit) per partition and merges "
        "(GlobalLimit over LocalLimits), never a full sort — but note "
        "the honest scale caveat: OFFSET cost grows with page depth, "
        "so deep pagination at 100 TB should switch to keyset "
        "pagination (WHERE (price, key) < last_seen ORDER BY ... "
        "LIMIT n), which sort_limit_top_orders' TakeOrdered shape "
        "covers."
    ),
    tags=("sort", "limit", "pagination", "orders"),
)
def sort_limit_offset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey").offset(50).limit(25)
    )


# --------------------------------------------------------------------------
# Gaps-and-islands: consecutive-month order streaks per customer
# --------------------------------------------------------------------------


@register(
    "window_gaps_islands",
    oracle="""
    WITH m AS (
      SELECT DISTINCT o_custkey,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mnum
      FROM orders
    ),
    isl AS (
      SELECT o_custkey, mnum,
             mnum - ROW_NUMBER() OVER (
               PARTITION BY o_custkey ORDER BY mnum
             ) AS grp
      FROM m
    ),
    runs AS (
      SELECT o_custkey, grp,
             COUNT(*) AS len,
             MIN(mnum) AS start_m
      FROM isl GROUP BY o_custkey, grp
    )
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(MIN(start_m) AS BIGINT) AS first_month
    FROM runs GROUP BY o_custkey
    """,
    doc=(
        "Gaps-and-islands: per customer, group the DISTINCT months with "
        "at least one order into maximal runs of consecutive months via "
        "the classic mnum - row_number() island key, then report island "
        "count, longest streak, and first active month. Scale shape: the "
        "window partitions by customer (cardinality ≈ rows/10, no global "
        "sort), input is pre-shrunk by DISTINCT to ≤ months-spanned rows "
        "per customer, and both downstream aggregates reuse the same "
        "hash-partitioning on o_custkey — Catalyst plans one Exchange."
    ),
    tags=("window", "analytics"),
)
def window_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    mnum = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long").alias("mnum")
    m = o.select("o_custkey", mnum).distinct()
    w = Window.partitionBy("o_custkey").orderBy("mnum")
    isl = m.withColumn("grp", F.col("mnum") - F.row_number().over(w))
    runs = isl.groupBy("o_custkey", "grp").agg(
        F.count(F.lit(1)).alias("len"), F.min("mnum").alias("start_m")
    )
    return runs.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.max("len").cast("long").alias("longest_streak"),
        F.min("start_m").cast("long").alias("first_month"),
    )


# --------------------------------------------------------------------------
# Seasonal-naive forecast + backtest (MAE) over the monthly revenue series
# --------------------------------------------------------------------------


@register(
    "ts_seasonal_naive_mae",
    oracle="""
    WITH monthly AS (
      SELECT o_orderpriority,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mnum,
             SUM(CAST(o_totalprice AS DECIMAL(22,8))) AS rev
      FROM orders
      GROUP BY o_orderpriority, year(o_orderdate) * 12 + month(o_orderdate)
    ),
    fc AS (
      SELECT o_orderpriority, mnum, rev,
             LAG(rev, 12) OVER w AS rev_fc,
             LAG(mnum, 12) OVER w AS mnum_fc
      FROM monthly
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY mnum)
    ),
    err AS (
      SELECT o_orderpriority, ABS(rev - rev_fc) AS e
      FROM fc
      WHERE rev_fc IS NOT NULL AND mnum_fc = mnum - 12
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_eval_months,
           (CAST(FLOOR(SUM(e)) AS DOUBLE)
            + CAST(SUM(e) - FLOOR(SUM(e)) AS DOUBLE)) / COUNT(*) AS mae
    FROM err
    GROUP BY o_orderpriority
    """,
    doc=(
        "Forecast backtesting: seasonal-naive (ŷ_m = y_{m-12}) monthly "
        "revenue forecast per order priority, scored by MAE over every "
        "month with a 12-months-prior observation (the contiguity guard "
        "lag(mnum,12) = mnum-12 keeps gapped series honest). The "
        "standard baseline any forecasting pipeline must beat — and the "
        "eval is ONE window pass over the already-aggregated O(months × "
        "priorities) series, so the 100 TB cost is the monthly rollup, "
        "which reuses the partial+final aggregate; errors accumulate in "
        "exact decimal and convert via the split decimal→double, so "
        "the MAE doubles are bit-identical."
    ),
    tags=("window", "timeseries", "forecast", "orders"),
)
def ts_seasonal_naive_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.functions.exact import DEC, dec_to_double

    o = table(spark, sf_dir, "orders")
    mnum = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    monthly = o.groupBy(
        "o_orderpriority", mnum.alias("mnum")
    ).agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("rev"))
    w = Window.partitionBy("o_orderpriority").orderBy("mnum")
    fc = monthly.select(
        "o_orderpriority",
        "mnum",
        "rev",
        F.lag("rev", 12).over(w).alias("rev_fc"),
        F.lag("mnum", 12).over(w).alias("mnum_fc"),
    )
    err = fc.where(
        F.col("rev_fc").isNotNull() & (F.col("mnum_fc") == F.col("mnum") - 12)
    ).select("o_orderpriority", F.abs(F.col("rev") - F.col("rev_fc")).alias("e"))
    return err.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_months"),
        (dec_to_double(F.sum("e")) / F.count(F.lit(1))).alias("mae"),
    )


# --------------------------------------------------------------------------
# A/B experiment readout: conversion rates + two-proportion z statistic
# --------------------------------------------------------------------------


@register(
    "analytics_ab_test_z",
    oracle="""
    WITH u AS (
      SELECT user_id % 2 AS variant,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS viewed,
             CASE WHEN COUNT(*) FILTER (WHERE event_type = 'purchase') >= 14
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id
    ),
    v AS (
      SELECT variant,
             CAST(SUM(viewed) AS BIGINT) AS n_exposed,
             CAST(SUM(CASE WHEN viewed = 1 AND converted = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_converted
      FROM u GROUP BY variant
    )
    SELECT a.n_exposed AS n_exposed_a, a.n_converted AS n_converted_a,
           b.n_exposed AS n_exposed_b, b.n_converted AS n_converted_b,
           CAST(a.n_converted * 1000 // a.n_exposed AS BIGINT) AS conv_permille_a,
           CAST(b.n_converted * 1000 // b.n_exposed AS BIGINT) AS conv_permille_b,
           ((CAST(a.n_converted AS DOUBLE) / a.n_exposed)
            - (CAST(b.n_converted AS DOUBLE) / b.n_exposed))
           / sqrt(
               (CAST(a.n_converted + b.n_converted AS DOUBLE)
                / (a.n_exposed + b.n_exposed))
               * (1.0 - CAST(a.n_converted + b.n_converted AS DOUBLE)
                        / (a.n_exposed + b.n_exposed))
               * (1.0 / a.n_exposed + 1.0 / b.n_exposed)
             ) AS z_score
    FROM (SELECT * FROM v WHERE variant = 0) a,
         (SELECT * FROM v WHERE variant = 1) b
    """,
    doc=(
        "Experimentation readout: per-variant (user_id parity stands in "
        "for the assignment hash) exposed users and heavy-buyer "
        "conversions (>= 14 purchase events, the fixture's median — a "
        "threshold that actually splits the synthetic population), "
        "integer-permille conversion rates, and the pooled "
        "two-proportion z statistic. The per-user collapse is ONE "
        "partial+final aggregate (user grain), the per-variant rollup "
        "is 2 rows, and the z math runs on the 1-row join of the two "
        "variants — so at 100 TB the cost is the user-grain aggregate, "
        "everything after is constant. The z double hash-matches "
        "because both engines evaluate the IDENTICAL expression tree "
        "over identical integers (/,*,-,sqrt are all IEEE "
        "correctly-rounded)."
    ),
    tags=("analytics", "events", "experiment"),
)
def analytics_ab_test_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # per-user collapse first (viewed/purchased flags), then variant rollup
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("viewed"),
        F.when(
            F.count(F.when(F.col("event_type") == "purchase", 1)) >= 14, 1
        )
        .otherwise(0)
        .alias("converted"),
    )
    v = per_user.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.sum("viewed").cast("long").alias("n_exposed"),
        F.sum(
            F.when((F.col("viewed") == 1) & (F.col("converted") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_converted"),
    )
    a = v.where(F.col("variant") == 0).select(
        F.col("n_exposed").alias("n_exposed_a"),
        F.col("n_converted").alias("n_converted_a"),
    )
    b = v.where(F.col("variant") == 1).select(
        F.col("n_exposed").alias("n_exposed_b"),
        F.col("n_converted").alias("n_converted_b"),
    )
    j = a.crossJoin(b)
    ca = F.col("n_converted_a").cast("double")
    cb = F.col("n_converted_b").cast("double")
    na, nb = F.col("n_exposed_a"), F.col("n_exposed_b")
    pool = (F.col("n_converted_a") + F.col("n_converted_b")).cast("double") / (
        na + nb
    )
    z = ((ca / na) - (cb / nb)) / F.sqrt(
        pool * (F.lit(1.0) - pool) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    )
    return j.select(
        "n_exposed_a",
        "n_converted_a",
        "n_exposed_b",
        "n_converted_b",
        F.floor(F.col("n_converted_a") * 1000 / na).cast("long").alias(
            "conv_permille_a"
        ),
        F.floor(F.col("n_converted_b") * 1000 / nb).cast("long").alias(
            "conv_permille_b"
        ),
        z.alias("z_score"),
    )


# --------------------------------------------------------------------------
# First-order Markov transition matrix over per-user event sequences
# --------------------------------------------------------------------------


@register(
    "analytics_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ),
    conf AS (
      SELECT event_type AS from_type, next_type AS to_type,
             COUNT(*) AS n_transitions
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    )
    SELECT from_type, to_type,
           CAST(n_transitions AS BIGINT) AS n_transitions,
           CAST(n_transitions * 1000
                // SUM(n_transitions) OVER (PARTITION BY from_type)
                AS BIGINT) AS permille
    FROM conf
    """,
    doc=(
        "Behavioral Markov chain: first-order transition counts and "
        "integer-permille probabilities between event types, from "
        "per-user time-ordered sequences (lead over (user, ts) — the "
        "same narrow per-key window sessionization uses, no global "
        "sort). The transition matrix is O(types²) rows, so the final "
        "normalizing window is over a tiny relation; at 100 TB the "
        "only real cost is the per-user window pass, one Exchange on "
        "user_id shared with every other user-grain op. Feeds "
        "attribution, next-action prediction baselines, and anomaly "
        "screens (transitions that 'never happen' appearing)."
    ),
    tags=("analytics", "events", "window"),
)
def analytics_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    conf = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wt = Window.partitionBy("from_type")
    return conf.select(
        "from_type",
        "to_type",
        F.col("n_transitions").cast("long").alias("n_transitions"),
        F.floor(
            F.col("n_transitions") * 1000 / F.sum("n_transitions").over(wt)
        )
        .cast("long")
        .alias("permille"),
    )


# --------------------------------------------------------------------------
# OLS price trend per priority (closed-form regression via sufficient stats)
# --------------------------------------------------------------------------


@register(
    "analytics_price_trend_ols",
    oracle=f"""
    WITH s AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(EXTRACT(YEAR FROM o_orderdate) * 12
                      + EXTRACT(MONTH FROM o_orderdate)) AS BIGINT) AS sx,
             CAST(SUM((EXTRACT(YEAR FROM o_orderdate) * 12
                       + EXTRACT(MONTH FROM o_orderdate))
                      * (EXTRACT(YEAR FROM o_orderdate) * 12
                         + EXTRACT(MONTH FROM o_orderdate))) AS BIGINT) AS sxx,
             SUM(CAST(o_totalprice AS DECIMAL(22,8))) AS sy_dec,
             SUM(CAST(EXTRACT(YEAR FROM o_orderdate) * 12
                      + EXTRACT(MONTH FROM o_orderdate) AS DECIMAL(6,0))
                 * CAST(o_totalprice AS DECIMAL(22,8))) AS sxy_dec
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n_rows,
           (CAST(n_rows AS DOUBLE) * {sql_dec_to_double('sxy_dec')}
            - CAST(sx AS DOUBLE) * {sql_dec_to_double('sy_dec')})
           / (CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
           ({sql_dec_to_double('sy_dec')}
            - ((CAST(n_rows AS DOUBLE) * {sql_dec_to_double('sxy_dec')}
                - CAST(sx AS DOUBLE) * {sql_dec_to_double('sy_dec')})
               / (CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
              * CAST(sx AS DOUBLE))
           / CAST(n_rows AS DOUBLE) AS intercept
    FROM s ORDER BY o_orderpriority
    """,
    doc=(
        "Closed-form OLS regression of order price against calendar "
        "month, one line per priority: slope/intercept from the five "
        "sufficient statistics (n, Σx, Σx², Σy, Σxy) computed in ONE "
        "partial+final aggregate pass — the scalable form of ML 'fit' "
        "for any linear model: no iteration, no driver-side math, "
        "state is 5 numbers per group. Σy/Σxy accumulate in exact "
        "decimal (order-independent); the slope/intercept doubles "
        "hash-match because both engines evaluate the identical IEEE "
        "expression tree over identical inputs. x = year*12+month "
        "(BIGINT), so Σx/Σx² are exact integers."
    ),
    tags=("analytics", "ml", "orders", "regression"),
)
def analytics_price_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.functions.exact import DEC, dec_to_double

    o = table(spark, sf_dir, "orders")
    x = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    y_dec = F.col("o_totalprice").cast(DEC)
    s = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(x * x).cast("long").alias("sxx"),
        F.sum(y_dec).alias("sy_dec"),
        F.sum(x.cast("decimal(6,0)") * y_dec).alias("sxy_dec"),
    )
    n_d = F.col("n_rows").cast("double")
    sx_d = F.col("sx").cast("double")
    sxx_d = F.col("sxx").cast("double")
    sy_d = dec_to_double(F.col("sy_dec"))
    sxy_d = dec_to_double(F.col("sxy_dec"))
    slope = (n_d * sxy_d - sx_d * sy_d) / (n_d * sxx_d - sx_d * sx_d)
    return s.select(
        "o_orderpriority",
        "n_rows",
        slope.alias("slope"),
        ((sy_d - slope * sx_d) / n_d).alias("intercept"),
    ).orderBy("o_orderpriority")


# --------------------------------------------------------------------------
# Item-item collaborative-filtering similarity (cosine over co-occurrence)
# --------------------------------------------------------------------------


@register(
    "analytics_item_item_cosine",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    ic AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM op GROUP BY l_partkey
    ),
    pc AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2,
             CAST(COUNT(*) AS BIGINT) AS c_ij
      FROM op a
      JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    )
    SELECT p1, p2, c_ij,
           CAST(c_ij AS DOUBLE)
           / sqrt(CAST(i1.c AS DOUBLE) * CAST(i2.c AS DOUBLE)) AS cosine
    FROM pc
    JOIN ic i1 ON pc.p1 = i1.l_partkey
    JOIN ic i2 ON pc.p2 = i2.l_partkey
    ORDER BY cosine DESC, p1, p2 LIMIT 20
    """,
    doc=(
        "Item-item collaborative filtering: cosine similarity over the "
        "order/part co-occurrence matrix — sim(i,j) = c_ij / "
        "sqrt(c_i*c_j), the classic Amazon-style item recommender "
        "statistic. Pair counts reuse the JOINLESS grouped-array "
        "enumeration (per-order sorted item set, explode of in-array "
        "i<j pairs — one scan, no self-join); per-item counts are a "
        "bounded-key aggregate broadcast into the pair relation twice. "
        "The cosine double hash-matches (one sqrt + one division over "
        "identical integers). TakeOrdered top-20. At 100 TB the only "
        "wide stages are the order-grain and pair-grain aggregates; "
        "the item-count join never shuffles the pair relation."
    ),
    tags=("analytics", "ml", "recommender", "lineitem"),
)
def analytics_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    op = li.distinct()
    ic = op.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("c"))
    baskets = op.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) -> "
                "transform(slice(parts, i + 2, size(parts)), y -> "
                "struct(x AS p1, y AS p2))))"
            )
        ).alias("pr")
    ).select("pr.p1", "pr.p2")
    pc = (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ij"))
        .filter(F.col("c_ij") >= 2)
    )
    i1 = ic.select(F.col("l_partkey").alias("p1"), F.col("c").alias("c1"))
    i2 = ic.select(F.col("l_partkey").alias("p2"), F.col("c").alias("c2"))
    return (
        pc.join(F.broadcast(i1), "p1")
        .join(F.broadcast(i2), "p2")
        .select(
            "p1",
            "p2",
            "c_ij",
            (
                F.col("c_ij").cast("double")
                / F.sqrt(F.col("c1").cast("double") * F.col("c2").cast("double"))
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "p1", "p2")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Marker-reset conditional cumulative sum (budget/session accumulators)
# --------------------------------------------------------------------------


@register(
    "window_conditional_cumsum",
    oracle=f"""
    WITH seg AS (
      SELECT event_id, user_id, ts, value,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seg
      FROM events
    )
    SELECT event_id, user_id, seg,
           {sql_dec_to_double(
               "SUM(CAST(value AS DECIMAL(22,8))) OVER ("
               "PARTITION BY user_id, seg ORDER BY ts, event_id "
               "ROWS UNBOUNDED PRECEDING)"
           )} AS run_sum
    FROM seg
    """,
    doc=(
        "Running sum that RESETS at marker rows (every 'view' event "
        "starts a new accumulation segment) — the budget-cap / "
        "session-spend accumulator that naive cumsum can't express. "
        "Two stacked windows: segment id = running count of markers "
        "per user (one Exchange on user_id), then the cumulative sum "
        "re-keyed by (user_id, segment). Exact decimal accumulation "
        "in the frame keeps the doubles hash-green. Scale: both "
        "windows partition on user grain — no global sort, frames "
        "stream in one pass per partition."
    ),
    tags=("window", "events", "sessionization"),
)
def window_conditional_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.functions.exact import DEC, dec_to_double

    ev = table(spark, sf_dir, "events")
    w_user = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .over(w_user)
        .cast("long")
        .alias("seg"),
    )
    w_seg = (
        Window.partitionBy("user_id", "seg")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return seg.select(
        "event_id",
        "user_id",
        "seg",
        dec_to_double(F.sum(F.col("value").cast(DEC)).over(w_seg)).alias("run_sum"),
    )


# --------------------------------------------------------------------------
# Cohort LTV curve (cumulative revenue per customer by cohort age)
# --------------------------------------------------------------------------


@register(
    "analytics_cohort_ltv_curve",
    oracle=f"""
    WITH fo AS (
      SELECT o_custkey,
             MIN(EXTRACT(YEAR FROM o_orderdate) * 12
                 + EXTRACT(MONTH FROM o_orderdate)) AS cohort_m
      FROM orders GROUP BY o_custkey
    ),
    rev AS (
      SELECT fo.cohort_m,
             (EXTRACT(YEAR FROM o.o_orderdate) * 12
              + EXTRACT(MONTH FROM o.o_orderdate)) - fo.cohort_m AS age,
             SUM(CAST(o.o_totalprice AS DECIMAL(22,8))) AS m_rev
      FROM orders o JOIN fo ON o.o_custkey = fo.o_custkey
      GROUP BY 1, 2
    ),
    sz AS (
      SELECT cohort_m, CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM fo GROUP BY cohort_m
    )
    SELECT rev.cohort_m AS cohort_month, rev.age, sz.n_customers,
           {sql_dec_to_double(
               "SUM(rev.m_rev) OVER (PARTITION BY rev.cohort_m "
               "ORDER BY rev.age ROWS UNBOUNDED PRECEDING)"
           )} AS cum_revenue,
           {sql_dec_to_double(
               "SUM(rev.m_rev) OVER (PARTITION BY rev.cohort_m "
               "ORDER BY rev.age ROWS UNBOUNDED PRECEDING)"
           )} / sz.n_customers AS ltv_per_customer
    FROM rev JOIN sz ON rev.cohort_m = sz.cohort_m
    """,
    doc=(
        "Customer-lifetime-value curve by acquisition cohort: first "
        "order month defines the cohort, revenue rolls up to "
        "(cohort, age-in-months) grain in exact decimal, and the LTV "
        "curve is a running sum over that TINY summary relation "
        "divided by the cohort's customer count — the standard growth "
        "analytics readout. Scale: one customer-grain aggregate, one "
        "(cohort,age)-grain aggregate, window and join both run on "
        "O(cohorts x ages) rows. Money stays decimal until the final "
        "split-conversion; the per-customer division is one IEEE op."
    ),
    tags=("analytics", "cohort", "orders", "ltv"),
)
def analytics_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.functions.exact import DEC, dec_to_double

    o = table(spark, sf_dir, "orders")
    omonth = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    fo = o.groupBy("o_custkey").agg(F.min(omonth).alias("cohort_m"))
    rev = (
        o.join(fo, "o_custkey")
        .groupBy(
            "cohort_m", (omonth - F.col("cohort_m")).alias("age")
        )
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("m_rev"))
    )
    sz = fo.groupBy("cohort_m").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    w = (
        Window.partitionBy("cohort_m")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dec_to_double(F.sum("m_rev").over(w))
    return (
        rev.join(F.broadcast(sz), "cohort_m")
        .select(
            F.col("cohort_m").alias("cohort_month"),
            "age",
            "n_customers",
            cum.alias("cum_revenue"),
            (cum / F.col("n_customers")).alias("ltv_per_customer"),
        )
    )


# --------------------------------------------------------------------------
# Alert debouncing (suppress repeats within a cooldown window)
# --------------------------------------------------------------------------

DEBOUNCE_S = 600


@register(
    "window_alert_debounce",
    oracle=f"""
    WITH lagged AS (
      SELECT event_id, user_id, event_type, ts,
             lag(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    SELECT event_id, user_id, event_type
    FROM lagged
    WHERE prev_ts IS NULL
       OR epoch_us(ts) - epoch_us(prev_ts) >= {DEBOUNCE_S} * 1000000
    """,
    doc=(
        "Alert debouncing: keep an event only if the previous event of "
        "the same (user, type) is at least 10 minutes older — the "
        "monitoring-pipeline rule that turns a 500-row error storm "
        "into one page. One lag window per (user,type) partition, "
        "exact integer epoch-microsecond comparison. NOTE the documented "
        "semantic: this is lag-based debounce (gap from the PREVIOUS "
        "EVENT), not cooldown-from-last-ALERT — the latter is "
        "inherently sequential state and lives in "
        "streaming/windows.py as applyInPandasWithState."
    ),
    tags=("window", "events", "monitoring"),
)
def window_alert_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    lagged = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
    )
    # exact microsecond gap on both engines (r7 sf0.5 sweep catch: the
    # oracle CAST(epoch(..) AS BIGINT) ROUNDS the fraction while Spark
    # unix_timestamp() truncates — sub-second boundary gaps flipped)
    keep = F.col("prev_ts").isNull() | (
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.unix_micros(F.col("prev_ts").cast("timestamp"))
        >= DEBOUNCE_S * 1_000_000
    )
    return lagged.where(keep).select("event_id", "user_id", "event_type")


# --------------------------------------------------------------------------
# Rolling median (robust trailing smoother)
# --------------------------------------------------------------------------

_RMED_W = 15  # trailing window size (rows)


@register(
    "window_median_rolling",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(quantile_disc(CAST(ROUND(value * 1000) AS BIGINT), 0.5)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN {_RMED_W - 1} PRECEDING AND CURRENT ROW)
                AS BIGINT) AS rolling_median_milli
    FROM events
    """,
    doc=(
        "Trailing rolling MEDIAN per user — the robust smoother that "
        "ignores spikes a rolling mean follows (pairs with "
        "ts_rolling_anomaly's mean/sigma channel). Spark has no "
        "windowed percentile, so the bounded frame collects into an "
        "array (O(15) state per row), sorts, and indexes the lower "
        "median — exactly DuckDB's windowed quantile_disc(0.5) "
        "semantics, in integer milli-units so parity is exact. The "
        "frame bound keeps state constant: this is the "
        "bounded-window idiom from ts_ewma_trailing, not a growing "
        "collect."
    ),
    tags=("window", "timeseries", "robust-stats", "events"),
)
def window_median_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    v = F.round(F.col("value") * 1000).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_RMED_W - 1), Window.currentRow)
    )
    arr = F.sort_array(F.collect_list(v).over(w))
    med = F.element_at(arr, F.floor((F.size(arr) + 1) / 2).cast("int"))
    return ev.select(
        "event_id",
        "user_id",
        med.cast("long").alias("rolling_median_milli"),
    )


# --------------------------------------------------------------------------
# Sweep-line max concurrency (interval overlap counting)
# --------------------------------------------------------------------------

_CONC_DUR_S = 300  # each event occupies a 5-minute interval


@register(
    "analytics_max_concurrency",
    oracle=f"""
    WITH endpoints AS (
      SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
             1 AS delta, event_id
      FROM events
      UNION ALL
      SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) + {_CONC_DUR_S},
             -1, event_id
      FROM events
    ),
    swept AS (
      SELECT event_type, t,
             SUM(delta) OVER (PARTITION BY event_type
                              ORDER BY t, delta, event_id
                              ROWS UNBOUNDED PRECEDING) AS conc
      FROM endpoints
    )
    SELECT event_type,
           CAST(MAX(conc) AS BIGINT) AS max_concurrency,
           CAST(MIN(CASE WHEN conc = mx THEN t END) AS BIGINT)
             AS first_peak_epoch
    FROM (SELECT *, MAX(conc) OVER (PARTITION BY event_type) AS mx FROM swept)
    GROUP BY event_type ORDER BY event_type
    """,
    doc=(
        "Sweep-line interval concurrency: each event occupies a "
        "5-minute interval; exploding to (+1 at start, -1 at end) "
        "endpoint deltas and running-summing per series gives the "
        "live concurrency at every boundary — max concurrent "
        "sessions/calls/jobs, the capacity-planning number. The "
        "endpoint ordering (t, delta, event_id) is total and puts "
        "-1 before +1 at ties, so back-to-back intervals don't "
        "double-count. One window per bounded series partition; at "
        "100 TB the sweep parallelizes across series and the "
        "endpoint relation is exactly 2x events — no interval "
        "self-join anywhere (contrast join_interval_overlap, which "
        "enumerates the PAIRS)."
    ),
    tags=("analytics", "sweep-line", "events", "capacity"),
)
def analytics_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.unix_timestamp("ts").alias("t0")
    )
    starts = ev.select(
        "event_type", F.col("t0").alias("t"), F.lit(1).alias("delta"), "event_id"
    )
    ends = ev.select(
        "event_type",
        (F.col("t0") + _CONC_DUR_S).alias("t"),
        F.lit(-1).alias("delta"),
        "event_id",
    )
    endpoints = starts.unionAll(ends)
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = endpoints.select(
        "event_type", "t", F.sum("delta").over(w).alias("conc")
    )
    mx = Window.partitionBy("event_type")
    return (
        swept.withColumn("mx", F.max("conc").over(mx))
        .groupBy("event_type")
        .agg(
            F.max("conc").cast("long").alias("max_concurrency"),
            F.min(F.when(F.col("conc") == F.col("mx"), F.col("t")))
            .cast("long")
            .alias("first_peak_epoch"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# 2-D activity heatmap (hour-of-day x series binning)
# --------------------------------------------------------------------------


@register(
    "analytics_heatmap_hour_type",
    oracle="""
    SELECT CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS hour_of_day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc=(
        "The dashboard heatmap feed: events binned on the 2-D "
        "(hour-of-day x event-type) grid with row and distinct-user "
        "counts — 24 x |types| output regardless of input volume, one "
        "partial+final aggregate (plus the distinct-user expand). "
        "Trivial relationally, here to pin hour extraction across "
        "engines and complete the time-profile family next to "
        "analytics_markov_transitions' type x type grid."
    ),
    tags=("analytics", "events", "heatmap"),
)
def analytics_heatmap_hour_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.hour("ts").cast("long").alias("hour_of_day"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("hour_of_day", "event_type")
    )


# --------------------------------------------------------------------------
# Ratio-of-sums vs average-of-ratios (the classic aggregation-order pin)
# --------------------------------------------------------------------------


@register(
    "analytics_ratio_of_sums_pin",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(22,8))) AS spend
      FROM orders GROUP BY o_custkey
    ),
    seg AS (
      SELECT c.c_mktsegment,
             CAST(SUM(p.n_orders) AS BIGINT) AS tot_orders,
             SUM(p.spend) AS tot_spend,
             SUM(CAST(p.spend * 100 AS BIGINT) * 10000 // p.n_orders)
               AS sum_ratio_micro,
             CAST(COUNT(*) AS BIGINT) AS n_custs
      FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment
    )
    SELECT c_mktsegment, tot_orders, n_custs,
           (CAST(FLOOR(tot_spend) AS DOUBLE)
            + CAST(tot_spend - FLOOR(tot_spend) AS DOUBLE)) / tot_orders
             AS ratio_of_sums,
           CAST(sum_ratio_micro AS DOUBLE) / n_custs / 1000000.0
             AS avg_of_ratios
    FROM seg ORDER BY c_mktsegment
    """,
    doc=(
        "The classic analytics footgun, pinned side by side: average "
        "order value per segment as SUM(spend)/SUM(orders) (each "
        "order weighted equally) vs AVG(per-customer spend/orders) "
        "(each CUSTOMER weighted equally) — different questions that "
        "get silently swapped in dashboards. Both compute from one "
        "customer-grain pass; per-customer ratios divide exact "
        "decimals by integers (decimal division, deterministic), "
        "sums stay decimal until the split conversion, finals are "
        "one IEEE division each. The two columns genuinely differ "
        "on this data — the pin is that BOTH match the oracle. "
        "Per-customer ratios quantize to integer micro-units "
        "(cents*10000 // orders) before summing: engines disagree on "
        "decimal-division result scales, so the quantization must be "
        "explicit to be portable."
    ),
    tags=("analytics", "semantics", "orders", "customer"),
)
def analytics_ratio_of_sums_pin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.functions.exact import DEC, dec_to_double

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(DEC)).alias("spend"),
    )
    seg = (
        per_cust.join(F.broadcast(c), per_cust.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum("n_orders").cast("long").alias("tot_orders"),
            F.sum("spend").alias("tot_spend"),
            F.sum(
                F.expr(
                    "div(CAST(spend * 100 AS BIGINT) * 10000, n_orders)"
                )
            )
            .cast("long")
            .alias("sum_ratio_micro"),
            F.count(F.lit(1)).cast("long").alias("n_custs"),
        )
    )
    return seg.select(
        "c_mktsegment",
        "tot_orders",
        "n_custs",
        (dec_to_double(F.col("tot_spend")) / F.col("tot_orders")).alias(
            "ratio_of_sums"
        ),
        (
            F.col("sum_ratio_micro").cast("double")
            / F.col("n_custs")
            / F.lit(1000000.0)
        ).alias("avg_of_ratios"),
    ).orderBy("c_mktsegment")


# --------------------------------------------------------------------------
# Forward fill (last observation carried forward)
# --------------------------------------------------------------------------


@register(
    "window_forward_fill",
    oracle="""
    WITH sparse AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_id % 3 = 0 THEN NULL
                  ELSE CAST(ROUND(value * 1000) AS BIGINT) END AS v
      FROM events
    )
    SELECT event_id, user_id, v,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING
           ) AS v_filled
    FROM sparse
    """,
    doc=(
        "Last-observation-carried-forward: a sensor stream with "
        "two-thirds coverage (every third reading nulled) forward-"
        "fills from the most recent non-null per user — the "
        "telemetry-repair idiom that ts_gapfill_interpolate's "
        "midpoint interpolation complements. One window per user "
        "partition, IGNORE NULLS last_value on both engines; leading "
        "nulls (no prior observation) stay NULL, pinned by the "
        "shared frame. Integer milli-units keep parity exact."
    ),
    tags=("window", "timeseries", "events", "gapfill"),
)
def window_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    v = F.when(
        F.col("event_id") % 3 == 0, F.lit(None).cast("long")
    ).otherwise(F.round(F.col("value") * 1000).cast("long"))
    sparse = ev.select("event_id", "user_id", "ts", v.alias("v"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sparse.select(
        "event_id",
        "user_id",
        "v",
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
    )


# --------------------------------------------------------------------------
# New vs returning customers per month (growth accounting)
# --------------------------------------------------------------------------


@register(
    "analytics_new_vs_returning",
    oracle="""
    WITH fo AS (
      SELECT o_custkey,
             MIN(EXTRACT(YEAR FROM o_orderdate) * 12
                 + EXTRACT(MONTH FROM o_orderdate)) AS first_m
      FROM orders GROUP BY o_custkey
    )
    SELECT EXTRACT(YEAR FROM o.o_orderdate) * 12
           + EXTRACT(MONTH FROM o.o_orderdate) AS mnum,
           CAST(COUNT(DISTINCT CASE WHEN EXTRACT(YEAR FROM o.o_orderdate) * 12
                + EXTRACT(MONTH FROM o.o_orderdate) = fo.first_m
                THEN o.o_custkey END) AS BIGINT) AS n_new,
           CAST(COUNT(DISTINCT CASE WHEN EXTRACT(YEAR FROM o.o_orderdate) * 12
                + EXTRACT(MONTH FROM o.o_orderdate) <> fo.first_m
                THEN o.o_custkey END) AS BIGINT) AS n_returning
    FROM orders o JOIN fo ON o.o_custkey = fo.o_custkey
    GROUP BY mnum ORDER BY mnum
    """,
    doc=(
        "Growth accounting: per month, distinct customers split into "
        "NEW (their first-ever order month) vs RETURNING — the "
        "headline acquisition/retention split every growth dashboard "
        "leads with, and the monthly margin of the cohort LTV curve. "
        "One customer-grain first-month aggregate broadcast back "
        "into the order stream, then a month-grain distinct count. "
        "All integer month keys."
    ),
    tags=("analytics", "growth", "orders"),
)
def analytics_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    mnum = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    fo = o.groupBy("o_custkey").agg(F.min(mnum).alias("first_m"))
    j = o.join(F.broadcast(fo), "o_custkey").select(
        mnum.alias("mnum"), "o_custkey", "first_m"
    )
    return (
        j.groupBy("mnum")
        .agg(
            F.count_distinct(
                F.when(F.col("mnum") == F.col("first_m"), F.col("o_custkey"))
            )
            .cast("long")
            .alias("n_new"),
            F.count_distinct(
                F.when(F.col("mnum") != F.col("first_m"), F.col("o_custkey"))
            )
            .cast("long")
            .alias("n_returning"),
        )
        .orderBy("mnum")
    )


# --------------------------------------------------------------------------
# Association-rule metrics: support / confidence / lift
# --------------------------------------------------------------------------


@register(
    "analytics_basket_lift",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nb AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
           FROM op),
    ic AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM op GROUP BY l_partkey
    ),
    pc AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2,
             CAST(COUNT(*) AS BIGINT) AS c_ij
      FROM op a
      JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 3
    )
    SELECT p1, p2, c_ij,
           CAST(1000000 * c_ij // nb.n_baskets AS BIGINT) AS support_micro,
           CAST(1000000 * c_ij // i1.c AS BIGINT) AS confidence_micro,
           CAST(c_ij AS DOUBLE) * nb.n_baskets
           / (CAST(i1.c AS DOUBLE) * CAST(i2.c AS DOUBLE)) AS lift
    FROM pc
    JOIN ic i1 ON pc.p1 = i1.l_partkey
    JOIN ic i2 ON pc.p2 = i2.l_partkey
    CROSS JOIN nb
    ORDER BY lift DESC, p1, p2 LIMIT 20
    """,
    doc=(
        "Association-rule mining metrics over the basket pairs: "
        "support (co-occurrence rate), confidence (P(p2|p1)) and "
        "LIFT (observed co-occurrence over independence) — the "
        "Apriori readout that separates 'popular together' from "
        "'actually associated', completing the market-basket family "
        "with analytics_copurchase_pairs (counts) and "
        "analytics_item_item_cosine (similarity). Same joinless "
        "pair enumeration; basket total and item counts broadcast; "
        "support/confidence in integer micro-units, lift one IEEE "
        "tree. TakeOrdered top-20 by lift."
    ),
    tags=("analytics", "market-basket", "lineitem"),
)
def analytics_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    op = li.distinct()
    nb = op.agg(
        F.count_distinct("l_orderkey").cast("long").alias("n_baskets")
    )
    ic = op.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("c"))
    baskets = op.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) -> "
                "transform(slice(parts, i + 2, size(parts)), y -> "
                "struct(x AS p1, y AS p2))))"
            )
        ).alias("pr")
    ).select("pr.p1", "pr.p2")
    pc = (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ij"))
        .filter(F.col("c_ij") >= 3)
    )
    i1 = ic.select(F.col("l_partkey").alias("p1"), F.col("c").alias("c1"))
    i2 = ic.select(F.col("l_partkey").alias("p2"), F.col("c").alias("c2"))
    j = (
        pc.join(F.broadcast(i1), "p1")
        .join(F.broadcast(i2), "p2")
        .crossJoin(F.broadcast(nb))
    )
    lift = (
        F.col("c_ij").cast("double")
        * F.col("n_baskets")
        / (F.col("c1").cast("double") * F.col("c2").cast("double"))
    )
    return (
        j.select(
            "p1",
            "p2",
            "c_ij",
            F.expr("CAST(div(1000000 * c_ij, n_baskets) AS BIGINT)").alias(
                "support_micro"
            ),
            F.expr("CAST(div(1000000 * c_ij, c1) AS BIGINT)").alias(
                "confidence_micro"
            ),
            lift.alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "p1", "p2")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Welch's two-sample t statistic (continuous-metric experiment readout)
# --------------------------------------------------------------------------


@register(
    "analytics_welch_t_test",
    oracle=f"""
    WITH x AS (
      SELECT CASE WHEN o_custkey % 2 = 0 THEN 'a' ELSE 'b' END AS grp,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
      FROM orders
    ),
    s AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(v AS HUGEINT)) AS HUGEINT) AS s1,
             CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2
      FROM x GROUP BY grp
    ),
    q AS (
      SELECT grp, n, s1,
             CAST(n AS HUGEINT) * s2 - s1 * s1 AS varnum
      FROM s
    ),
    wide AS (
      SELECT
        CAST(MIN(CASE WHEN grp = 'a' THEN n END) AS BIGINT) AS na,
        MIN(CASE WHEN grp = 'a' THEN s1 END) AS sa1,
        MIN(CASE WHEN grp = 'a' THEN varnum END) AS va_num,
        CAST(MIN(CASE WHEN grp = 'b' THEN n END) AS BIGINT) AS nb,
        MIN(CASE WHEN grp = 'b' THEN s1 END) AS sb1,
        MIN(CASE WHEN grp = 'b' THEN varnum END) AS vb_num
      FROM q
    )
    SELECT na, nb,
           ({sql_int_to_double("sa1")} / na - {sql_int_to_double("sb1")} / nb)
           / sqrt(
               {sql_int_to_double("va_num")}
                 / (CAST(na AS DOUBLE) * (na - 1)) / na
               + {sql_int_to_double("vb_num")}
                 / (CAST(nb AS DOUBLE) * (nb - 1)) / nb
             ) AS t_stat
    FROM wide
    """,
    doc=(
        "Welch's two-sample t statistic on a continuous metric "
        "(order value in cents, customer-parity variant split) — the "
        "means counterpart to analytics_ab_test_z's proportions: "
        "per-variant n / sum / sum-of-squares reduce exactly "
        "(HUGEINT / decimal-128 power sums, the same mergeable state "
        "as agg_skew_kurtosis_exact), variance numerators n*S2 - S1^2 "
        "stay integral, and every conversion above 2^53 goes through "
        "the two-limb split so the final one-row IEEE expression tree "
        "is identical on both engines. One aggregate pass; the t "
        "math runs on two rows."
    ),
    tags=("analytics", "experiment", "statistics", "orders"),
)
def analytics_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.functions.exact import int_to_double

    o = table(spark, sf_dir, "orders")
    x = o.select(
        F.when(F.col("o_custkey") % 2 == 0, "a").otherwise("b").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = x.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d38(F.col("v"))).cast("decimal(38,0)").alias("s1"),
        F.sum(d38(F.col("v")) * F.col("v")).cast("decimal(38,0)").alias("s2"),
    )
    q = s.select(
        "grp",
        "n",
        "s1",
        (d38(F.col("n")) * F.col("s2") - F.col("s1") * F.col("s1"))
        .cast("decimal(38,0)")
        .alias("varnum"),
    )
    wide = q.agg(
        F.min(F.when(F.col("grp") == "a", F.col("n"))).cast("long").alias("na"),
        F.min(F.when(F.col("grp") == "a", F.col("s1"))).alias("sa1"),
        F.min(F.when(F.col("grp") == "a", F.col("varnum"))).alias("va_num"),
        F.min(F.when(F.col("grp") == "b", F.col("n"))).cast("long").alias("nb"),
        F.min(F.when(F.col("grp") == "b", F.col("s1"))).alias("sb1"),
        F.min(F.when(F.col("grp") == "b", F.col("varnum"))).alias("vb_num"),
    )
    na_d = F.col("na").cast("double")
    nb_d = F.col("nb").cast("double")
    t = (
        int_to_double(F.col("sa1")) / F.col("na")
        - int_to_double(F.col("sb1")) / F.col("nb")
    ) / F.sqrt(
        int_to_double(F.col("va_num")) / (na_d * (F.col("na") - 1)) / F.col("na")
        + int_to_double(F.col("vb_num")) / (nb_d * (F.col("nb") - 1)) / F.col("nb")
    )
    return wide.select("na", "nb", t.alias("t_stat"))


# ---------------------------------------------------------------------------
# Exponential time-decay engagement scoring (recency-weighted activity)
# ---------------------------------------------------------------------------


@register(
    "analytics_time_decay_engagement",
    oracle="""
    WITH ev AS (
      SELECT user_id,
             CAST(EXTRACT(YEAR FROM ts) * 12 + EXTRACT(MONTH FROM ts)
                  AS BIGINT) AS mnum,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    mx AS (SELECT MAX(mnum) AS maxm FROM ev)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents * (1 << CAST(12 - LEAST(mx.maxm - ev.mnum, 12)
                                       AS INTEGER))) AS BIGINT)
             AS score_scaled
    FROM ev, mx
    GROUP BY user_id
    """,
    doc=(
        "Recency-weighted engagement: per user, events scored with an "
        "exponential half-life decay (one halving per month of age, "
        "floored at 12 months) — the ranking signal feeds/recommenders "
        "recompute nightly. All-integer by construction: weight 2^(12-"
        "age) is an exact power-of-two multiplier on integer cents, so "
        "the SUM is a BIGINT both engines agree on bit-for-bit — no "
        "floating-point decay drift. The global max month is a 1-row "
        "broadcast; the scoring itself is one partial+final aggregate "
        "keyed by user — linear scan, no window, 100 TB-safe."
    ),
    tags=("analytics", "events", "scale"),
)
def analytics_time_decay_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        (F.year("ts") * 12 + F.month("ts")).cast("long").alias("mnum"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    mx = ev.agg(F.max("mnum").alias("maxm"))
    # shiftleft's Python API takes a literal bit count; the SQL form
    # accepts expressions for both operands
    weight = F.expr("shiftleft(cast(1 as bigint), int(12 - least(maxm - mnum, 12)))")
    return (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("cents") * weight).cast("long").alias("score_scaled"),
        )
    )


# ---------------------------------------------------------------------------
# Linear multi-touch attribution (marketing credit assignment)
# ---------------------------------------------------------------------------


@register(
    "analytics_attribution_linear",
    oracle="""
    WITH clicks AS (
      SELECT event_id AS click_id, user_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT p.purchase_id, p.cents, c.click_id
      FROM purchases p
      JOIN clicks c ON c.user_id = p.user_id AND c.c_ts < p.p_ts
    ),
    credits AS (
      SELECT purchase_id, click_id,
             (cents * 1000000) // COUNT(*) OVER (PARTITION BY purchase_id)
               AS credit_micro
      FROM touch
    )
    SELECT click_id,
           CAST(COUNT(*) AS BIGINT) AS n_purchases_touched,
           CAST(SUM(credit_micro) AS BIGINT) AS credit_micro_total
    FROM credits
    GROUP BY click_id
    """,
    doc=(
        "Linear multi-touch attribution: every purchase's revenue is "
        "split EQUALLY across the user's preceding clicks, then credit "
        "rolls up per touchpoint — the marketing-mix readout next to "
        "the first/last-touch forms the as-of joins give. The touch "
        "blowup joins on user and partial-aggregates per purchase "
        "(keyed window, never global); integer micro-credits with "
        "truncating division keep both engines bit-identical even when "
        "cents do not divide evenly. At 100 TB the join shuffles on "
        "user_id and the two grouped stages on their own keys — no "
        "skew beyond the user distribution itself."
    ),
    tags=("analytics", "attribution", "events"),
)
def analytics_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("c_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    touch = purchases.join(clicks, "user_id").filter(
        F.col("c_ts") < F.col("p_ts")
    )
    w = Window.partitionBy("purchase_id")
    num = F.col("cents") * 1000000
    den = F.count(F.lit(1)).over(w)
    credit = ((num - num % den) / den).cast("long")
    credits = touch.select(
        "purchase_id", "click_id", credit.alias("credit_micro")
    )
    return credits.groupBy("click_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases_touched"),
        F.sum("credit_micro").cast("long").alias("credit_micro_total"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival estimate over customer lifetimes
# ---------------------------------------------------------------------------


@register(
    "analytics_survival_kaplan_meier",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(MIN(EXTRACT(YEAR FROM o_orderdate) * 12
                      + EXTRACT(MONTH FROM o_orderdate)) AS BIGINT) AS fm,
             CAST(MAX(EXTRACT(YEAR FROM o_orderdate) * 12
                      + EXTRACT(MONTH FROM o_orderdate)) AS BIGINT) AS lm
      FROM orders GROUP BY o_custkey
    ),
    mx AS (SELECT MAX(lm) AS maxm FROM cust),
    months AS (
      SELECT DISTINCT CAST(EXTRACT(YEAR FROM o_orderdate) * 12
                           + EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS t
      FROM orders
    ),
    per_t AS (
      SELECT m.t,
             (SELECT COUNT(*) FROM cust c WHERE c.fm <= m.t AND c.lm >= m.t)
               AS n_risk,
             (SELECT COUNT(*) FROM cust c, mx
              WHERE c.lm = m.t AND c.lm < mx.maxm) AS d_events
      FROM months m
    ),
    ordered AS (
      SELECT t, n_risk, d_events,
             ROW_NUMBER() OVER (ORDER BY t) AS rn
      FROM per_t
    ),
    factors AS (
      SELECT list(1.0 - CAST(d_events AS DOUBLE) / CAST(n_risk AS DOUBLE)
                  ORDER BY t) AS fs
      FROM ordered
    )
    SELECT o.t,
           CAST(o.n_risk AS BIGINT) AS n_risk,
           CAST(o.d_events AS BIGINT) AS d_events,
           CAST(FLOOR(1000000 * list_reduce(
             list_slice(f.fs, 1, CAST(o.rn AS INTEGER)), (a, b) -> a * b))
             AS BIGINT) AS surv_micro
    FROM ordered o CROSS JOIN factors f
    """,
    doc=(
        "Kaplan-Meier survival estimator over customer lifetimes "
        "(Kaplan & Meier 1958): lifetime = first..last order month, "
        "customers still active in the final month are right-censored; "
        "per month the at-risk count and event count reduce from the "
        "customer grain, and S(t) is the running product of "
        "(1 - d/n) factors. The product is an ORDERED left fold over "
        "the bounded month series (one fold_series loop / DuckDB "
        "list_reduce) — identical multiply order on both "
        "engines makes even the floating survival curve bit-exact at "
        "micro precision. The churn/retention curve every subscription "
        "dashboard ships; all heavy stages are customer-grain "
        "aggregates."
    ),
    tags=("analytics", "survival", "orders"),
)
def analytics_survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    mnum = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    cust = o.groupBy("o_custkey").agg(
        F.min(mnum).alias("fm"), F.max(mnum).alias("lm")
    )
    mx = cust.agg(F.max("lm").alias("maxm"))
    months = o.select(mnum.alias("t")).distinct()
    starts = cust.groupBy(F.col("fm").alias("t")).agg(
        F.count(F.lit(1)).alias("starts")
    )
    ends = cust.crossJoin(F.broadcast(mx)).groupBy(F.col("lm").alias("t")).agg(
        F.count(F.lit(1)).alias("ends"),
        F.sum((F.col("lm") < F.col("maxm")).cast("long")).alias("d_events"),
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    per_t = (
        months.join(starts, "t", "left")
        .join(ends, "t", "left")
        .fillna(0, ["starts", "ends", "d_events"])
        .withColumn("cum_starts", F.sum("starts").over(w))
        .withColumn(
            "cum_ends_before", F.sum("ends").over(w) - F.col("ends")
        )
        .select(
            "t",
            (F.col("cum_starts") - F.col("cum_ends_before")).alias("n_risk"),
            "d_events",
        )
    )

    def survival(_key, rows):
        # the running product in month order, multiplied as the oracle does
        p, out = 1.0, []
        for t, n_risk, d_events in rows:
            f = 1.0 - float(d_events) / float(n_risk)
            out.append((t, n_risk, d_events, math.floor(1000000 * p * f)))
            p = p * f
        return out

    return fold_series(
        per_t, [], "t", ["n_risk", "d_events"],
        "t long, n_risk long, d_events long, surv_micro long", survival,
    )


# ---------------------------------------------------------------------------
# Two-group logrank test over customer lifetimes (companion to Kaplan-Meier)
# ---------------------------------------------------------------------------


@register(
    "analytics_logrank_test",
    oracle="""
    WITH cust AS (
      SELECT o.o_custkey,
             CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS grp,
             CAST(MIN(EXTRACT(YEAR FROM o.o_orderdate) * 12
                      + EXTRACT(MONTH FROM o.o_orderdate)) AS BIGINT) AS fm,
             CAST(MAX(EXTRACT(YEAR FROM o.o_orderdate) * 12
                      + EXTRACT(MONTH FROM o.o_orderdate)) AS BIGINT) AS lm
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY o.o_custkey, grp
    ),
    mx AS (SELECT MAX(lm) AS maxm FROM cust),
    months AS (
      SELECT DISTINCT CAST(EXTRACT(YEAR FROM o_orderdate) * 12
                           + EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS t
      FROM orders
    ),
    per_t AS (
      SELECT m.t,
             (SELECT COUNT(*) FROM cust c
              WHERE c.grp = 1 AND c.fm <= m.t AND c.lm >= m.t) AS n1,
             (SELECT COUNT(*) FROM cust c
              WHERE c.grp = 0 AND c.fm <= m.t AND c.lm >= m.t) AS n2,
             (SELECT COUNT(*) FROM cust c, mx
              WHERE c.grp = 1 AND c.lm = m.t AND c.lm < mx.maxm) AS d1,
             (SELECT COUNT(*) FROM cust c, mx
              WHERE c.grp = 0 AND c.lm = m.t AND c.lm < mx.maxm) AS d2
      FROM months m
    ),
    terms AS (
      SELECT t, d1, d2, n1, n2, n1 + n2 AS n, d1 + d2 AS d,
             CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE)
               / CAST(n1 + n2 AS DOUBLE) AS e1_t,
             CASE WHEN n1 + n2 > 1 THEN
               CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE)
                 / CAST(n1 + n2 AS DOUBLE)
                 * (CAST(n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                 * ((CAST(n1 + n2 AS DOUBLE) - CAST(d1 + d2 AS DOUBLE))
                    / (CAST(n1 + n2 AS DOUBLE) - 1.0))
             ELSE 0.0 END AS v_t
      FROM per_t
      WHERE d1 + d2 > 0
    ),
    folded AS (
      SELECT CAST(SUM(d1) AS BIGINT) AS o1,
             CAST(SUM(d1 + d2) AS BIGINT) AS d_total,
             CAST(COUNT(*) AS BIGINT) AS n_event_months,
             list_reduce(list(e1_t ORDER BY t), (a, b) -> a + b) AS e1,
             list_reduce(list(v_t ORDER BY t), (a, b) -> a + b) AS v
      FROM terms
    )
    SELECT o1, d_total, n_event_months, e1, v,
           (CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1) / v
             AS chi2
    FROM folded
    """,
    doc=(
        "Two-group logrank test (Mantel 1966) comparing survival of "
        "BUILDING-segment customers against the rest, on the same "
        "lifetime/right-censoring model as analytics_survival_"
        "kaplan_meier: per event month the hypergeometric expectation "
        "E1_t = d*n1/n and variance V_t = d*(n1/n)*(n2/n)*(n-d)/(n-1) "
        "reduce from the customer grain; chi2 = (O1-E1)^2/V is the "
        "standard one-degree test A/B survival dashboards report. "
        "Per-month terms are pure IEEE ratios of exact integer counts "
        "(no libm), and E1/V accumulate via an ORDERED fold over the "
        "month-sorted array, so the doubles are bit-exact across "
        "engines. Heavy stages are two customer-grain aggregates; the "
        "test itself runs on the ~|months| summary."
    ),
    tags=("analytics", "survival", "statistics", "orders"),
)
def analytics_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    mnum = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    cust = (
        o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
               o.o_custkey == c.c_custkey)
        .groupBy("o_custkey", "c_mktsegment")
        .agg(F.min(mnum).alias("fm"), F.max(mnum).alias("lm"))
        .select(
            (F.col("c_mktsegment") == "BUILDING").cast("int").alias("grp"),
            "fm",
            "lm",
        )
    )
    mx = cust.agg(F.max("lm").alias("maxm"))
    months = o.select(mnum.alias("t")).distinct()
    grid = months.crossJoin(spark.range(2).select(F.col("id").alias("grp")))
    starts = cust.groupBy("grp", F.col("fm").alias("t")).agg(
        F.count(F.lit(1)).alias("starts")
    )
    ends = (
        cust.crossJoin(F.broadcast(mx))
        .groupBy("grp", F.col("lm").alias("t"))
        .agg(
            F.count(F.lit(1)).alias("ends"),
            F.sum((F.col("lm") < F.col("maxm")).cast("long")).alias("d"),
        )
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    per_tg = (
        grid.join(starts, ["grp", "t"], "left")
        .join(ends, ["grp", "t"], "left")
        .fillna(0, ["starts", "ends", "d"])
        .withColumn("cum_starts", F.sum("starts").over(w))
        .withColumn("cum_ends_before", F.sum("ends").over(w) - F.col("ends"))
        .select(
            "t",
            "grp",
            (F.col("cum_starts") - F.col("cum_ends_before")).alias("n_risk"),
            "d",
        )
    )
    per_t = per_tg.groupBy("t").agg(
        F.sum(F.when(F.col("grp") == 1, F.col("n_risk")).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("grp") == 0, F.col("n_risk")).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("grp") == 1, F.col("d")).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.sum(F.when(F.col("grp") == 0, F.col("d")).otherwise(0))
        .cast("long")
        .alias("d2"),
    )
    n_d = (F.col("n1") + F.col("n2")).cast("double")
    d_d = (F.col("d1") + F.col("d2")).cast("double")
    n1_d = F.col("n1").cast("double")
    n2_d = F.col("n2").cast("double")
    terms = per_t.filter(F.col("d1") + F.col("d2") > 0).select(
        "t",
        "d1",
        "d2",
        (d_d * n1_d / n_d).alias("e1_t"),
        F.when(
            F.col("n1") + F.col("n2") > 1,
            d_d * n1_d / n_d * (n2_d / n_d) * ((n_d - d_d) / (n_d - F.lit(1.0))),
        )
        .otherwise(F.lit(0.0))
        .alias("v_t"),
    )
    packed = terms.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum(F.col("d1") + F.col("d2")).cast("long").alias("d_total"),
        F.count(F.lit(1)).cast("long").alias("n_event_months"),
        F.array_sort(F.collect_list(F.struct("t", "e1_t", "v_t"))).alias("s"),
    )
    fold = lambda fld: F.aggregate(  # noqa: E731
        F.col("s"), F.lit(0.0), lambda acc, e: acc + e[fld]
    )
    folded = packed.select(
        "o1",
        "d_total",
        "n_event_months",
        fold("e1_t").alias("e1"),
        fold("v_t").alias("v"),
    )
    o1_d = F.col("o1").cast("double")
    return folded.select(
        "o1",
        "d_total",
        "n_event_months",
        "e1",
        "v",
        ((o1_d - F.col("e1")) * (o1_d - F.col("e1")) / F.col("v")).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Sequential pattern detection over per-user event strings (MATCH_RECOGNIZE)
# ---------------------------------------------------------------------------

_SEQ_FUNNEL_RE = "v[^p]*c.*p"  # a view, then a click before any purchase,
#                                then eventually a purchase


@register(
    "window_regex_sequence_detect",
    oracle=f"""
    WITH seqs AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events
      GROUP BY user_id
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, n_events,
           CAST(length(seq) AS BIGINT) AS seq_len,
           regexp_matches(seq, '{_SEQ_FUNNEL_RE}') AS has_funnel,
           CAST(strpos(seq, 'p') AS BIGINT) AS first_purchase_pos
    FROM seqs
    ORDER BY user_id
    """,
    doc=(
        "MATCH_RECOGNIZE-style sequential pattern detection: each "
        "user's event history collapses to an ordered initial-letter "
        "string (c/e/p/s/v, ordered by ts with event_id as the "
        "deterministic tiebreak), and a regex over that string detects "
        "the funnel 'view, then a click before any purchase, then a "
        "purchase' — the row-pattern query SQL:2016 MATCH_RECOGNIZE "
        "expresses, done Spark-native since neither engine ships it. "
        "The regex subset used (character classes, *) behaves "
        "identically under Java regex and RE2. Scale: one "
        "groupBy(user) sort-aggregate builds the sequence — state per "
        "user is its event string, the same memory a streaming "
        "flatMapGroupsWithState sessionizer carries — and the "
        "detection itself is a map-side scan of the summary."
    ),
    tags=("window", "events", "sequence", "sql-api"),
)
def window_regex_sequence_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    seqs = e.groupBy(F.col("user_id").cast("long").alias("user_id")).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts", "event_id", F.substring("event_type", 1, 1).alias("i")
                        )
                    )
                ),
                lambda x: x["i"],
            ),
            "",
        ).alias("seq"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return seqs.select(
        "user_id",
        "n_events",
        F.length("seq").cast("long").alias("seq_len"),
        F.col("seq").rlike(_SEQ_FUNNEL_RE).alias("has_funnel"),
        F.instr(F.col("seq"), "p").cast("long").alias("first_purchase_pos"),
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# One-way ANOVA sufficient-statistics decomposition (k-group experiment)
# --------------------------------------------------------------------------


@register(
    "analytics_anova_oneway",
    oracle="""
    WITH x AS (
      SELECT event_type AS grp,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events
    ),
    g AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(v AS HUGEINT)) AS HUGEINT) AS s1,
             CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2
      FROM x GROUP BY grp
    ),
    tot AS (
      SELECT CAST(SUM(n) AS HUGEINT) AS nt, CAST(SUM(s1) AS HUGEINT) AS st
      FROM g
    )
    SELECT g.grp AS event_type, g.n AS n_g,
           CAST(g.s1 AS BIGINT) AS sum_cents,
           CAST(tot.nt AS BIGINT) AS n_total,
           CAST(CAST(g.n AS HUGEINT) * g.s2 - g.s1 * g.s1 AS VARCHAR)
             AS ssw_num_str,
           CAST(tot.nt * g.s1 - CAST(g.n AS HUGEINT) * tot.st AS VARCHAR)
             AS ssb_dev_str
    FROM g CROSS JOIN tot
    ORDER BY event_type
    """,
    doc=(
        "One-way ANOVA decomposition across the k=5 event-type groups "
        "of the centi-scaled event value, emitted as the per-group "
        "SUFFICIENT-STATISTICS relation: within-group variance "
        "numerator n_g*S2_g - S1_g^2 (= n_g^2 * var_pop) and "
        "between-group deviation numerator N*S1_g - n_g*S "
        "(= n_g*N*(mean_g - grand_mean)) — both exact integers at any "
        "scale, carried in decimal-128/HUGEINT and emitted as DIGIT "
        "STRINGS so the query never overflows int64 and never emits a "
        "decimal128 column (the driver-canonicalization hazard class). "
        "F = (SSB/(k-1)) / (SSW/(N-k)) assembles from these via "
        "SSW = sum_g ssw_num/n_g and SSB = sum_g ssb_dev^2/(n_g*N^2); "
        "the companion analytics_welch_t_test shows the 2-group float "
        "emission. One aggregate pass (partial+final, map-side "
        "combinable); the decomposition math runs on k rows."
    ),
    tags=("analytics", "experiment", "statistics", "events"),
)
def analytics_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    v = F.round(F.col("value") * 100).cast("long")
    g = e.select(
        F.col("event_type").alias("grp"), v.alias("v")
    ).groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d38(F.col("v"))).cast("decimal(38,0)").alias("s1"),
        F.sum(d38(F.col("v")) * F.col("v")).cast("decimal(38,0)").alias("s2"),
    )
    tot = g.agg(
        F.sum("n").cast("decimal(38,0)").alias("nt"),
        F.sum("s1").cast("decimal(38,0)").alias("st"),
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            F.col("grp").alias("event_type"),
            F.col("n").alias("n_g"),
            F.col("s1").cast("long").alias("sum_cents"),
            F.col("nt").cast("long").alias("n_total"),
            (d38(F.col("n")) * F.col("s2") - F.col("s1") * F.col("s1"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("ssw_num_str"),
            (F.col("nt") * F.col("s1") - d38(F.col("n")) * F.col("st"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("ssb_dev_str"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Uplift evaluation (two-model difference by segment)
# --------------------------------------------------------------------------


@register(
    "analytics_uplift_eval",
    oracle="""
    WITH assigned AS (
      SELECT c.c_custkey, c.c_mktsegment,
             CAST('0x' || substr(md5(CAST(c.c_custkey AS VARCHAR)), 1, 15)
                  AS BIGINT) % 2 AS treated
      FROM customer c
    ),
    outcome AS (
      SELECT o_custkey,
             MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
               AS y
      FROM orders GROUP BY o_custkey
    ),
    joined AS (
      SELECT a.c_mktsegment AS segment, a.treated,
             COALESCE(o.y, 0) AS y
      FROM assigned a LEFT JOIN outcome o ON a.c_custkey = o.o_custkey
    )
    SELECT segment,
           CAST(SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_treated,
           CAST(SUM(CASE WHEN treated = 1 THEN y ELSE 0 END) AS BIGINT)
             AS conv_treated,
           CAST(SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_control,
           CAST(SUM(CASE WHEN treated = 0 THEN y ELSE 0 END) AS BIGINT)
             AS conv_control,
           CAST((1000 * SUM(CASE WHEN treated = 1 THEN y ELSE 0 END))
                // SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END)
                - (1000 * SUM(CASE WHEN treated = 0 THEN y ELSE 0 END))
                // SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS uplift_permille
    FROM joined
    GROUP BY segment
    ORDER BY segment
    """,
    doc=(
        "Uplift (incrementality) readout — the two-model difference "
        "T-learner evaluation every growth/experimentation stack "
        "runs: customers assigned to treatment/control by a "
        "DETERMINISTIC md5 hash (reproducible randomization, the "
        "same device as the splits family), binary outcome = placed "
        "an urgent order, and per-segment uplift = treated rate "
        "minus control rate in exact integer permille (floor-div on "
        "non-negative counts, so Spark div == DuckDB //). The "
        "customer-grain outcome collapse keeps the join "
        "customer-sized; one partial+final aggregate per side. At "
        "100 TB: outcome rollup touches facts once; everything else "
        "is segment-grain."
    ),
    tags=("analytics", "experimentation", "customer", "orders"),
)
def analytics_uplift_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    treated = (
        F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 2
    )
    assigned = c.select(
        "c_custkey", F.col("c_mktsegment").alias("segment"), treated.alias("treated")
    )
    outcome = o.groupBy("o_custkey").agg(
        F.max((F.col("o_orderpriority") == "1-URGENT").cast("long")).alias("y")
    )
    joined = assigned.join(
        outcome, assigned.c_custkey == outcome.o_custkey, "left"
    ).select("segment", "treated", F.coalesce("y", F.lit(0)).alias("y"))
    t1 = (F.col("treated") == 1).cast("long")
    t0 = (F.col("treated") == 0).cast("long")
    return (
        joined.groupBy("segment")
        .agg(
            F.sum(t1).cast("long").alias("n_treated"),
            F.sum(t1 * F.col("y")).cast("long").alias("conv_treated"),
            F.sum(t0).cast("long").alias("n_control"),
            F.sum(t0 * F.col("y")).cast("long").alias("conv_control"),
        )
        .select(
            "segment",
            "n_treated",
            "conv_treated",
            "n_control",
            "conv_control",
            F.expr(
                "CAST((1000 * conv_treated) div n_treated"
                " - (1000 * conv_control) div n_control AS BIGINT)"
            ).alias("uplift_permille"),
        )
        .orderBy("segment")
    )


# --------------------------------------------------------------------------
# Mix-shift decomposition (rate / mix / interaction effects)
# --------------------------------------------------------------------------

_MIX_S = 10**6  # ppm scale


@register(
    "analytics_mix_shift_decomposition",
    oracle=f"""
    WITH assigned AS (
      SELECT c.c_mktsegment AS segment,
             CASE WHEN EXTRACT(YEAR FROM o.o_orderdate) <= 1997
                  THEN 1 ELSE 2 END AS period,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    seg AS (
      SELECT segment,
             SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN period = 1 THEN y ELSE 0 END) AS y1,
             SUM(CASE WHEN period = 2 THEN 1 ELSE 0 END) AS n2,
             SUM(CASE WHEN period = 2 THEN y ELSE 0 END) AS y2
      FROM assigned GROUP BY segment
    ),
    tot AS (SELECT SUM(n1) AS t1, SUM(n2) AS t2 FROM seg),
    scaled AS (
      SELECT s.segment,
             ({_MIX_S} * s.n1) // t.t1 AS w1_ppm,
             ({_MIX_S} * s.n2) // t.t2 AS w2_ppm,
             ({_MIX_S} * s.y1) // s.n1 AS r1_ppm,
             ({_MIX_S} * s.y2) // s.n2 AS r2_ppm
      FROM seg s CROSS JOIN tot t
    )
    SELECT segment,
           CAST(w1_ppm AS BIGINT) AS w1_ppm,
           CAST(w2_ppm AS BIGINT) AS w2_ppm,
           CAST(r1_ppm AS BIGINT) AS r1_ppm,
           CAST(r2_ppm AS BIGINT) AS r2_ppm,
           CAST((w1_ppm * (r2_ppm - r1_ppm)) // {_MIX_S} AS BIGINT)
             AS rate_effect_ppm,
           CAST(((w2_ppm - w1_ppm) * r1_ppm) // {_MIX_S} AS BIGINT)
             AS mix_effect_ppm,
           CAST(((w2_ppm - w1_ppm) * (r2_ppm - r1_ppm)) // {_MIX_S}
                AS BIGINT) AS interaction_ppm
    FROM scaled
    ORDER BY segment
    """,
    doc=(
        "Mix-shift (Oaxaca / price-volume-mix) decomposition — the "
        "analytics pass that answers 'did the metric move because "
        "segments changed BEHAVIOR (rate effect, at old weights), "
        "because the POPULATION shifted between segments (mix "
        "effect, at old rates), or both (interaction)': urgent-order "
        "rate per market segment across two periods, each effect in "
        "integer ppm via the Laspeyres split Δ = Σ w1·Δr + Σ Δw·r1 "
        "+ Σ Δw·Δr. Floor-div scaling happens at the SAME points in "
        "both engines, so the whole decomposition table is "
        "hash-exact. One fact scan with the dim broadcast, one "
        "segment-grain aggregate, one 1-row broadcast total — "
        "segment-grain everything after."
    ),
    tags=("analytics", "orders", "customer"),
)
def analytics_mix_shift_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderpriority"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    assigned = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.when(F.year("o_orderdate") <= 1997, 1).otherwise(2).alias("period"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("y"),
    )
    p1 = (F.col("period") == 1).cast("long")
    p2 = (F.col("period") == 2).cast("long")
    seg = assigned.groupBy("segment").agg(
        F.sum(p1).alias("n1"),
        F.sum(p1 * F.col("y")).alias("y1"),
        F.sum(p2).alias("n2"),
        F.sum(p2 * F.col("y")).alias("y2"),
    )
    tot = seg.agg(F.sum("n1").alias("t1"), F.sum("n2").alias("t2"))
    scaled = seg.crossJoin(F.broadcast(tot)).select(
        "segment",
        F.expr(f"({_MIX_S} * n1) div t1").alias("w1_ppm"),
        F.expr(f"({_MIX_S} * n2) div t2").alias("w2_ppm"),
        F.expr(f"({_MIX_S} * y1) div n1").alias("r1_ppm"),
        F.expr(f"({_MIX_S} * y2) div n2").alias("r2_ppm"),
    )
    return scaled.select(
        "segment",
        F.col("w1_ppm").cast("long").alias("w1_ppm"),
        F.col("w2_ppm").cast("long").alias("w2_ppm"),
        F.col("r1_ppm").cast("long").alias("r1_ppm"),
        F.col("r2_ppm").cast("long").alias("r2_ppm"),
        F.expr(f"CAST((w1_ppm * (r2_ppm - r1_ppm)) div {_MIX_S} AS BIGINT)").alias(
            "rate_effect_ppm"
        ),
        F.expr(f"CAST(((w2_ppm - w1_ppm) * r1_ppm) div {_MIX_S} AS BIGINT)").alias(
            "mix_effect_ppm"
        ),
        F.expr(
            f"CAST(((w2_ppm - w1_ppm) * (r2_ppm - r1_ppm)) div {_MIX_S}"
            " AS BIGINT)"
        ).alias("interaction_ppm"),
    ).orderBy("segment")


# --------------------------------------------------------------------------
# Difference-in-differences (temporal quasi-experiment readout)
# --------------------------------------------------------------------------


@register(
    "analytics_diff_in_diff",
    oracle="""
    WITH assigned AS (
      SELECT CASE WHEN c.c_mktsegment IN ('BUILDING', 'MACHINERY')
                  THEN 1 ELSE 0 END AS treated,
             CASE WHEN EXTRACT(YEAR FROM o.o_orderdate) >= 1998
                  THEN 1 ELSE 0 END AS post,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    cells AS (
      SELECT treated, post, COUNT(*) AS n, SUM(y) AS pos,
             (1000000 * SUM(y)) // COUNT(*) AS rate_ppm
      FROM assigned GROUP BY treated, post
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN treated = 1 AND post = 0 THEN rate_ppm END) AS t0,
        MAX(CASE WHEN treated = 1 AND post = 1 THEN rate_ppm END) AS t1,
        MAX(CASE WHEN treated = 0 AND post = 0 THEN rate_ppm END) AS c0,
        MAX(CASE WHEN treated = 0 AND post = 1 THEN rate_ppm END) AS c1
      FROM cells
    )
    SELECT CAST(c.treated AS BIGINT) AS treated,
           CAST(c.post AS BIGINT) AS post,
           CAST(c.n AS BIGINT) AS n,
           CAST(c.rate_ppm AS BIGINT) AS rate_ppm,
           CAST((w.t1 - w.t0) - (w.c1 - w.c0) AS BIGINT) AS did_ppm
    FROM cells c CROSS JOIN wide w
    ORDER BY treated, post
    """,
    doc=(
        "Difference-in-differences — the temporal quasi-experiment "
        "readout when randomization isn't available (policy changes, "
        "staged rollouts): treated segments vs control segments, "
        "before vs after the cutover, with the DiD estimate "
        "(Δtreated − Δcontrol) that nets out both the group baseline "
        "difference and the common time trend. The four cell rates "
        "and the estimate are exact integer ppm, so the readout "
        "table is hash-stable. Complements analytics_uplift_eval "
        "(randomized, cross-sectional) with the observational "
        "design. One fact scan, dim broadcast, 4-cell aggregate, "
        "1-row pivot broadcast."
    ),
    tags=("analytics", "experimentation", "orders", "customer"),
)
def analytics_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderpriority"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    assigned = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment")
        .isin("BUILDING", "MACHINERY")
        .cast("long")
        .alias("treated"),
        (F.year("o_orderdate") >= 1998).cast("long").alias("post"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("y"),
    )
    cells = assigned.groupBy("treated", "post").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("(1000000 * SUM(y)) div COUNT(*)").alias("rate_ppm"),
    )
    wide = cells.agg(
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 0),
                     F.col("rate_ppm"))).alias("t0"),
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 1),
                     F.col("rate_ppm"))).alias("t1"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 0),
                     F.col("rate_ppm"))).alias("c0"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 1),
                     F.col("rate_ppm"))).alias("c1"),
    )
    return (
        cells.crossJoin(F.broadcast(wide))
        .select(
            F.col("treated").cast("long").alias("treated"),
            F.col("post").cast("long").alias("post"),
            F.col("n").cast("long").alias("n"),
            F.col("rate_ppm").cast("long").alias("rate_ppm"),
            (
                (F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0"))
            )
            .cast("long")
            .alias("did_ppm"),
        )
        .orderBy("treated", "post")
    )


# ---------------------------------------------------------------------------
# Shapley-value multi-touch attribution (exact, 3 channels)
# ---------------------------------------------------------------------------


@register(
    "analytics_shapley_attribution",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           + 2 * MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
           + 4 * MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               AS mask,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY user_id
    ),
    exact AS (SELECT mask, SUM(conv) AS conv FROM per_user GROUP BY mask),
    masks AS (SELECT unnest(generate_series(0, 7)) AS s),
    v AS (
      SELECT m.s, COALESCE(SUM(e.conv), 0) AS val
      FROM masks m LEFT JOIN exact e ON (e.mask & m.s) = e.mask
      GROUP BY m.s
    ),
    chan AS (
      SELECT * FROM (VALUES ('view', 1), ('click', 2), ('signup', 4))
        c(channel, bit)
    ),
    contrib AS (
      SELECT c.channel,
             SUM(CASE bit_count(s.s)
                 WHEN 0 THEN 2 WHEN 1 THEN 1 WHEN 2 THEN 2 END
                 * (vi.val - vs.val)) AS shap_x6
      FROM chan c
      JOIN masks s ON (s.s & c.bit) = 0
      JOIN v vs ON vs.s = s.s
      JOIN v vi ON vi.s = (s.s | c.bit)
      GROUP BY c.channel
    )
    SELECT c.channel, CAST(c.shap_x6 AS BIGINT) AS shap_x6,
           CAST(vf.val AS BIGINT) AS v_full,
           CAST(v0.val AS BIGINT) AS v_empty
    FROM contrib c
    CROSS JOIN (SELECT val FROM v WHERE s = 7) vf
    CROSS JOIN (SELECT val FROM v WHERE s = 0) v0
    ORDER BY c.channel
    """,
    doc=(
        "EXACT Shapley-value multi-touch attribution over the three "
        "touch channels (view/click/signup), conversion = purchase: "
        "per-user journeys collapse to a 3-bit channel mask, the "
        "coalition value v(S) = conversions reachable with S's "
        "channels (subset-cumulative exact-mask counts), and each "
        "channel's Shapley value is the permutation-weighted marginal "
        "sum with 3! cleared (shap_x6 integers; weights 2/1/2 by "
        "coalition size). The principled upgrade of "
        "analytics_attribution_linear: order-independent, "
        "efficiency-axiom-exact (sum shap = 6*(v_full - v_empty), "
        "test-asserted). Corpus-sized work is ONE groupBy(user); "
        "everything after runs on the 2^|channels|-row summary — at "
        "100 TB the exact computation stays bounded because channels, "
        "not users, set the coalition lattice size."
    ),
    tags=("analytics", "attribution", "events"),
)
def analytics_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        (
            F.max((F.col("event_type") == "view").cast("long"))
            + 2 * F.max((F.col("event_type") == "click").cast("long"))
            + 4 * F.max((F.col("event_type") == "signup").cast("long"))
        ).alias("mask"),
        F.max((F.col("event_type") == "purchase").cast("long")).alias("conv"),
    )
    exact = per_user.groupBy("mask").agg(F.sum("conv").alias("conv"))
    masks = spark.range(0, 8).select(F.col("id").cast("int").alias("s"))
    v = (
        masks.join(
            F.broadcast(exact),
            F.expr("(mask & s) = mask"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("conv"), F.lit(0)).alias("val"))
    )
    chan = spark.createDataFrame(
        [("view", 1), ("click", 2), ("signup", 4)], "channel string, bit int"
    )
    vb = F.broadcast(v)
    contrib = (
        chan.join(F.broadcast(masks), F.expr("(s & bit) = 0"))
        .join(vb.select(F.col("s").alias("s0"), F.col("val").alias("v_s")),
              F.expr("s0 = s"))
        .join(vb.select(F.col("s").alias("s1"), F.col("val").alias("v_si")),
              F.expr("s1 = (s | bit)"))
        .groupBy("channel")
        .agg(
            F.sum(
                F.expr(
                    "CASE bit_count(s) WHEN 0 THEN 2 WHEN 1 THEN 1"
                    " WHEN 2 THEN 2 END"
                )
                * (F.col("v_si") - F.col("v_s"))
            ).alias("shap_x6")
        )
    )
    vf = v.filter(F.col("s") == 7).select(F.col("val").alias("v_full"))
    v0 = v.filter(F.col("s") == 0).select(F.col("val").alias("v_empty"))
    return (
        contrib.crossJoin(F.broadcast(vf))
        .crossJoin(F.broadcast(v0))
        .select(
            "channel",
            F.col("shap_x6").cast("long").alias("shap_x6"),
            F.col("v_full").cast("long").alias("v_full"),
            F.col("v_empty").cast("long").alias("v_empty"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# Laspeyres / Paasche / Fisher price indices
# ---------------------------------------------------------------------------

_PI_S = 10**4   # unit-price scale (cents per unit, 1e4-scaled)
_PI_PPM = 10**6


@register(
    "analytics_price_index_fisher",
    oracle=f"""
    WITH yr AS (
      SELECT l_partkey AS part, year(o_orderdate) AS y,
             CAST(SUM(ROUND(l_extendedprice * 100)) AS BIGINT) AS r,
             CAST(SUM(l_quantity) AS BIGINT) AS q
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE year(o_orderdate) IN (1995, 1996)
      GROUP BY part, y
    ),
    both_years AS (
      SELECT b.part,
             (b.r * {_PI_S}) // b.q AS p0, b.q AS q0,
             (c.r * {_PI_S}) // c.q AS p1, c.q AS q1
      FROM yr b JOIN yr c ON b.part = c.part
      WHERE b.y = 1995 AND c.y = 1996
    ),
    sums AS (
      SELECT COUNT(*) AS n_parts,
             SUM(p1 * q0) AS l_num, SUM(p0 * q0) AS l_den,
             SUM(p1 * q1) AS p_num, SUM(p0 * q1) AS p_den
      FROM both_years
    )
    SELECT CAST(n_parts AS BIGINT) AS n_parts,
           CAST((l_num * {_PI_PPM}) // l_den AS BIGINT) AS laspeyres_ppm,
           CAST((p_num * {_PI_PPM}) // p_den AS BIGINT) AS paasche_ppm,
           CAST(FLOOR(SQRT(
             CAST(((l_num * {_PI_PPM}) // l_den)
                  * ((p_num * {_PI_PPM}) // p_den) AS DOUBLE)))
                AS BIGINT) AS fisher_ppm
    FROM sums
    """,
    doc=(
        "The three classic bilateral price indices over the 1995->1996 "
        "part basket: Laspeyres (base-period quantities), Paasche "
        "(current-period) and Fisher (their geometric mean — the "
        "'ideal' index national statistics agencies publish). Unit "
        "prices are floored scaled integers (revenue*S div quantity), "
        "the index ratios are ppm integers, and Fisher's sqrt runs on "
        "an exactly-representable <2^53 product so the correctly-"
        "rounded IEEE sqrt + floor agree across engines. Only parts "
        "traded in BOTH years enter the basket (the standard matched-"
        "model rule). One fact join + one groupBy(part, year) — the "
        "index arithmetic runs on the basket summary."
    ),
    tags=("analytics", "economics", "lineitem", "orders"),
)
def analytics_price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_quantity"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    yr = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.year("o_orderdate").isin(1995, 1996))
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.year("o_orderdate").alias("y"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("r"),
            F.sum("l_quantity").cast("long").alias("q"),
        )
    )
    base = yr.filter(F.col("y") == 1995).select(
        "part",
        F.expr(f"(r * {_PI_S}) div q").alias("p0"),
        F.col("q").alias("q0"),
    )
    cur = yr.filter(F.col("y") == 1996).select(
        "part",
        F.expr(f"(r * {_PI_S}) div q").alias("p1"),
        F.col("q").alias("q1"),
    )
    sums = base.join(cur, "part").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum(F.col("p1") * F.col("q0")).alias("l_num"),
        F.sum(F.col("p0") * F.col("q0")).alias("l_den"),
        F.sum(F.col("p1") * F.col("q1")).alias("p_num"),
        F.sum(F.col("p0") * F.col("q1")).alias("p_den"),
    )
    return sums.select(
        "n_parts",
        F.expr(f"CAST((CAST(l_num AS DECIMAL(38,0)) * {_PI_PPM}) div l_den AS BIGINT)").alias(
            "laspeyres_ppm"
        ),
        F.expr(f"CAST((CAST(p_num AS DECIMAL(38,0)) * {_PI_PPM}) div p_den AS BIGINT)").alias(
            "paasche_ppm"
        ),
        F.expr(
            f"CAST(FLOOR(SQRT(CAST(((CAST(l_num AS DECIMAL(38,0)) * {_PI_PPM}) div l_den)"
            f" * ((CAST(p_num AS DECIMAL(38,0)) * {_PI_PPM}) div p_den) AS DOUBLE))) AS BIGINT)"
        ).alias("fisher_ppm"),
    )


# ---------------------------------------------------------------------------
# Cross-device identity stitching (components over the identifier graph)
# ---------------------------------------------------------------------------


@register(
    "analytics_identity_stitching",
    oracle="""
    WITH RECURSIVE users AS (
      SELECT DISTINCT user_id AS u FROM events
    ),
    ids AS (
      SELECT u,
             CASE WHEN u % 5 = 0 THEN u - 1 ELSE u END AS cookie,
             CASE WHEN u % 7 = 0 THEN u - 1 ELSE u END AS email
      FROM users
    ),
    edges AS (
      SELECT u * 3 AS a, cookie * 3 + 1 AS b FROM ids
      UNION SELECT cookie * 3 + 1, u * 3 FROM ids
      UNION SELECT u * 3, email * 3 + 2 FROM ids
      UNION SELECT email * 3 + 2, u * 3 FROM ids
    ),
    reach(id, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, rr.r FROM edges e JOIN reach rr ON rr.id = e.b
    ),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
    user_comp AS (
      SELECT id / 3 AS user_id, component
      FROM comp WHERE id % 3 = 0
    ),
    ev AS (
      SELECT user_id, COUNT(*) AS n_events,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS revenue_cents
      FROM events GROUP BY user_id
    )
    SELECT uc.component AS identity_id,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(ev.n_events) AS BIGINT) AS n_events,
           CAST(SUM(ev.revenue_cents) AS BIGINT) AS revenue_cents
    FROM user_comp uc JOIN ev ON ev.user_id = uc.user_id
    GROUP BY uc.component
    ORDER BY identity_id
    """,
    doc=(
        "Cross-device identity stitching — the identity-resolution "
        "workload behind every CDP: users and their identifiers "
        "(cookies, emails; every 5th/7th user shares one with its "
        "neighbor) form a tripartite identifier graph, connected "
        "components over it (operators/components.py pointer doubling, "
        "O(log diameter) rounds) define the stitched identities, and "
        "per-identity event/revenue rollups replace per-user ones — "
        "the metric change that stitching exists to make. The oracle "
        "closes the same graph with a recursive CTE, so every "
        "identity assignment AND its rolled-up metrics are hash-"
        "pinned. Corpus touches: one distinct-user pass + one "
        "per-user aggregate; the component iteration runs on the "
        "identifier-edge relation (O(users), not O(events))."
    ),
    tags=("analytics", "identity", "components", "events"),
)
def analytics_identity_stitching(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.operators.components import connected_components

    e = table(spark, sf_dir, "events")
    # round 10 (guide §2.4): the distinct-user pass and the per-user
    # rollup each scanned the corpus; the rollup's grouping keys ARE
    # the distinct users, so one cached user-grain aggregate (bounded
    # by |users|) feeds both the identifier graph and the final join —
    # 2 corpus scans + a distinct exchange → 1 scan + 1 exchange
    ev = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias(
            "revenue_cents"
        ),
    ).cache()
    users = ev.select(F.col("user_id").alias("u"))
    ids = users.select(
        "u",
        F.when(F.col("u") % 5 == 0, F.col("u") - 1)
        .otherwise(F.col("u"))
        .alias("cookie"),
        F.when(F.col("u") % 7 == 0, F.col("u") - 1)
        .otherwise(F.col("u"))
        .alias("email"),
    )
    edges = (
        ids.select(
            (F.col("u") * 3).alias("a"),
            (F.col("cookie") * 3 + 1).alias("b"),
        )
        .unionAll(
            ids.select(
                (F.col("u") * 3).alias("a"),
                (F.col("email") * 3 + 2).alias("b"),
            )
        )
    )
    comp = connected_components(edges, "a", "b")
    user_comp = comp.filter(F.col("node") % 3 == 0).select(
        (F.col("node") / 3).cast("long").alias("user_id"), "component"
    )
    return (
        ev.join(F.broadcast(user_comp), "user_id")
        .groupBy(F.col("component").alias("identity_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("identity_id")
    )


# ---------------------------------------------------------------------------
# Qini / AUUC uplift curve by score decile
# ---------------------------------------------------------------------------

_QINI_S = 10**6


@register(
    "analytics_qini_auuc",
    oracle=f"""
    WITH pop AS (
      SELECT c.c_custkey,
             CAST('0x' || substr(md5('auuc-' || CAST(c.c_custkey AS VARCHAR)),
                  1, 15) AS BIGINT) % 2 AS treated,
             CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS score,
             CASE WHEN EXISTS (
               SELECT 1 FROM orders o
               WHERE o.o_custkey = c.c_custkey
                 AND o.o_orderpriority = '1-URGENT'
             ) THEN 1 ELSE 0 END AS y
      FROM customer c
    ),
    ranked AS (
      SELECT treated, y,
             NTILE(10) OVER (ORDER BY score DESC, c_custkey) AS decile
      FROM pop
    ),
    per AS (
      SELECT decile,
             SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS nt,
             SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS nc,
             SUM(CASE WHEN treated = 1 THEN y ELSE 0 END) AS yt,
             SUM(CASE WHEN treated = 0 THEN y ELSE 0 END) AS yc
      FROM ranked GROUP BY decile
    ),
    cum AS (
      SELECT a.decile,
             SUM(b.nt) AS n_t, SUM(b.nc) AS n_c,
             SUM(b.yt) AS y_t, SUM(b.yc) AS y_c
      FROM per a JOIN per b ON b.decile <= a.decile
      GROUP BY a.decile
    ),
    q AS (
      SELECT decile, n_t, n_c, y_t, y_c,
             CASE WHEN n_c = 0 THEN 0 ELSE
               (CASE WHEN (y_t * n_c - y_c * n_t) >= 0 THEN 1 ELSE -1 END)
               * (({_QINI_S} * ABS(y_t * n_c - y_c * n_t)) // n_c)
             END AS qini_scaled
      FROM cum
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
           CAST(y_t AS BIGINT) AS y_t, CAST(y_c AS BIGINT) AS y_c,
           CAST(qini_scaled AS BIGINT) AS qini_scaled,
           CAST((SELECT SUM(qini_scaled) FROM q) AS BIGINT) AS auuc_scaled
    FROM q
    ORDER BY decile
    """,
    doc=(
        "Qini curve + AUUC — the standard uplift-model evaluation "
        "(Radcliffe 2007): customers rank by the model score "
        "(balance, as the deterministic proxy), and at each score "
        "decile the cumulative Qini value y_t - y_c*(n_t/n_c) "
        "measures incremental conversions vs the randomized control; "
        "the sum over deciles is the area under the uplift curve. "
        "Denominators cleared, sign-safe scaled division (Qini goes "
        "negative when the model ranks anti-persuadables first). The "
        "curve companion to analytics_uplift_eval's per-segment point "
        "estimates — this is the number that picks WHICH uplift model "
        "ships. Ranking via the sharded-rank operator + closed-form "
        "NTILE; cumulative sums via a 10x10 bounded self-join, no "
        "global window."
    ),
    tags=("analytics", "uplift", "evaluation", "customer", "orders"),
)
def analytics_qini_auuc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.operators.ranks import (
        ntile_from_rank,
        sharded_row_number,
    )

    c = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    urgent = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("y", F.lit(1))
    )
    pop = c.join(F.broadcast(urgent), "c_custkey", "left").select(
        "c_custkey",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("auuc-"),
                                   F.col("c_custkey").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("treated"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("score"),
        F.coalesce("y", F.lit(0)).alias("y"),
    )
    ranked, n = sharded_row_number(
        pop, [F.col("score").desc(), F.col("c_custkey").asc()], out="rn"
    )
    per = (
        ranked.withColumn("decile", ntile_from_rank(F.col("rn"), n, 10))
        .groupBy("decile")
        .agg(
            F.sum((F.col("treated") == 1).cast("long")).alias("nt"),
            F.sum((F.col("treated") == 0).cast("long")).alias("nc"),
            F.sum(F.when(F.col("treated") == 1, F.col("y")).otherwise(0))
            .alias("yt"),
            F.sum(F.when(F.col("treated") == 0, F.col("y")).otherwise(0))
            .alias("yc"),
        )
    )
    b = per.select(
        F.col("decile").alias("bd"), "nt", "nc", "yt", "yc"
    )
    cum = (
        per.select("decile")
        .join(F.broadcast(b), F.col("bd") <= F.col("decile"))
        .groupBy("decile")
        .agg(
            F.sum("nt").alias("n_t"),
            F.sum("nc").alias("n_c"),
            F.sum("yt").alias("y_t"),
            F.sum("yc").alias("y_c"),
        )
    )
    q = cum.select(
        "decile",
        "n_t",
        "n_c",
        "y_t",
        "y_c",
        F.expr(
            f"CASE WHEN n_c = 0 THEN 0 ELSE"
            f" (CASE WHEN (y_t * n_c - y_c * n_t) >= 0 THEN 1 ELSE -1 END)"
            f" * (({_QINI_S} * ABS(y_t * n_c - y_c * n_t)) div n_c) END"
        ).alias("qini_scaled"),
    )
    total = q.agg(F.sum("qini_scaled").alias("auuc_scaled"))
    return (
        q.crossJoin(F.broadcast(total))
        .select(
            F.col("decile").cast("long").alias("decile"),
            F.col("n_t").cast("long"),
            F.col("n_c").cast("long"),
            F.col("y_t").cast("long"),
            F.col("y_c").cast("long"),
            F.col("qini_scaled").cast("long"),
            F.col("auuc_scaled").cast("long"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# TWAP / VWAP (time- and volume-weighted averages over irregular ticks)
# ---------------------------------------------------------------------------

_TWAP_S = 10**6


@register(
    "analytics_twap_vwap",
    oracle=f"""
    WITH ticks AS (
      SELECT event_type,
             epoch_ms(ts) AS t_ms,
             event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS px_cents,
             CAST(event_id % 9 + 1 AS BIGINT) AS vol
      FROM events
    ),
    seg AS (
      SELECT event_type, px_cents, vol,
             LEAD(t_ms) OVER (
               PARTITION BY event_type ORDER BY t_ms, event_id
             ) - t_ms AS dur_ms
      FROM ticks
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           CAST(SUM(vol) AS BIGINT) AS total_volume,
           CAST(({_TWAP_S} * SUM(CASE WHEN dur_ms IS NOT NULL
                                 THEN px_cents * dur_ms ELSE 0 END))
                // SUM(CASE WHEN dur_ms IS NOT NULL
                       THEN dur_ms ELSE 0 END) AS BIGINT) AS twap_scaled,
           CAST(({_TWAP_S} * SUM(px_cents * vol)) // SUM(vol) AS BIGINT)
             AS vwap_scaled
    FROM seg
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc=(
        "TWAP and VWAP — the two weighted averages every market-data "
        "and metering pipeline computes over IRREGULAR ticks, where "
        "the naive mean is wrong: TWAP weights each observation by "
        "how long it was the prevailing value (LEAD-difference "
        "durations per key — the step-function integral), VWAP by "
        "traded volume. Both are exact integer rationals (cents x "
        "ms / ms, cents x units / units) emitted as floored scaled "
        "divisions of non-negatives. The duration window is "
        "PARTITIONED by instrument (one hash shuffle + local sort); "
        "at 100 TB this is the standard tick-rollup shape, with the "
        "final weighted sums a one-pass keyed aggregate."
    ),
    tags=("analytics", "timeseries", "events"),
)
def analytics_twap_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.catalog import table as _table

    ticks = _table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("t_ms"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("px_cents"),
        (F.col("event_id") % 9 + 1).cast("long").alias("vol"),
    )
    w = Window.partitionBy("event_type").orderBy("t_ms", "event_id")
    seg = ticks.select(
        "event_type",
        "px_cents",
        "vol",
        (F.lead("t_ms").over(w) - F.col("t_ms")).alias("dur_ms"),
    )
    return (
        seg.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ticks"),
            F.sum("vol").cast("long").alias("total_volume"),
            F.expr(
                f"CAST(({_TWAP_S} * CAST(sum(CASE WHEN dur_ms IS NOT NULL"
                f" THEN CAST(px_cents AS DECIMAL(38,0)) * dur_ms"
                f" ELSE 0 END) AS DECIMAL(38,0)))"
                f" div sum(CASE WHEN dur_ms IS NOT NULL"
                f" THEN dur_ms ELSE 0 END) AS BIGINT)"
            ).alias("twap_scaled"),
            F.expr(
                f"CAST(({_TWAP_S} * CAST(sum(CAST(px_cents AS DECIMAL(38,0))"
                f" * vol) AS DECIMAL(38,0))) div sum(vol)"
                f" AS BIGINT)"
            ).alias("vwap_scaled"),
        )
        .orderBy("event_type")
    )
