"""Reshape & lateral pack: pivot, unpivot, grouping sets, explode, array ops.

[ext] surface (absent from the reference — its whole pipeline is
``dmi_ingestor/ingestor.py:1-233``): the column↔row reshapes and
collection laterals every analytics engine ships. The closest reference
analogue is the band split at ``dmi_ingestor/ingestor.py:101-107`` —
one multi-band cube fanned out to per-timestep files — which is exactly
an `explode` in relational terms.

Scale notes:
- `pivot` is called with an explicit value list — without it Spark runs
  an extra distinct-collect job over the fact table to discover values,
  a full extra scan at 100 TB.
- `explode` of tokenized text multiplies row count ~100×; the grouped
  count that follows is partial-aggregated map-side, so the shuffle
  carries (token, count) pairs, not raw tokens.
- Array ops (`transform`/`filter`/`aggregate`/`array_max`) run inside
  whole-stage codegen on the JVM — no Python boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dmi_ingestor_spark.catalog import table
from dmi_ingestor_spark.functions.exact import sql_sum_exact, sum_exact
from dmi_ingestor_spark.registry import register

# --------------------------------------------------------------------------
# Pivot: long → wide. Explicit value list avoids the value-discovery scan.
# --------------------------------------------------------------------------


@register(
    "pivot_status_by_flag",
    oracle=f"""
    SELECT
      l_returnflag,
      COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS cnt_F,
      COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS cnt_O,
      {sql_sum_exact("CASE WHEN l_linestatus = 'F' THEN l_quantity END", "qty_F")},
      {sql_sum_exact("CASE WHEN l_linestatus = 'O' THEN l_quantity END", "qty_O")}
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="Pivot l_linestatus to columns (explicit values — no discovery scan).",
    tags=("pivot", "aggregation"),
)
def pivot_status_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(22,8)"))
            .cast("double")
            .alias("qty"),
        )
    )
    return wide.select(
        "l_returnflag",
        F.col("F_cnt").alias("cnt_F"),
        F.col("O_cnt").alias("cnt_O"),
        F.col("F_qty").alias("qty_F"),
        F.col("O_qty").alias("qty_O"),
    ).orderBy("l_returnflag")


# --------------------------------------------------------------------------
# Unpivot: wide → long (melt). Spark 4 DataFrame.unpivot == ANSI UNPIVOT.
# --------------------------------------------------------------------------


@register(
    "unpivot_part_measures",
    oracle="""
    SELECT p_partkey, 'p_retailprice' AS measure, p_retailprice AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS value
    FROM part
    """,
    doc="Unpivot (melt) two part measures into (measure, value) rows.",
    tags=("unpivot",),
)
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_retailprice",
        F.col("p_size").cast("double").alias("p_size"),
    )
    return p.unpivot(
        ids=["p_partkey"],
        values=["p_retailprice", "p_size"],
        variableColumnName="measure",
        valueColumnName="value",
    )


# --------------------------------------------------------------------------
# Grouping sets: non-hierarchical grouping (neither rollup nor cube).
# --------------------------------------------------------------------------


@register(
    "agg_grouping_sets",
    oracle=f"""
    SELECT
      c_mktsegment,
      c_nationkey,
      GROUPING(c_mktsegment) + GROUPING(c_nationkey) AS lvl,
      COUNT(*) AS n_customers,
      {sql_sum_exact("c_acctbal", "sum_acctbal")}
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
    ORDER BY lvl, c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST
    """,
    doc="GROUPING SETS ((segment),(nation)) — disjoint single-column sets.",
    tags=("aggregation", "grouping-sets"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return (
        c.groupingSets(
            [["c_mktsegment"], ["c_nationkey"]], "c_mktsegment", "c_nationkey"
        )
        .agg(
            (F.grouping("c_mktsegment") + F.grouping("c_nationkey"))
            .cast("long")
            .alias("lvl"),
            F.count(F.lit(1)).alias("n_customers"),
            sum_exact("c_acctbal", "sum_acctbal"),
        )
        .orderBy(
            "lvl",
            F.col("c_mktsegment").asc_nulls_first(),
            F.col("c_nationkey").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------
# Explode / lateral: tokenize → explode → grouped count (the reference's
# band-split fan-out, dmi_ingestor/ingestor.py:101-107, in relational form).
# --------------------------------------------------------------------------


@register(
    "explode_token_counts",
    oracle="""
    SELECT tok, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
    WHERE tok <> ''
    GROUP BY tok
    HAVING COUNT(*) >= 10
    ORDER BY n DESC, tok
    """,
    doc="explode(split(text)) → grouped token counts (map-side partial agg).",
    tags=("explode", "lateral", "aggregation", "text"),
)
def explode_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 10)
        .orderBy(F.col("n").desc(), "tok")
    )


@register(
    "posexplode_tokens",
    oracle="""
    SELECT doc_id,
           CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos,
           unnest(toks) AS tok
    FROM (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id < 20
    ) t
    """,
    doc="posexplode: token with 0-based position (ordinality lateral).",
    tags=("explode", "lateral", "text"),
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "tok"),
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "tok")


# --------------------------------------------------------------------------
# Distribution window functions: ntile / percent_rank / cume_dist.
# Deterministic ordering: o_totalprice with o_orderkey tiebreaker.
# --------------------------------------------------------------------------


@register(
    "window_ntile_distribution",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cdist
    FROM orders
    WHERE o_totalprice > 50000.0
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
    doc="ntile/percent_rank/cume_dist per priority partition.",
    tags=("window",),
)
def window_ntile_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 50000.0)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdist"),
    )


# --------------------------------------------------------------------------
# Array function pack over embeddings: JVM-side higher-order functions.
# Left-fold accumulation in element order is deterministic on both engines.
# --------------------------------------------------------------------------


@register(
    "array_fn_pack",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                       (a, b) -> a + b) AS el_sum,
           CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
           CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS el_max
    FROM embeddings
    WHERE vec_id < 500
    """,
    doc="Higher-order array ops (transform/filter/aggregate/max) in codegen.",
    tags=("array", "functions"),
)
def array_fn_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x).alias("el_sum"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("long").alias("n_pos"),
        F.array_max("embedding").cast("double").alias("el_max"),
    )


# --------------------------------------------------------------------------
# Range-frame window: trailing 30-day revenue per customer. rangeBetween
# over epoch seconds (Spark range frames need a numeric ordering key);
# the frame sum stays in decimal so it is order-independent.
# --------------------------------------------------------------------------

_THIRTY_DAYS_S = 30 * 86400


@register(
    "window_range_trailing_30d",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(22,8))) OVER (
             PARTITION BY o_custkey
             ORDER BY epoch(o_orderdate)
             RANGE BETWEEN {_THIRTY_DAYS_S} PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rev_30d
    FROM orders
    """,
    doc="RANGE frame: per-customer trailing-30-day revenue sum.",
    tags=("window", "range-frame"),
)
def window_range_trailing_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-_THIRTY_DAYS_S, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(22,8)"))
        .over(w)
        .cast("double")
        .alias("rev_30d"),
    )


# --------------------------------------------------------------------------
# Spark 4 Python UDTF + LATERAL: run-length encoding of token streams.
# --------------------------------------------------------------------------


class _RunLengthUDTF:
    """Run-length encoder over a token array.

    A UDTF is the right surface when one input row yields a DATA-DEPENDENT
    number of output rows from stateful per-element logic. RLE is the
    minimal honest example (each run closes only when the next token
    differs). Registered per-session and invoked through SQL `LATERAL`,
    so the plan is scan → Generate (Python UDTF) — the fan-out happens
    in place on each partition with no shuffle. Python-row-path caveat:
    at 100 TB prefer the HOF/window formulation unless per-row state is
    genuinely required; this query exists to exercise (and correctness-
    gate) the UDTF + lateral-correlation surface itself.
    """

    def eval(self, toks):  # noqa: ANN001 - UDTF protocol
        if toks is None:
            return
        run_idx = 0
        cur = None
        n = 0
        for t in toks:
            if cur is not None and t == cur:
                n += 1
            else:
                if cur is not None:
                    yield cur, n, run_idx
                    run_idx += 1
                cur = t
                n = 1
        if cur is not None:
            yield cur, n, run_idx


_RLE_ORACLE = """
    WITH toks AS (
      SELECT doc_id, t[i] AS tok, i
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           UNNEST(generate_series(1, len(t))) AS u(i)
    ), marked AS (
      SELECT doc_id, tok, i,
             CASE WHEN lag(tok) OVER (PARTITION BY doc_id ORDER BY i)
                       IS DISTINCT FROM tok
                  THEN 1 ELSE 0 END AS is_start
      FROM toks
    ), grp AS (
      SELECT doc_id, tok, i,
             SUM(is_start) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS UNBOUNDED PRECEDING) AS run_id
      FROM marked
    )
    SELECT doc_id,
           CAST(run_id - 1 AS BIGINT) AS run_idx,
           tok AS token,
           CAST(COUNT(*) AS BIGINT) AS run_len
    FROM grp
    GROUP BY doc_id, run_id, tok
"""


@register(
    "udtf_rle_tokens",
    oracle=_RLE_ORACLE,
    doc=(
        "Python UDTF (Spark 4) invoked via SQL LATERAL correlation: "
        "run-length encode each document's token stream into "
        "(run_idx, token, run_len) rows. The DuckDB oracle recomputes "
        "the runs with gaps-and-islands windows, so the UDTF's stateful "
        "Python logic is hash-checked, not just row-counted."
    ),
    tags=("udtf", "lateral", "documents", "reshape"),
)
def udtf_rle_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    # Arrow-batched (ArrowEvalPythonUDTF, not the row-at-a-time
    # BatchEvalPythonUDTF), set per function: no session conf changes
    rle = udtf(
        _RunLengthUDTF,
        returnType="token string, run_len bigint, run_idx bigint",
        useArrow=True,
    )
    spark.udtf.register("rle_tokens", rle)
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT d.doc_id, r.run_idx, r.token, r.run_len
        FROM documents d,
             LATERAL rle_tokens(split(d.text, ' ')) r
        """
    )


@register(
    "reshape_explode_outer_nulls",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN NULL
                  ELSE string_split(text, ' ')[1:3] END AS head_toks
      FROM documents
    )
    , z AS (
      SELECT doc_id,
             CASE WHEN head_toks IS NULL
                  THEN list_zip([CAST(NULL AS BIGINT)], [CAST(NULL AS VARCHAR)])
                  ELSE list_zip(range(len(head_toks)), head_toks) END AS pairs
      FROM d
    )
    SELECT z.doc_id,
           CAST(u.pair[1] AS INTEGER) AS pos,
           u.pair[2] AS tok
    FROM z, unnest(z.pairs) AS u(pair)
    """,
    doc=(
        "F5 null semantics: posexplode_outer keeps the parent row with "
        "NULL pos/element when the array is NULL — the row-preserving "
        "explode a LEFT JOIN LATERAL unnest expresses in SQL. Plain "
        "explode silently drops those parents, which corrupts "
        "row-level joins downstream; every 7th doc's array is nulled "
        "to pin the difference."
    ),
    tags=("reshape", "explode", "documents"),
)
def reshape_explode_outer_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(
            F.slice(F.split(F.col("text"), " "), 1, 3)
        ).alias("head_toks"),
    )
    return d.select(
        "doc_id", F.posexplode_outer("head_toks").alias("pos", "tok")
    ).select("doc_id", F.col("pos").cast("int").alias("pos"), "tok")


# ---------------------------------------------------------------------------
# Schema-evolution union (unionByName with missing columns)
# ---------------------------------------------------------------------------


@register(
    "reshape_union_by_name_evolution",
    oracle="""
    SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority,
           'v1' AS snapshot
    FROM orders
    WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderpriority, 'v2' AS snapshot
    FROM orders
    WHERE o_orderkey % 2 = 1
    """,
    doc=(
        "Schema-evolution union: a v1 snapshot (2 columns) unioned with "
        "a v2 snapshot that added o_orderpriority, via "
        "unionByName(allowMissingColumns=True) — the missing column "
        "back-fills NULL, matching parquet mergeSchema read semantics. "
        "This is how a 100 TB table whose schema grew over time is read "
        "as one relation: position-based union would silently misalign "
        "columns; name-based union is the only safe form. Zero shuffle — "
        "a union is purely logical and each leg keeps its own "
        "partitioning and pushed filters."
    ),
    tags=("reshape", "schema-evolution", "orders"),
)
def reshape_union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", F.lit("v1").alias("snapshot")
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority",
        F.lit("v2").alias("snapshot"),
    )
    return v1.unionByName(v2, allowMissingColumns=True)


# ---------------------------------------------------------------------------
# Map explode (the MapType generator)
# ---------------------------------------------------------------------------


@register(
    "reshape_explode_map",
    oracle="""
    SELECT o_orderkey, mk, mv
    FROM (
      SELECT o_orderkey, 'status' AS mk, o_orderstatus AS mv
      FROM orders WHERE o_orderkey % 8 = 0
      UNION ALL
      SELECT o_orderkey, 'prio', o_orderpriority
      FROM orders WHERE o_orderkey % 8 = 0
      UNION ALL
      SELECT o_orderkey, 'bucket', CAST(o_orderkey % 4 AS VARCHAR)
      FROM orders WHERE o_orderkey % 8 = 0
    )
    """,
    doc=(
        "explode() over a MapType column — the map-typed generator "
        "completing the lateral family (array explode/posexplode/"
        "_outer, struct-array UDTF): each order's 3-entry attribute "
        "map fans out to (key, value) rows. DuckDB has no map "
        "generator, so the oracle states the same fan-out as a "
        "UNION ALL of the entries — proving Spark enumerates exactly "
        "the map's entry set (order-insensitively, per the driver's "
        "sorted compare). Map generators are the natural decode for "
        "sparse attribute blobs (headers, tags, feature maps) and "
        "fan out map-side with zero shuffle."
    ),
    tags=("reshape", "explode", "map", "orders"),
)
def reshape_explode_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 8 == 0)
    m = F.map_from_arrays(
        F.array(F.lit("status"), F.lit("prio"), F.lit("bucket")),
        F.array(
            F.col("o_orderstatus"),
            F.col("o_orderpriority"),
            (F.col("o_orderkey") % 4).cast("string"),
        ),
    )
    return o.select("o_orderkey", F.explode(m).alias("mk", "mv"))


# --------------------------------------------------------------------------
# Polymorphic Python UDTF: output schema computed by analyze()
# --------------------------------------------------------------------------


class _UnpackTokensUDTF:
    """Spark 4 polymorphic UDTF: ``analyze()`` inspects the LITERAL
    second argument n at plan time and declares n output columns
    tok_0..tok_{n-1} — the schema is a function of the call site, not
    fixed at registration (the DataSourceV2-era answer to 'SELECT into
    a dynamic column set'). eval() NULL-pads short token lists so the
    arity contract always holds."""

    @staticmethod
    def analyze(text, n):
        from pyspark.sql.functions import AnalyzeResult
        from pyspark.sql.types import StringType, StructType

        if not n.isConstantExpression or n.value is None:
            raise ValueError("n must be a constant integer literal")
        schema = StructType()
        for i in range(int(n.value)):
            schema = schema.add(f"tok_{i}", StringType())
        return AnalyzeResult(schema=schema)

    def eval(self, text, n):  # noqa: ANN001
        toks = (text or "").split(" ")
        yield tuple(toks[i] if i < len(toks) else None for i in range(int(n)))


@register(
    "udtf_analyze_polymorphic",
    oracle="""
    SELECT doc_id,
           string_split(text, ' ')[1] AS tok_0,
           string_split(text, ' ')[2] AS tok_1,
           string_split(text, ' ')[3] AS tok_2
    FROM documents
    """,
    doc=(
        "Polymorphic Python UDTF (Spark 4 analyze()): the output schema "
        "tok_0..tok_{n-1} is derived from the call-site literal at "
        "ANALYSIS time, so Catalyst plans column pruning and downstream "
        "ops against real per-call columns — no MapType escape hatch, "
        "no parse-after-the-fact. Arrow-batched like every Python row "
        "path in this engine; the oracle recomputes the unpack with "
        "list indexing (DuckDB [i] is NULL-on-OOB, matching the "
        "UDTF's NULL padding)."
    ),
    tags=("udtf", "lateral", "documents", "reshape"),
)
def udtf_analyze_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    # Arrow-batched (ArrowEvalPythonUDTF, not the row-at-a-time
    # BatchEvalPythonUDTF), set per function: no session conf changes
    unpack = udtf(_UnpackTokensUDTF, useArrow=True)
    spark.udtf.register("unpack_tokens", unpack)
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT d.doc_id, u.tok_0, u.tok_1, u.tok_2
        FROM documents d, LATERAL unpack_tokens(d.text, 3) u
        """
    )


# --------------------------------------------------------------------------
# Nested build → flatten roundtrip (array<struct> parquet modeling)
# --------------------------------------------------------------------------


@register(
    "nested_build_flatten_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem
    """,
    doc=(
        "Nested-data modeling roundtrip: lineitems roll up into one "
        "array<struct<linenumber,partkey,quantity>> row per order "
        "(the denormalized document shape data lakes store to kill "
        "the join), then flatten back via explode + struct expansion. "
        "Hash-green against the FLAT relation proves the build→flatten "
        "composition is lossless — no dropped rows, no field "
        "reordering, no null surprises. array_sort on the struct makes "
        "the nested form canonical. Scale: one order-grain aggregate "
        "(partial+final), one map-side generator — building the "
        "nested table costs exactly the shuffle the downstream join "
        "it replaces would have cost, once."
    ),
    tags=("reshape", "nested", "lineitem"),
)
def nested_build_flatten_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    nested = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct("l_linenumber", "l_partkey", "l_quantity")
            )
        ).alias("lines")
    )
    return nested.select(
        "l_orderkey", F.explode("lines").alias("ln")
    ).select("l_orderkey", "ln.*")


# --------------------------------------------------------------------------
# Table-argument UDTF with PARTITION BY (grouped Python processing in SQL)
# --------------------------------------------------------------------------


class _PriorityStatsUDTF:
    """Per-partition accumulator: Spark instantiates one UDTF per
    PARTITION BY group and streams the group's rows through eval()."""

    def __init__(self):
        self._key = None
        self._n = 0
        self._mx = None

    def eval(self, row):
        self._key = row["o_orderpriority"]
        self._n += 1
        p = row["o_totalprice"]
        if self._mx is None or p > self._mx:
            self._mx = p

    def terminate(self):
        if self._key is not None:
            yield self._key, self._n, self._mx


@register(
    "udtf_table_partition_by",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           MAX(o_totalprice) AS max_price
    FROM orders GROUP BY o_orderpriority
    """,
    doc=(
        "Python UDTF over a TABLE argument with PARTITION BY (Spark "
        "4): `stats(TABLE(orders) PARTITION BY o_orderpriority)` — "
        "the SQL-surface form of grouped custom Python processing. "
        "Spark shuffles on the partition key, instantiates one UDTF "
        "instance per group, streams rows through eval() and emits "
        "terminate() — the same execution contract as applyInPandas "
        "but callable from pure SQL by analysts. count/max are "
        "order-insensitive so the result is hash-green against the "
        "relational GROUP BY. For hot paths prefer the built-in "
        "aggregate (JVM, partial+final); this query exists to prove "
        "the escape hatch and its exact semantics."
    ),
    tags=("udtf", "sql-api", "orders"),
)
def udtf_table_partition_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    # Arrow-batched (ArrowEvalPythonUDTF, not the row-at-a-time
    # BatchEvalPythonUDTF), set per function: no session conf changes
    stats = udtf(
        _PriorityStatsUDTF,
        returnType="o_orderpriority string, n_orders bigint, max_price double",
        useArrow=True,
    )
    spark.udtf.register("priority_stats", stats)
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT * FROM priority_stats(
          TABLE(orders) PARTITION BY o_orderpriority
        )
        """
    )


# --------------------------------------------------------------------------
# Nested JSON flatten (struct-in-struct + array paths)
# --------------------------------------------------------------------------


@register(
    "reshape_nested_json_flatten",
    oracle="""
    WITH raw AS (
      SELECT event_id,
             '{"user": {"id": ' || CAST(user_id AS VARCHAR)
             || ', "segment": "' || event_type || '"}, "metrics": ['
             || CAST(event_id % 5 AS VARCHAR) || ', '
             || CAST(event_id % 7 AS VARCHAR) || ']}' AS j
      FROM events
    )
    SELECT event_id,
           CAST(j -> 'user' ->> 'id' AS BIGINT) AS user_id,
           j -> 'user' ->> 'segment' AS segment,
           CAST(arr[i] AS BIGINT) AS metric,
           CAST(i - 1 AS BIGINT) AS metric_idx
    FROM (SELECT event_id, j, CAST(j -> 'metrics' AS BIGINT[]) AS arr
          FROM raw),
         UNNEST(generate_series(1, len(arr))) AS u(i)
    """,
    doc=(
        "Nested-JSON flattening: a struct-in-struct payload with an "
        "embedded array parses against a typed schema and flattens to "
        "one row per array element with dot-path scalars alongside — "
        "the API-response-to-table step. Spark: from_json with the "
        "nested schema, dot access, posexplode; DuckDB: JSON "
        "operators + generate_series indexing. Payloads are built "
        "deterministically so the parse is provable. from_json is a "
        "scan-stage expression (no Python, no shuffle); the fanout is "
        "the only row growth."
    ),
    tags=("reshape", "json", "events"),
)
def reshape_nested_json_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    j = F.concat(
        F.lit('{"user": {"id": '),
        F.col("user_id").cast("string"),
        F.lit(', "segment": "'),
        F.col("event_type"),
        F.lit('"}, "metrics": ['),
        (F.col("event_id") % 5).cast("string"),
        F.lit(", "),
        (F.col("event_id") % 7).cast("string"),
        F.lit("]}"),
    )
    schema = "user struct<id: bigint, segment: string>, metrics array<bigint>"
    parsed = ev.select(
        "event_id", F.from_json(j, schema).alias("p")
    )
    return parsed.select(
        "event_id",
        F.col("p.user.id").alias("user_id"),
        F.col("p.user.segment").alias("segment"),
        F.posexplode("p.metrics").alias("metric_idx0", "metric"),
    ).select(
        "event_id",
        "user_id",
        "segment",
        F.col("metric").cast("long").alias("metric"),
        F.col("metric_idx0").cast("long").alias("metric_idx"),
    )


@register(
    "pivot_dynamic_priority",
    oracle="""
    SELECT o_orderstatus,
           COALESCE("1-URGENT", 0) AS "1-URGENT",
           COALESCE("2-HIGH", 0) AS "2-HIGH",
           COALESCE("3-MEDIUM", 0) AS "3-MEDIUM",
           COALESCE("4-NOT SPECIFIED", 0) AS "4-NOT SPECIFIED",
           COALESCE("5-LOW", 0) AS "5-LOW"
    FROM (PIVOT orders ON o_orderpriority USING COUNT(*) GROUP BY o_orderstatus)
    ORDER BY o_orderstatus
    """,
    doc=(
        "DYNAMIC pivot: Spark's two-phase pivot with NO value list — "
        "phase 1 is a bounded distinct-values discovery job on the "
        "pivot column, phase 2 the pivoted aggregate with the "
        "discovered values inlined as literals (the same plan the "
        "static form compiles to, so dynamism costs one small job, "
        "not a different operator). The oracle is DuckDB's native "
        "dynamic PIVOT statement — both engines must therefore "
        "discover the identical column set. Missing cells pinned to "
        "0 on both sides (Spark pivot yields NULL counts, DuckDB 0). "
        "At 100 TB the discovery job is a column-pruned distinct on "
        "a low-cardinality column — cheap — but an UNBOUNDED pivot "
        "column would make phase 2's width explode; Spark's "
        "spark.sql.pivotMaxValues guardrail (default 10k) is the "
        "right production cap."
    ),
    tags=("pivot", "dynamic", "orders"),
)
def pivot_dynamic_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority")  # no value list: dynamic discovery
        .agg(F.count(F.lit(1)))
    )
    counts = [c for c in piv.columns if c != "o_orderstatus"]
    return piv.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{c}`"), F.lit(0)).cast("long").alias(c)
          for c in counts],
    ).orderBy("o_orderstatus")
