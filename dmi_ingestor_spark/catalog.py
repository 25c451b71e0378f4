"""Table catalog: the driver's synthetic star schema (TESTDATA.md).

The reference's implicit "catalog" is an object-store prefix layout
(``dmi_ingestor/ingestor.py:159-161``); ours is a set of Parquet tables
read through the vectorized Parquet reader so Catalyst gets column
pruning + predicate pushdown for free (SURVEY.md §4.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The schema Spark infers from each fixture's Parquet footer (FIXTURES.md),
# every column nullable. ``events`` has none: see ``table``.
SCHEMAS: dict[str, str] = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "documents": (
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ),
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table.

    The nine tables in ``SCHEMAS`` are read with their declared schema,
    so the read runs no Spark job to infer it from the Parquet footers.
    The scan is the same one inference gives: the vectorized reader,
    with column pruning and predicate pushdown. At cluster scale the
    same call reads a partitioned directory tree; nothing here assumes a
    single file.

    ``events`` keeps the inferred read, and its job: ``ts`` is µs
    TIMESTAMP_NTZ in the local fixtures and TIMESTAMP(NANOS) in the
    driver's, and Spark reads NANOS only through the session conf
    ``nanosAsLong``, which has no per-read option, so no one declared
    type fits both. That conf, and ``python.filterPushdown`` in
    ``queries/ingestion.py``, are the two session confs that builders
    still change for good, because neither has a per-read or
    per-function form; the UDTFs of ``queries/reshape.py`` ask for Arrow
    per function (``useArrow=True``) instead of through the session.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS) (FIXTURES.md), which the
        # Spark 4 reader rejects outright. Read it as raw nanos and
        # truncate to the engine's µs timestamp — `ts div 1000` stays in
        # 64-bit integer arithmetic (a double division would lose
        # precision at 1e18 ns) and matches DuckDB's ns→µs truncation.
        # Guarded on the physical type: an events table written by THIS
        # engine already has a µs timestamp and must pass through as-is.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for ``spark.sql`` queries."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
