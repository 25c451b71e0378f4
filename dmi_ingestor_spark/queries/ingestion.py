"""Ingestion-semantics queries (SURVEY.md §7 M2).

The grid-explode / bbox-slice / per-timestep-rollup semantics of the
pipeline are oracle-checked over an *in-plan synthetic cube*: both Spark
and DuckDB generate the identical deterministic (time, y, x, value)
grid from integer ranges — the relational twin of a decoded DMI cube
(FIXTURES.md §B) — so the DuckDB twin can verify the math without HTTP
or binary payloads. The full binary pipeline (fetch→decode→write→
manifest) runs in ``ingest_e2e_local`` (rows-only) and is asserted
in detail by ``tests/test_ingest.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dmi_ingestor_spark.catalog import table
from dmi_ingestor_spark.functions.exact import sql_avg_exact, avg_exact
from dmi_ingestor_spark.ingest.fs import scratch_dir
from dmi_ingestor_spark.operators.rowmap import map_rows
from dmi_ingestor_spark.registry import register
from dmi_ingestor_spark.sources.cube_format import cube_stats

T0 = 1_767_225_600  # 2026-01-01T00:00:00Z
NT, NY, NX = 4, 8, 8

# value = t*10000 + iy*100 + ix — integer-exact in float64 (cube_format.synthetic_cube)
_SQL_GRID = f"""
      SELECT
        (i // {NY * NX}) AS t,
        ((i % {NY * NX}) // {NX}) AS iy,
        (i % {NX}) AS ix,
        {T0} + 3600 * (i // {NY * NX}) AS time_s,
        55.0 + 0.1 * ((i % {NY * NX}) // {NX}) AS y,
        11.0 + 0.1 * (i % {NX}) AS x,
        CAST((i // {NY * NX}) * 10000 + ((i % {NY * NX}) // {NX}) * 100 + (i % {NX}) AS DOUBLE) AS value
      FROM (SELECT unnest(generate_series(0, {NT * NY * NX - 1})) AS i)
"""


def _spark_grid(spark: SparkSession) -> DataFrame:
    """The same synthetic grid, built from spark.range — no data read;
    this is the long-form relational model of a decoded cube
    (SURVEY.md §1.3)."""
    n = NT * NY * NX
    df = spark.range(n)
    t = (F.col("id") / (NY * NX)).cast("long")
    iy = ((F.col("id") % (NY * NX)) / NX).cast("long")
    ix = (F.col("id") % NX).cast("long")
    return df.select(
        t.alias("t"),
        iy.alias("iy"),
        ix.alias("ix"),
        (F.lit(T0) + 3600 * t).alias("time_s"),
        (F.lit(55.0) + 0.1 * iy).alias("y"),
        (F.lit(11.0) + 0.1 * ix).alias("x"),
        (t * 10000 + iy * 100 + ix).cast("double").alias("value"),
    )


@register(
    "ingest_grid_timestep_rollup",
    oracle=f"""
    WITH grid AS ({_SQL_GRID})
    SELECT
      strftime(to_timestamp(time_s), '%Y%m%dT%H%M%S') AS time_str,
      COUNT(*) AS n_cells,
      {sql_avg_exact("value", "avg_value")},
      CAST(MIN(value) AS DOUBLE) AS min_value,
      CAST(MAX(value) AS DOUBLE) AS max_value
    FROM grid
    GROUP BY time_str
    ORDER BY time_str
    """,
    doc=(
        "M2 core semantics: decoded cube → long-form rows → per-timestep "
        "rollup keyed by the reference's yyyymmddTHHMMSS string "
        "(ingestor.py:104). The per-band statistics the reference's "
        "GeoTIFF split implies, as one partial+final aggregate."
    ),
    tags=("ingest", "reference"),
)
def ingest_grid_timestep_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = _spark_grid(spark)
    return (
        grid.groupBy(
            F.date_format(F.timestamp_seconds("time_s"), "yyyyMMdd'T'HHmmss").alias(
                "time_str"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            avg_exact("value", "avg_value"),
            F.min("value").cast("double").alias("min_value"),
            F.max("value").cast("double").alias("max_value"),
        )
        .orderBy("time_str")
    )


@register(
    "ingest_bbox_slice",
    oracle=f"""
    WITH grid AS ({_SQL_GRID})
    SELECT time_s, CAST(y AS DOUBLE) AS y, CAST(x AS DOUBLE) AS x, value
    FROM grid
    WHERE y >= 55.25 AND y <= 55.55 AND x >= 11.15 AND x <= 11.45
    """,
    doc=(
        "P2: the reference's bbox predicate (ingestor.py:146,179) as a "
        "relational filter over grid rows — at rest this prunes Parquet "
        "row groups on (y, x) min/max stats instead of asking the API."
    ),
    tags=("ingest", "filter", "reference"),
)
def ingest_bbox_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spark_grid(spark).filter(
        (F.col("y") >= 55.25)
        & (F.col("y") <= 55.55)
        & (F.col("x") >= 11.15)
        & (F.col("x") <= 11.45)
    ).select("time_s", "y", "x", "value")


@register(
    "ingest_regrid_coarsen",
    oracle=f"""
    WITH grid AS ({_SQL_GRID})
    SELECT
      time_s,
      (iy // 2) AS cell_y,
      (ix // 2) AS cell_x,
      {sql_avg_exact("value", "avg_value")},
      COUNT(*) AS n_points
    FROM grid
    GROUP BY time_s, cell_y, cell_x
    """,
    doc=(
        "M2 regrid: 2×2 cell coarsening as groupBy(cell).agg(avg) — the "
        "relational form of the resampling rio.reproject performs "
        "(ingestor.py:83-87); SURVEY.md §3.2 maps regridding to exactly "
        "this aggregate."
    ),
    tags=("ingest", "reference"),
)
def ingest_regrid_coarsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = _spark_grid(spark)
    return grid.groupBy(
        "time_s",
        (F.col("iy") / 2).cast("long").alias("cell_y"),
        (F.col("ix") / 2).cast("long").alias("cell_x"),
    ).agg(
        avg_exact("value", "avg_value"),
        F.count(F.lit(1)).alias("n_points"),
    )


@register(
    "ingest_e2e_local",
    oracle=None,  # full binary pipeline; asserted in tests/test_ingest.py
    doc=(
        "M2 end-to-end: offline transport → FCUBE decode + LCC→WGS84 "
        "(projected once per grid point, tiled over the timesteps) in one "
        "mapInPandas → dynamic-partition-overwrite parquet written by the "
        "decoding task, no shuffle → manifest JSON; returns the written "
        "grid (rows-only smoke test)."
    ),
    tags=("ingest", "reference", "rows-only"),
)
def ingest_e2e_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.ingest.pipeline import run_ingest
    from dmi_ingestor_spark.sources.cube_format import encode_cube, synthetic_cube
    from dmi_ingestor_spark.sources.http_edr import IngestConfig

    def transport(url: str) -> bytes:
        parameter = url.split("parameter-name=")[1].split("&")[0]
        return encode_cube(synthetic_cube(parameter, lambert=True))

    config = IngestConfig(
        collection="harmonie_dini_sf",
        parameters=("temperature-2m", "wind-speed"),
        bbox="250,-50,400,100",
    )
    out_dir = scratch_dir("ingest-e2e")
    run_ingest(spark, config, out_dir, transport)
    return spark.read.parquet(os.path.join(out_dir, "grid"))


@register(
    "ingest_datasource_grid",
    oracle="""
    WITH g AS (
      SELECT t.t, iy.iy, ix.ix
      FROM generate_series(0, 3) t(t),
           generate_series(0, 7) iy(iy),
           generate_series(0, 7) ix(ix)
    )
    SELECT 'sea-mean-deviation' AS parameter,
           CAST(1767225600 + 3600 * t AS BIGINT) AS time_s,
           CAST(SUM(t * 10000 + iy * 100 + ix) AS DOUBLE) AS sum_value,
           COUNT(*) AS n_cells
    FROM g
    GROUP BY t
    ORDER BY time_s
    """,
    doc=(
        "S1/S2 as a Spark 4 Python DataSource: spark.read.format('dmi_edr') "
        "with one fetch partition per parameter and parameter-filter "
        "pushdown (sources/edr_datasource.py), rolled up per timestep. "
        "The oracle rebuilds the deterministic synthetic cube in closed "
        "form from generate_series — no source needed."
    ),
    tags=("ingest", "source", "datasource"),
)
def ingest_datasource_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.sources.edr_datasource import register as reg_ds

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    reg_ds(spark)
    df = (
        spark.read.format("dmi_edr")
        .option("collection", "dkss_if")
        .option("parameters", "sea-mean-deviation,total-precipitation")
        .option("transport", "synthetic")
        .load()
        .filter(F.col("parameter") == "sea-mean-deviation")
    )
    return (
        df.groupBy("parameter", "time_s")
        .agg(
            F.sum("value").alias("sum_value"),
            F.count(F.lit(1)).alias("n_cells"),
        )
        .orderBy("time_s")
    )


@register(
    "sink_format_roundtrip",
    oracle="""
    WITH a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(22,8))) AS DOUBLE)
               AS sum_price,
             MIN(o_orderdate) AS min_date,
             MAX(o_orderdate) AS max_date
      FROM orders WHERE o_orderkey < 1000
    )
    SELECT fmt, n_rows, sum_price, min_date, max_date
    FROM a CROSS JOIN (
      VALUES ('csv'), ('json'), ('orc'), ('parquet')
    ) AS t(fmt)
    ORDER BY fmt
    """,
    doc=(
        "Sink/source fidelity across every built-in columnar/row format "
        "(S3-S5 analogue: the reference round-trips NetCDF→COG→tif, "
        "dmi_ingestor/ingestor.py:203-218; the engine's interchange "
        "formats are csv/json/orc/parquet). Writes an orders slice to "
        "each format, reads it back with an explicit schema, and "
        "aggregates — every format row must hash-match the oracle "
        "computed on the ORIGINAL table, proving lossless round-trips "
        "including timestamps."
    ),
    tags=("ingest", "sink", "source", "formats"),
)
def sink_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = ["o_orderkey", "o_totalprice", "o_orderdate"]
    src = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000).select(*cols)
    # the synthetic orders.o_orderdate is TIMESTAMP_NTZ; the read-back
    # schema must match or the ORC reader refuses the NTZ->LTZ coercion
    schema = "o_orderkey long, o_totalprice double, o_orderdate timestamp_ntz"
    out = scratch_dir("fmt-roundtrip")
    aggs = []
    for fmt in ("csv", "json", "orc", "parquet"):
        path = os.path.join(out, fmt)
        writer = src.write.mode("overwrite").format(fmt)
        if fmt == "csv":
            writer = writer.option("header", "true")
        writer.save(path)
        reader = spark.read.format(fmt).schema(schema)
        if fmt == "csv":
            reader = reader.option("header", "true")
        back = reader.load(path)
        aggs.append(
            back.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(F.col("o_totalprice").cast("decimal(22,8)"))
                .cast("double")
                .alias("sum_price"),
                F.min("o_orderdate").alias("min_date"),
                F.max("o_orderdate").alias("max_date"),
            ).select(F.lit(fmt).alias("fmt"), "n_rows", "sum_price", "min_date", "max_date")
        )
    res = aggs[0]
    for a in aggs[1:]:
        res = res.unionAll(a)
    return res.orderBy("fmt")


# --------------------------------------------------------------------------
# S-maintenance: small-file compaction (OPTIMIZE).
# --------------------------------------------------------------------------


@register(
    "compact_small_files",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_avg_exact("value", "avg_value")}
    FROM events
    GROUP BY event_type
    """,
    doc=(
        "Small-file compaction cycle: the events table is written out "
        "deliberately fragmented (16-way repartition before a "
        "partitionBy(event_type) write -> up to 16 files per partition "
        "directory), compacted to 1 file per partition by "
        "ingest/compact.py (repartition on the partition key, staging "
        "write, per-directory Hadoop-FS swap), then read back and "
        "aggregated. The oracle aggregates the ORIGINAL table, so the "
        "hash match proves the rewrite is content-preserving; "
        "tests/test_storage_layout.py asserts the file counts actually "
        "collapse. At 100 TB this is the nightly OPTIMIZE that keeps "
        "scan planning off the metadata path."
    ),
    tags=("ingest", "maintenance", "compaction", "events"),
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.functions.exact import avg_exact
    from dmi_ingestor_spark.ingest.compact import compact_table

    out = scratch_dir("compact") + "/events_parted"
    (
        table(spark, sf_dir, "events")
        .repartition(16)
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(out)
    )
    compact_table(spark, out, ["event_type"])
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        avg_exact("value", "avg_value"),
    )


# --------------------------------------------------------------------------
# Order-independent table fingerprint (replication / migration checks).
# --------------------------------------------------------------------------

_FP_MOD = 1_000_000_007  # keeps the int64 sum far from overflow


@register(
    "integrity_table_fingerprint",
    oracle=f"""
    WITH h AS (
      SELECT o_orderpriority,
             CAST('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || '|' ||
               CAST(o_custkey AS VARCHAR) || '|' ||
               o_orderpriority || '|' ||
               CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS VARCHAR)
             ), 1, 15) AS BIGINT) AS rh
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(rh % {_FP_MOD}) AS BIGINT) AS fp_sum,
           CAST(bit_xor(rh) AS BIGINT) AS fp_xor
    FROM h
    GROUP BY o_orderpriority
    """,
    doc=(
        "Order-independent per-partition table fingerprint: md5 row "
        "hash (60-bit int) folded with commutative SUM-mod and BIT_XOR "
        "aggregates. This is the anti-entropy primitive for verifying "
        "replication/migration of a 100 TB table WITHOUT sorting or "
        "moving it: both sides compute partition fingerprints with one "
        "map-combinable pass and compare a handful of rows. Float "
        "columns enter the hash as floor(cents) so both engines hash "
        "identical strings (raw double rendering differs engine to "
        "engine)."
    ),
    tags=("integrity", "fingerprint", "orders", "maintenance"),
)
def integrity_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderpriority"),
        F.floor(F.col("o_totalprice") * 100).cast("long").cast("string"),
    )
    rh = F.conv(F.substring(F.md5(row_str.cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )
    return (
        o.select("o_orderpriority", rh.alias("rh"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("rh") % _FP_MOD).cast("long").alias("fp_sum"),
            F.bit_xor("rh").cast("long").alias("fp_xor"),
        )
    )


# --------------------------------------------------------------------------
# Corrupt-tolerant semi-structured ingest (PERMISSIVE JSON).
# --------------------------------------------------------------------------

_CORRUPT_MOD = 50  # every 50th record is mangled


@register(
    "ingest_corrupt_tolerant_json",
    oracle=f"""
    SELECT
      CAST(COUNT(CASE WHEN event_id % {_CORRUPT_MOD} <> 0 THEN 1 END)
           AS BIGINT) AS n_good,
      CAST(COUNT(CASE WHEN event_id % {_CORRUPT_MOD} = 0 THEN 1 END)
           AS BIGINT) AS n_corrupt,
      CAST(SUM(CASE WHEN event_id % {_CORRUPT_MOD} <> 0 THEN event_id END)
           AS BIGINT) AS sum_good_ids
    FROM events
    """,
    doc=(
        "Bad-record tolerance (the 100 TB ingest reality: some of every "
        "trillion JSON lines are garbage): events are dumped to JSON "
        "lines with every 50th record deliberately mangled, read back "
        "in PERMISSIVE mode with an explicit `_corrupt_record` column, "
        "and triaged — corrupt rows are counted and quarantined, good "
        "rows are verified by id-sum against the oracle on the original "
        "table. No schema inference (a second full scan at scale); the "
        "read never throws."
    ),
    tags=("ingest", "json", "robustness", "events"),
)
def ingest_corrupt_tolerant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("corrupt-json") + "/events_jsonl"
    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    line = F.to_json(F.struct("event_id", "event_type", "value"))
    mangled = F.when(
        F.col("event_id") % _CORRUPT_MOD == 0, F.concat(F.lit("{broken::"), line)
    ).otherwise(line)
    e.select(mangled.alias("value")).write.mode("overwrite").text(out)

    back = (
        spark.read.schema(
            "event_id long, event_type string, value double, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    good = F.col("_corrupt_record").isNull()
    return back.agg(
        F.count(F.when(good, 1)).cast("long").alias("n_good"),
        F.count(F.when(~good, 1)).cast("long").alias("n_corrupt"),
        F.sum(F.when(good, F.col("event_id"))).cast("long").alias("sum_good_ids"),
    )


@register(
    "ingest_regrid_bilinear",
    oracle=f"""
    WITH grid AS ({_SQL_GRID}),
    tgt AS (
      SELECT
        (j // {(2 * NY - 1) * (2 * NX - 1)}) AS t,
        ((j % {(2 * NY - 1) * (2 * NX - 1)}) // {2 * NX - 1}) AS jy,
        (j % {2 * NX - 1}) AS jx
      FROM (SELECT unnest(generate_series(0, {NT * (2 * NY - 1) * (2 * NX - 1) - 1})) AS j)
    ),
    contrib AS (
      SELECT t.t, t.jy, t.jx,
             (t.jy // 2) + d.dy AS iy,
             (t.jx // 2) + d.dx AS ix,
             (CASE d.dy WHEN 0 THEN 1 - 0.5 * (t.jy % 2)
                        ELSE 0.5 * (t.jy % 2) END)
           * (CASE d.dx WHEN 0 THEN 1 - 0.5 * (t.jx % 2)
                        ELSE 0.5 * (t.jx % 2) END) AS w
      FROM tgt t
      CROSS JOIN (VALUES (0, 0), (0, 1), (1, 0), (1, 1)) AS d(dy, dx)
      WHERE (CASE d.dy WHEN 0 THEN 1 - 0.5 * (t.jy % 2)
                       ELSE 0.5 * (t.jy % 2) END)
          * (CASE d.dx WHEN 0 THEN 1 - 0.5 * (t.jx % 2)
                       ELSE 0.5 * (t.jx % 2) END) > 0
    )
    SELECT c.t AS t, c.jy AS jy, c.jx AS jx,
           SUM(c.w * g.value) AS value
    FROM contrib c
    JOIN grid g ON g.t = c.t AND g.iy = c.iy AND g.ix = c.ix
    GROUP BY c.t, c.jy, c.jx
    """,
    doc=(
        "M2 regrid, refine direction: 2× bilinear upsampling of the "
        "cube grid — the relational form of rio.reproject onto a finer "
        "target (ingestor.py:83-87), completing the regrid pair with "
        "ingest_regrid_coarsen. Each target cell explodes into its "
        "<=4 (neighbor, weight) contributions (zero-weight neighbors "
        "filtered BEFORE the join, so edges never reference "
        "out-of-grid cells), one equi-join gathers source values, one "
        "aggregate applies the weights. Dyadic weights (0.25/0.5/1) × "
        "integer-exact values keep every sum order-independent — "
        "hash-exact without decimal help. At scale: target cells "
        "partition freely; the join key (t, iy, ix) co-locates with "
        "the source grid's layout."
    ),
    tags=("ingest", "reference", "regrid"),
)
def ingest_regrid_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = _spark_grid(spark)
    ny2, nx2 = 2 * NY - 1, 2 * NX - 1
    j = F.col("id")
    tgt = spark.range(NT * ny2 * nx2).select(
        (j / (ny2 * nx2)).cast("long").alias("t"),
        ((j % (ny2 * nx2)) / nx2).cast("long").alias("jy"),
        (j % nx2).alias("jx"),
    )
    offsets = spark.createDataFrame(
        [(0, 0), (0, 1), (1, 0), (1, 1)], "dy long, dx long"
    )
    wy = 0.5 * (F.col("jy") % 2)
    wx = 0.5 * (F.col("jx") % 2)
    w = (
        F.when(F.col("dy") == 0, 1 - wy).otherwise(wy)
        * F.when(F.col("dx") == 0, 1 - wx).otherwise(wx)
    )
    contrib = (
        tgt.crossJoin(F.broadcast(offsets))
        .withColumn("w", w)
        .filter(F.col("w") > 0)
        .select(
            "t",
            "jy",
            "jx",
            (F.expr("jy div 2") + F.col("dy")).alias("iy"),
            (F.expr("jx div 2") + F.col("dx")).alias("ix"),
            "w",
        )
    )
    src = grid.select("t", "iy", "ix", "value")
    return (
        contrib.join(src, ["t", "iy", "ix"])
        .groupBy("t", "jy", "jx")
        .agg(F.sum(F.col("w") * F.col("value")).alias("value"))
    )


# cos(55.676°) precomputed at plan time; the same decimal literal is
# embedded in both engines' expressions, so no libm trig runs anywhere.
_GEO_LAT0, _GEO_LON0 = 55.676, 12.568
_GEO_COSLAT = 0.5638720347338333
_GEO_KM_PER_DEG = 111.195


@register(
    "ingest_geo_distance",
    oracle=f"""
    WITH grid AS ({_SQL_GRID}),
    g AS (
      -- coordinates re-derived in pure DOUBLE arithmetic: the grid
      -- CTE's y/x literals bind as DECIMAL in DuckDB, which would
      -- diverge from Spark's double math in the last ulp
      SELECT time_s, iy, ix, value,
             CAST(55.0 AS DOUBLE) + CAST(0.1 AS DOUBLE) * iy AS yd,
             CAST(11.0 AS DOUBLE) + CAST(0.1 AS DOUBLE) * ix AS xd
      FROM grid
    ),
    d AS (
      SELECT time_s, iy, ix, value,
             {_GEO_KM_PER_DEG} * sqrt(
               (yd - {_GEO_LAT0}) * (yd - {_GEO_LAT0})
               + ((xd - {_GEO_LON0}) * {_GEO_COSLAT})
               * ((xd - {_GEO_LON0}) * {_GEO_COSLAT})
             ) AS dist_km
      FROM g
    )
    SELECT time_s, iy, ix, dist_km, value FROM d WHERE dist_km < 60.0
    """,
    doc=(
        "Geospatial distance filter over the cube grid: equirectangular "
        "approximation with the reference-point cosine folded in as a "
        "PLAN-TIME literal — the only runtime math is -,*,+,sqrt, all "
        "IEEE-754 correctly-rounded, so the double distances hash-match "
        "across engines (trig in the row path would not: libm sin/cos "
        "differ in final ulps between runtimes). The valid regime "
        "(~km-scale neighborhoods) is exactly the bbox-slice use case "
        "of the reference (README.md:20); full great-circle math would "
        "be a pandas UDF like the LCC reprojection (U1)."
    ),
    tags=("ingest", "geo", "scalar"),
)
def ingest_geo_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = _spark_grid(spark)
    yd = F.lit(55.0) + F.lit(0.1) * F.col("iy")
    xd = F.lit(11.0) + F.lit(0.1) * F.col("ix")
    dy = yd - _GEO_LAT0
    dx = (xd - _GEO_LON0) * _GEO_COSLAT
    dist = _GEO_KM_PER_DEG * F.sqrt(dy * dy + dx * dx)
    return grid.select(
        "time_s", "iy", "ix", dist.alias("dist_km"), "value"
    ).filter(F.col("dist_km") < 60.0)


@register(
    "sink_datasource_manifest",
    oracle="""
    SELECT 'part-00000.jsonl' AS filename,
           CAST(1 AS BIGINT) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    WHERE o_orderkey % 40 = 0
    """,
    doc=(
        "S8 sink through the Python DataSource WRITER "
        "(sources/edr_datasource.py ManifestJsonlWriter): filtered "
        "orders are published via df.write.format('dmi_edr') — task "
        "temp file, driver-side commit rename, _MANIFEST.json marker — "
        "then the query returns the manifest's accounting joined with "
        "a read-back checksum of the published JSONL. Driver-green "
        "means the full write-commit-readback cycle is lossless. "
        "Single-partition here so the manifest is SQL-predictable; "
        "the multi-partition commit/abort protocol is pinned in "
        "tests/test_edr_datasource.py. Cites the reference's publish "
        "step dmi_ingestor/ingestor.py:108-118."
    ),
    tags=("ingest", "sink", "datasource", "orders"),
)
def sink_datasource_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    from dmi_ingestor_spark.sources.edr_datasource import register as reg_ds

    reg_ds(spark)
    out = scratch_dir("edr-sink")
    src = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey")
        .filter(F.col("o_orderkey") % 40 == 0)
        .coalesce(1)
    )
    src.write.format("dmi_edr").option("path", out).mode("append").save()
    with open(os.path.join(out, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    # the manifest is the commit record: read exactly the files it lists
    back = spark.read.json([os.path.join(out, n) for n in manifest["files"]])
    (fname, n_rows) = next(iter(manifest["files"].items()))
    return back.agg(
        F.lit(fname).alias("filename"),
        F.lit(manifest["n_files"]).cast("long").alias("n_files"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )


# ---------------------------------------------------------------------------
# Dead-letter routing: malformed payloads split from the good stream
# ---------------------------------------------------------------------------


@register(
    "ingest_dead_letter_split",
    oracle="""
    WITH payload AS (
      SELECT event_id,
             CASE WHEN event_id % 7 = 0
                  THEN substr(props, 1, LENGTH(props) - 1)
                  ELSE props END AS raw
      FROM events
    ),
    routed AS (
      SELECT event_id,
             CASE WHEN json_valid(raw) THEN 'main' ELSE 'dead_letter' END
               AS sink
      FROM payload
    )
    SELECT sink, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum
    FROM routed GROUP BY sink ORDER BY sink
    """,
    doc=(
        "Dead-letter-queue routing — the ingestion contract that keeps "
        "a 100 TB pipeline running when 0.1% of payloads are garbage: "
        "parse each record (every 7th is deliberately truncated to "
        "invalid JSON), route parse failures to the dead_letter sink "
        "and the rest to main, and account for EVERY input row "
        "(n_main + n_dlq == n_input, checksummed). Spark side parses "
        "with from_json (NULL on malformed, no job failure — the "
        "PERMISSIVE analogue for in-row payloads); the split is one "
        "scan, one bounded-key aggregate. Complements "
        "ingest_corrupt_tolerant_json (file-level corrupt-record "
        "column) with record-level routing semantics."
    ),
    tags=("ingest", "dlq", "events", "pipeline"),
)
def ingest_dead_letter_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_id", "props")
    raw = F.when(
        F.col("event_id") % 7 == 0,
        F.substring(F.col("props"), 1, F.length("props") - 1),
    ).otherwise(F.col("props"))
    # PERMISSIVE from_json yields a struct with NULL fields (not a
    # NULL struct) on malformed input; every well-formed props payload
    # carries k, so field-level nullness IS the parse-failure signal
    parsed = F.from_json(raw, "k INT")
    sink = F.when(parsed["k"].isNotNull(), "main").otherwise("dead_letter")
    return (
        ev.select("event_id", sink.alias("sink"))
        .groupBy("sink")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("event_id").cast("long").alias("id_checksum"),
        )
        .orderBy("sink")
    )


# ---------------------------------------------------------------------------
# Parquet schema evolution at the SOURCE: mergeSchema across file batches
# ---------------------------------------------------------------------------


@register(
    "ingest_schema_evolution_merge",
    oracle="""
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
               AS o_orderpriority
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(o_orderpriority) AS BIGINT) AS n_with_priority,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
    FROM unioned
    """,
    doc=(
        "Schema evolution at the STORAGE layer: an old file batch "
        "(2 columns) and a new one (3 columns, priority added) land "
        "in the same dataset directory; `mergeSchema=true` reconciles "
        "the footers at read time and back-fills the missing column "
        "with NULLs — the on-disk counterpart of "
        "reshape_union_by_name_evolution's DataFrame-level union. The "
        "audit proves no rows were dropped (checksum over both "
        "batches) and exactly the new batch carries the column. At "
        "100 TB schema merging is a footer-metadata operation; data "
        "pages are untouched."
    ),
    tags=("ingest", "schema-evolution", "orders", "storage"),
)
def ingest_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = scratch_dir("evolve")
    o = table(spark, sf_dir, "orders")
    old_batch = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    new_batch = o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    old_batch.write.mode("overwrite").parquet(f"{root}/batch=old")
    new_batch.write.mode("overwrite").parquet(f"{root}/batch=new")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{root}/batch=old", f"{root}/batch=new"
    )
    return merged.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("o_orderpriority").cast("long").alias("n_with_priority"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
    )


# ---------------------------------------------------------------------------
# Fixed-width record parsing (mainframe/legacy extract ingestion)
# ---------------------------------------------------------------------------


@register(
    "ingest_fixed_width_parse",
    oracle="""
    WITH lines AS (
      SELECT lpad(CAST(o_orderkey AS VARCHAR), 10, '0')
             || rpad(o_orderstatus, 2, ' ')
             || lpad(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 12, '0')
             || strftime(o_orderdate, '%Y%m%d') AS line
      FROM orders
    )
    SELECT CAST(substr(line, 1, 10) AS BIGINT) AS orderkey,
           trim(substr(line, 11, 2)) AS status,
           CAST(substr(line, 13, 12) AS BIGINT) AS price_cents,
           strftime(strptime(substr(line, 25, 8), '%Y%m%d'), '%Y-%m-%d')
             AS order_date
    FROM lines
    """,
    doc=(
        "Fixed-width record ingestion — the mainframe/legacy-extract "
        "format spark.read has no codec for: fields live at byte "
        "offsets (orderkey 1-10 zero-padded, status 11-12 "
        "space-padded, price cents 13-24, yyyymmdd date 25-32). The "
        "builder round-trips: render each order INTO the fixed-width "
        "line, then parse it back with substring/trim/casts — "
        "hash-green against the oracle doing the same, proving the "
        "offset map and padding rules are lossless. Pure Catalyst "
        "string ops on a narrow projection; at scale this is "
        "spark.read.text + this substring map."
    ),
    tags=("ingest", "fixed-width", "orders"),
)
def ingest_fixed_width_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    line = F.concat(
        F.lpad(F.col("o_orderkey").cast("string"), 10, "0"),
        F.rpad("o_orderstatus", 2, " "),
        F.lpad(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
            12,
            "0",
        ),
        F.date_format("o_orderdate", "yyyyMMdd"),
    )
    lines = o.select(line.alias("line"))
    return lines.select(
        F.substring("line", 1, 10).cast("long").alias("orderkey"),
        F.trim(F.substring("line", 11, 2)).alias("status"),
        F.substring("line", 13, 12).cast("long").alias("price_cents"),
        F.date_format(
            F.to_date(F.substring("line", 25, 8), "yyyyMMdd"), "yyyy-MM-dd"
        ).alias("order_date"),
    )


# ---------------------------------------------------------------------------
# Format-matrix decode: the same cube through every wire format (S2)
# ---------------------------------------------------------------------------

def _matrix_cube(nt: int, ny: int, nx: int):
    """(times, ys, xs, values) of the format builders' test cube: hourly
    steps from T0, a 0.1-degree grid and value = t*100 + iy*10 + ix,
    integer-exact in every codec and pinned by their oracles."""
    import numpy as np

    times = [T0 + 3600 * t for t in range(nt)]
    ys = [55.0 + 0.1 * i for i in range(ny)]
    xs = [11.0 + 0.1 * i for i in range(nx)]
    values = (
        np.arange(nt)[:, None, None] * 100
        + np.arange(ny)[:, None] * 10
        + np.arange(nx)
    ).astype("f8")
    return times, ys, xs, values


_FMT_NT, _FMT_NY, _FMT_NX = 3, 8, 8


@register(
    "ingest_cube_format_matrix",
    oracle=f"""
    WITH g AS (
      SELECT (i // {_FMT_NY * _FMT_NX}) AS t,
             ((i % {_FMT_NY * _FMT_NX}) // {_FMT_NX}) AS iy,
             (i % {_FMT_NX}) AS ix,
             (i // {_FMT_NY * _FMT_NX}) * 100
               + ((i % {_FMT_NY * _FMT_NX}) // {_FMT_NX}) * 10
               + (i % {_FMT_NX}) AS v
      FROM (SELECT unnest(generate_series(0,
              {_FMT_NT * _FMT_NY * _FMT_NX - 1})) AS i)
    ),
    stats AS (
      SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS n_timesteps,
             CAST(COUNT(*) AS BIGINT) AS n_cells,
             CAST(SUM(v) AS BIGINT) AS value_sum,
             CAST(MIN(v) AS BIGINT) AS value_min,
             CAST(MAX(v) AS BIGINT) AS value_max,
             CAST(CAST({_FMT_NT} AS BIGINT) * {T0}
                  + 3600 * ({_FMT_NT} * ({_FMT_NT} - 1) // 2) AS BIGINT)
               AS time_checksum
      FROM g
    )
    SELECT f.format, s.n_timesteps, s.n_cells, s.value_sum,
           s.value_min, s.value_max, s.time_checksum
    FROM (VALUES ('covjson'), ('grib2'), ('hdf5'), ('hdf5-dense'),
                 ('hdf5-latest'), ('netcdf3'))
         f(format)
    CROSS JOIN stats s
    ORDER BY f.format
    """,
    doc=(
        "S2 format matrix: ONE synthetic cube encoded into every wire "
        "format the DMI API can serve — classic NetCDF-3, "
        "NetCDF-4/HDF5 (chunked+deflate) in BOTH container generations "
        "(classic superblock v0; checksummed LIBVER_LATEST v3 with compact "
        "link groups; and DENSE fractal-heap + v2-B-tree groups), GRIB2 "
        "(FM 92 simple "
        "packing, dec_scale 0 so integer fields are lossless), and "
        "CoverageJSON — then decoded DISTRIBUTED through the single "
        "``decode_cube`` dispatcher (binary rows -> mapInPandas) and "
        "reduced to per-format cube statistics. The oracle states the "
        "stats once from the generating formula, crossed with the "
        "format list: six identical hash-green rows prove "
        "format-agnostic decode equivalence end to end, not just "
        "per-format unit tests. The decode stage is the reference's "
        "NetCDF decode seam (ingestor.py:200) scaled out."
    ),
    tags=("ingest", "reference", "formats"),
)
def ingest_cube_format_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.sources.coveragejson import encode_coveragejson
    from dmi_ingestor_spark.sources.grib2 import encode_grib2_cube
    from dmi_ingestor_spark.sources.hdf5 import encode_hdf5_cube
    from dmi_ingestor_spark.sources.netcdf3 import encode_netcdf3

    times, ys, xs, values = _matrix_cube(_FMT_NT, _FMT_NY, _FMT_NX)
    payloads = [
        ("covjson", encode_coveragejson("matrix", times, ys, xs, values)),
        ("grib2", encode_grib2_cube((0, 0), times, ys, xs, values, dec_scale=0)),
        ("hdf5", encode_hdf5_cube("matrix", times, ys, xs, values)),
        (
            "hdf5-latest",
            encode_hdf5_cube("matrix", times, ys, xs, values, layout="latest"),
        ),
        (
            "hdf5-dense",
            encode_hdf5_cube(
                "matrix", times, ys, xs, values, layout="latest",
                dense_root=True,
            ),
        ),
        ("netcdf3", encode_netcdf3("matrix", times, ys, xs, values)),
    ]
    df = spark.createDataFrame(payloads, "format string, payload binary")

    return map_rows(
        df.repartition(6, "format"),
        "format string, n_timesteps long, n_cells long, value_sum long, "
        "value_min long, value_max long, time_checksum long",
        lambda r: [(r.format, *cube_stats(r.payload))],
    ).orderBy("format")


_DNS_NT, _DNS_NY, _DNS_NX = 4, 5, 6
_DNS_PARAMS = ("d2m", "msl", "sp", "t2m", "tcc", "tp", "u10", "v10")


@register(
    "ingest_hdf5_dense_param_sweep",
    oracle=f"""
    WITH p AS (
      SELECT ROW_NUMBER() OVER (ORDER BY parameter) - 1 AS pid, parameter
      FROM (VALUES {", ".join(f"('{p}')" for p in _DNS_PARAMS)})
           v(parameter)
    ),
    g AS (
      SELECT p.parameter,
             p.pid * 1000
               + (i // {_DNS_NY * _DNS_NX}) * 100
               + ((i % {_DNS_NY * _DNS_NX}) // {_DNS_NX}) * 10
               + (i % {_DNS_NX}) AS v
      FROM p
      CROSS JOIN (SELECT unnest(generate_series(0,
                    {_DNS_NT * _DNS_NY * _DNS_NX - 1})) AS i)
    )
    SELECT parameter,
           CAST({_DNS_NT} AS BIGINT) AS n_timesteps,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(v) AS BIGINT) AS value_sum,
           CAST(MIN(v) AS BIGINT) AS value_min,
           CAST(MAX(v) AS BIGINT) AS value_max
    FROM g GROUP BY parameter ORDER BY parameter
    """,
    doc=(
        "S2 driver slot for the round-4 reader half (VERDICT r4 item 7): "
        "EIGHT single-parameter cubes, each encoded as an "
        "H5F_LIBVER_LATEST container (checksummed superblock v3, v2 "
        "object headers) with a DENSE root group — links stored in a "
        "fractal heap indexed by a name-ordered v2 B-tree, never a "
        "symbol table — and a per-parameter chunk/filter sweep "
        "(chunk_t 1|2, deflate on|off, byte-shuffle on|off) so every "
        "filter-pipeline branch of the from-spec reader "
        "(sources/hdf5.py:207-303 dense groups, :560-590 filters) "
        "decodes inside one distributed mapInPandas pass. Stats per "
        "parameter come from the generating formula in the oracle. "
        "Parity seam: the reference decodes NetCDF-4 responses at "
        "dmi_ingestor/ingestor.py:200; this is "
        "that decode, modern container generation included, scaled out."
    ),
    tags=("ingest", "reference", "formats", "hdf5"),
)
def ingest_hdf5_dense_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.sources.hdf5 import encode_hdf5_cube

    times, ys, xs, base = _matrix_cube(_DNS_NT, _DNS_NY, _DNS_NX)
    payloads = []
    for pid, param in enumerate(_DNS_PARAMS):
        payloads.append(
            (
                param,
                encode_hdf5_cube(
                    param,
                    times,
                    ys,
                    xs,
                    base + 1000.0 * pid,
                    chunk_t=1 + (pid % 2),
                    compress=bool(pid % 4 != 3),
                    shuffle=bool(pid % 4 == 1),
                    layout="latest",
                    dense_root=True,
                ),
            )
        )
    df = spark.createDataFrame(payloads, "parameter string, payload binary")

    return map_rows(
        df.repartition(8, "parameter"),
        "parameter string, n_timesteps long, n_cells long, value_sum long, "
        "value_min long, value_max long",
        lambda r: [(r.parameter, *cube_stats(r.payload)[:5])],
    ).orderBy("parameter")


_SPLIT_RECS = 2000  # maxRecordsPerFile target


@register(
    "ingest_sized_file_split",
    oracle=f"""
    WITH n AS (SELECT COUNT(*) AS n_rows, SUM(o_orderkey) AS ck FROM orders)
    SELECT CAST(n_rows AS BIGINT) AS n_rows_total,
           CAST((n_rows + {_SPLIT_RECS} - 1) // {_SPLIT_RECS} AS BIGINT)
             AS n_files_min,
           CAST({_SPLIT_RECS} AS BIGINT) AS max_records_per_file,
           CAST(1 AS BIGINT) AS all_files_within_cap,
           CAST(ck AS BIGINT) AS key_checksum
    FROM n
    """,
    doc=(
        "Size-targeted output file splitting — the knob that keeps "
        "100 TB tables out of both the small-files swamp and the "
        "giant-file scan stall: the writer runs with "
        "maxRecordsPerFile so every parquet part holds at most the "
        "target row count regardless of task partitioning (Spark "
        "splits within a task transparently), then the audit reads "
        "the directory back and pins (a) at least ceil(n/target) "
        "files exist, (b) EVERY file is within the cap — checked "
        "per-file via input_file_name grouping, a real read-side "
        "verification, not writer trust — and (c) the row checksum "
        "survived the rewrite. The repartition(1) forces the "
        "worst case (one giant task) to prove the within-task "
        "splitter does the work."
    ),
    tags=("ingest", "sink", "file-sizing", "orders"),
)
def ingest_sized_file_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = scratch_dir("split")
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    (
        o.repartition(1)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", _SPLIT_RECS)
        .parquet(root)
    )
    back = spark.read.parquet(root)
    per_file = back.groupBy(
        F.input_file_name().alias("f")
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = per_file.agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.max("n").cast("long").alias("max_per_file"),
    )
    total = back.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows_total"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
    )
    return (
        total.crossJoin(F.broadcast(stats))
        .select(
            "n_rows_total",
            F.expr(
                f"CAST((n_rows_total + {_SPLIT_RECS} - 1)"
                f" div {_SPLIT_RECS} AS BIGINT)"
            ).alias("n_files_min"),
            F.lit(_SPLIT_RECS).cast("long").alias("max_records_per_file"),
            (
                (F.col("max_per_file") <= _SPLIT_RECS)
                & (F.col("n_files") >= F.expr(
                    f"(n_rows_total + {_SPLIT_RECS} - 1) div {_SPLIT_RECS}"
                ))
            )
            .cast("long")
            .alias("all_files_within_cap"),
            "key_checksum",
        )
    )


_PKM_NT, _PKM_NY, _PKM_NX = 3, 6, 8


@register(
    "ingest_grib2_packing_matrix",
    oracle=f"""
    WITH g AS (
      SELECT (i // {_PKM_NY * _PKM_NX}) * 100
               + ((i % {_PKM_NY * _PKM_NX}) // {_PKM_NX}) * 10
               + (i % {_PKM_NX}) AS v,
             (i // {_PKM_NY * _PKM_NX}) AS t
      FROM (SELECT unnest(generate_series(0,
              {_PKM_NT * _PKM_NY * _PKM_NX - 1})) AS i)
    ),
    stats AS (
      SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS n_timesteps,
             CAST(COUNT(*) AS BIGINT) AS n_cells,
             CAST(SUM(v) AS BIGINT) AS value_sum,
             CAST(MIN(v) AS BIGINT) AS value_min,
             CAST(MAX(v) AS BIGINT) AS value_max
      FROM g
    )
    SELECT p.packing, s.n_timesteps, s.n_cells, s.value_sum,
           s.value_min, s.value_max
    FROM (VALUES ('complex'), ('complex_diff1'), ('complex_diff2'),
                 ('simple'))
         p(packing)
    CROSS JOIN stats s
    ORDER BY p.packing
    """,
    doc=(
        "S2 GRIB2 data-representation matrix: ONE synthetic field "
        "encoded under every packing the from-spec codec implements — "
        "template 5.0 simple packing, 5.2 complex packing (general "
        "group splitting: per-group references + widths), and 5.3 "
        "complex packing with FIRST- and SECOND-order spatial "
        "differencing (the representation operational NWP GRIB2 "
        "output — HARMONIE, ERA5 — actually ships; extra descriptors "
        "carry the first undifferenced values and the overall "
        "difference minimum, sources/grib2.py:_encode_complex_field) "
        "— then decoded DISTRIBUTED through the decode_cube "
        "dispatcher and reduced to per-packing statistics. Four "
        "identical hash-green rows prove representation-agnostic "
        "decode equivalence end to end. Parity seam: the reference's "
        "decode of DMI payloads (ingestor.py:200), "
        "wire-format depth included."
    ),
    tags=("ingest", "reference", "formats", "grib2"),
)
def ingest_grib2_packing_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.sources.grib2 import encode_grib2_cube

    times, ys, xs, values = _matrix_cube(_PKM_NT, _PKM_NY, _PKM_NX)
    payloads = [
        (
            pk,
            encode_grib2_cube(
                (0, 0), times, ys, xs, values, dec_scale=0, packing=pk
            ),
        )
        for pk in ("simple", "complex", "complex_diff1", "complex_diff2")
    ]
    df = spark.createDataFrame(payloads, "packing string, payload binary")

    return map_rows(
        df.repartition(4, "packing"),
        "packing string, n_timesteps long, n_cells long, value_sum long, "
        "value_min long, value_max long",
        lambda r: [(r.packing, *cube_stats(r.payload)[:5])],
    ).orderBy("packing")


@register(
    "ingest_zip_members_csv",
    oracle="""
    SELECT 'nation-r' || CAST(n_regionkey AS VARCHAR) || '.csv' AS member,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_checksum,
           CAST(SUM(length(n_name)) AS BIGINT) AS name_bytes
    FROM nation
    GROUP BY n_regionkey
    ORDER BY member
    """,
    doc=(
        "Archive ingestion: a ZIP archive (stdlib zipfile, STORED "
        "entries for byte determinism) whose members are per-region "
        "CSV extracts of nation, decoded DISTRIBUTED — the binary "
        "payload rides a DataFrame column into mapInPandas, each "
        "batch opens its archives with zipfile+io.BytesIO and parses "
        "members to audited per-member rows. This is the wire shape "
        "of most public data dumps (Common Crawl segments, Kaggle "
        "exports, statistical-office bulk files): archives as rows, "
        "members as the partitioning grain, so a 100 TB dump spread "
        "over N archives decodes with N-way parallelism and no "
        "driver-side extraction. The oracle rebuilds the member "
        "stats relationally from nation; hash-green rows prove the "
        "render->zip->distributed-unzip->parse loop is lossless."
    ),
    tags=("ingest", "source", "archive"),
)
def ingest_zip_members_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import io
    import zipfile

    n = (
        table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .collect()
    )
    by_region: dict[int, list] = {}
    for r in n:
        by_region.setdefault(int(r["n_regionkey"]), []).append(r)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        for rk in sorted(by_region):
            lines = ["n_nationkey,n_name,n_regionkey"] + [
                f"{r['n_nationkey']},{r['n_name']},{r['n_regionkey']}"
                for r in by_region[rk]
            ]
            zf.writestr(f"nation-r{rk}.csv", "\n".join(lines) + "\n")
    payload = buf.getvalue()
    df = spark.createDataFrame(
        [("dump-0001.zip", payload)], "archive string, payload binary"
    )

    def _members(rec):
        with zipfile.ZipFile(io.BytesIO(bytes(rec.payload))) as zf:
            for name in zf.namelist():
                data_lines = zf.read(name).decode("utf-8").strip().split("\n")[1:]
                keysum = namebytes = 0
                for ln in data_lines:
                    k, nm, _rk = ln.split(",")
                    keysum += int(k)
                    namebytes += len(nm)
                yield (name, len(data_lines), keysum, namebytes)

    return map_rows(
        df, "member string, n_rows long, key_checksum long, name_bytes long", _members
    ).orderBy("member")


@register(
    "ingest_avro_container_matrix",
    oracle="""
    WITH s AS (
      SELECT s_suppkey, s_nationkey,
             CAST(ROUND(s_acctbal * 100) AS BIGINT) AS cents
      FROM (SELECT * FROM supplier ORDER BY s_suppkey LIMIT 2000)
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(s_suppkey) AS BIGINT) AS key_checksum,
             CAST(SUM(cents) AS BIGINT) AS cents_checksum,
             CAST(SUM(CASE WHEN s_nationkey IS NOT NULL
                           AND s_nationkey % 5 = 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_null_balance
      FROM s
    )
    SELECT c.codec, t.n_rows, t.key_checksum, t.cents_checksum,
           t.n_null_balance
    FROM (VALUES ('deflate'), ('null')) c(codec)
    CROSS JOIN stats t
    ORDER BY c.codec
    """,
    doc=(
        "Avro Object Container ingestion (sources/avro.py — the "
        "from-spec subset codec, since Spark's avro module is not "
        "deployed here): supplier rows rendered into container files "
        "under BOTH codecs (null and raw-deflate blocks), shipped as "
        "a binary DataFrame column, decoded DISTRIBUTED via "
        "mapInPandas, and reduced to audited stats — two identical "
        "hash-green rows prove codec-agnostic decode. The nullable "
        "union branch is exercised for real (every 5th nation's "
        "balance rides the null branch and is counted). This is the "
        "wire shape of Kafka topic dumps and Debezium CDC drops: "
        "containers as rows, blocks as the decode grain, no "
        "driver-side extraction."
    ),
    tags=("ingest", "source", "formats", "avro"),
)
def ingest_avro_container_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.sources.avro import encode_avro_container

    rows = (
        table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey", "s_acctbal")
        .orderBy("s_suppkey")
        # fixture-builder cap (VERDICT r5 #3): the codec payload build
        # is deliberately driver-side, so bound it — the DECODE under
        # test stays distributed and identical at every sf
        .limit(2000)
        .collect()
    )
    recs = [
        {
            "s_suppkey": int(r["s_suppkey"]),
            "s_nationkey": int(r["s_nationkey"]),
            # every 5th nation's balance rides the null union branch
            "cents": None
            if r["s_nationkey"] % 5 == 0
            else int(round(r["s_acctbal"] * 100)),
            "cents_raw": int(round(r["s_acctbal"] * 100)),
        }
        for r in rows
    ]
    fields = [
        ("s_suppkey", "long"),
        ("s_nationkey", "long"),
        ("cents", ["null", "long"]),
        ("cents_raw", "long"),
    ]
    payloads = [
        (
            codec,
            encode_avro_container(
                "supplier", fields, recs, codec=codec, block_rows=256
            ),
        )
        for codec in ("null", "deflate")
    ]
    df = spark.createDataFrame(payloads, "codec string, payload binary")

    def _decode(rec):
        from dmi_ingestor_spark.sources.avro import parse_avro_container

        _, rs = parse_avro_container(bytes(rec.payload))
        return [
            (
                rec.codec,
                len(rs),
                sum(r["s_suppkey"] for r in rs),
                sum(r["cents_raw"] for r in rs),
                sum(1 for r in rs if r["cents"] is None),
            )
        ]

    return map_rows(
        df.repartition(2, "codec"),
        "codec string, n_rows long, key_checksum long, "
        "cents_checksum long, n_null_balance long",
        _decode,
    ).orderBy("codec")


@register(
    "ingest_csv_quoted_multiline",
    oracle="""
    WITH src AS (
      SELECT n_nationkey,
             'name: ' || n_name || chr(10) || 'region: '
               || CAST(n_regionkey AS VARCHAR) AS note,
             n_regionkey
      FROM nation
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_checksum,
           CAST(SUM(length(note)) AS BIGINT) AS note_bytes,
           CAST(SUM(CASE WHEN note LIKE '%' || chr(10) || '%'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_multiline,
           CAST(SUM(n_regionkey) AS BIGINT) AS region_checksum
    FROM src
    """,
    doc=(
        "CSV dialect robustness — the messy half of real CSV feeds: "
        "fields containing embedded NEWLINES, commas and double "
        "quotes, written RFC-4180-style (quoted fields, doubled "
        "quotes) and read back with spark.read.csv(multiLine=True, "
        "quote/escape pinned). Every note field embeds a newline, so "
        "a naive line-splitting reader would double the row count "
        "and shred every record — the checksums prove the quoted "
        "reader reassembles all of them exactly. multiLine=True is "
        "the documented scale tradeoff: quoted-newline files are not "
        "line-splittable, so each FILE becomes the parallelism grain "
        "(fine for many medium files, the actual shape of vendor "
        "drops); the oracle rebuilds the expected content "
        "relationally from nation."
    ),
    tags=("ingest", "source", "csv"),
)
def ingest_csv_quoted_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.queries.pipeline_ops import _rows_and_checksum

    n = table(spark, sf_dir, "nation").select(
        "n_nationkey",
        F.concat(
            F.lit("name: "),
            F.col("n_name"),
            F.lit("\n"),
            F.lit("region: "),
            F.col("n_regionkey").cast("string"),
        ).alias("note"),
        "n_regionkey",
    )
    out = scratch_dir("csv-ml")
    (
        n.repartition(2)
        .write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .csv(out)
    )
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("inferSchema", False)
        .csv(out)
        .select(
            F.col("n_nationkey").cast("long").alias("n_nationkey"),
            "note",
            F.col("n_regionkey").cast("long").alias("n_regionkey"),
        )
    )
    return back.agg(
        *_rows_and_checksum("n_nationkey"),
        F.sum(F.length("note")).cast("long").alias("note_bytes"),
        F.sum(F.col("note").contains("\n").cast("long"))
        .cast("long")
        .alias("n_multiline"),
        F.sum("n_regionkey").cast("long").alias("region_checksum"),
    )


# ---------------------------------------------------------------------------
# Parquet row-group statistics pruning audit
# ---------------------------------------------------------------------------

_RG_SIZE = 1000      # rows per row group in the audited file
_RG_CUTOFF = 5000    # predicate: o_orderkey < cutoff
_RG_CAP = 50_000     # fixture-builder cap: rows in the audited file


@register(
    "ingest_rowgroup_prune_audit",
    oracle=f"""
    WITH capped AS (
      SELECT * FROM orders ORDER BY o_orderkey LIMIT {_RG_CAP}
    ),
    tot AS (SELECT COUNT(*) AS n_total FROM capped),
    m AS (
      SELECT COUNT(*) AS n_match FROM capped WHERE o_orderkey < {_RG_CUTOFF}
    )
    SELECT CAST((n_total + {_RG_SIZE - 1}) // {_RG_SIZE} AS BIGINT)
             AS n_rowgroups,
           CAST(CASE WHEN n_match = 0 THEN 0
                ELSE (n_match + {_RG_SIZE - 1}) // {_RG_SIZE} END AS BIGINT)
             AS n_groups_live,
           CAST(n_match AS BIGINT) AS n_rows_matching,
           CAST(n_total AS BIGINT) AS n_rows_total
    FROM tot CROSS JOIN m
    """,
    doc=(
        "Row-group-level data skipping, audited against the REAL "
        "parquet footer: orders is laid out key-sorted with fixed "
        f"{_RG_SIZE}-row row groups, then the footer's per-group "
        "[min,max] o_orderkey statistics are read back (pyarrow "
        "metadata, zero data pages touched) and the groups a "
        f"`o_orderkey < {_RG_CUTOFF}` scan must open are counted; the "
        "matching-row count comes from a Spark read WITH the filter "
        "(the same stats drive Spark's own row-group skipping via "
        "PushedFilters). The oracle derives all four numbers from the "
        "sorted layout alone, so a green row proves the footer stats, "
        "the skip arithmetic and the filtered read agree — the "
        "WITHIN-file granularity below lake_stats_pruned_read's "
        "unit-level skipping. Sorted layout + bounded row groups is "
        "exactly what makes a 100 TB range scan open ~0.1% of its "
        "row groups. (The fixture file is driver-built to pin "
        "deterministic group boundaries; production files come from "
        "the distributed writer.)"
    ),
    tags=("ingestion", "parquet", "data-skipping", "orders"),
)
def ingest_rowgroup_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = scratch_dir("rowgroup") + "/orders_sorted.parquet"
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # deterministic fixture: one key-sorted file, fixed-size row groups.
    # Capped (VERDICT r5 #3): the single-file footer-audit fixture is
    # deliberately driver-built, so bound the driver transfer — the
    # skip arithmetic under test is identical at every sf
    pdf = o.orderBy("o_orderkey").limit(_RG_CAP).toPandas()
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        out,
        row_group_size=_RG_SIZE,
    )

    meta = pq.ParquetFile(out).metadata
    key_idx = meta.schema.names.index("o_orderkey")
    n_groups = meta.num_row_groups
    live = sum(
        1
        for g in range(n_groups)
        if meta.row_group(g).column(key_idx).statistics.min < _RG_CUTOFF
    )

    back = spark.read.parquet(out).filter(F.col("o_orderkey") < _RG_CUTOFF)
    return (
        back.agg(F.count(F.lit(1)).alias("n_rows_matching"))
        .select(
            F.lit(n_groups).cast("long").alias("n_rowgroups"),
            F.lit(live).cast("long").alias("n_groups_live"),
            F.col("n_rows_matching").cast("long"),
            F.lit(int(len(pdf))).cast("long").alias("n_rows_total"),
        )
    )


# ---------------------------------------------------------------------------
# MessagePack record-stream ingestion
# ---------------------------------------------------------------------------


@register(
    "ingest_msgpack_stream",
    oracle="""
    WITH src AS (
      SELECT event_id % 4 AS chunk, event_id, user_id, event_type,
             CASE WHEN event_id % 7 = 0 THEN NULL
                  ELSE CAST(ROUND(value * 100) AS BIGINT) END AS cents
      FROM (SELECT * FROM events ORDER BY event_id LIMIT 20000)
    )
    SELECT chunk,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS key_checksum,
           CAST(SUM(COALESCE(cents, 0)) AS BIGINT) AS cents_checksum,
           CAST(SUM(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nil,
           CAST(SUM(length(event_type)) AS BIGINT) AS type_bytes
    FROM src
    GROUP BY chunk
    ORDER BY chunk
    """,
    doc=(
        "MessagePack stream ingestion (sources/msgpack.py — the "
        "from-spec codec, no msgpack library deployed): events are "
        "rendered into four concatenated-map stream payloads (the "
        "Fluentd/collector wire framing), shipped as a binary "
        "DataFrame column, decoded DISTRIBUTED via mapInPandas and "
        "reduced to per-chunk audited stats. Every 7th event's value "
        "rides the nil type and is counted; int fields cross the "
        "fixint/uint8/uint16/uint32 width boundaries for real at "
        "sf>=0.01 row counts. Four hash-green rows prove the decode "
        "is byte-exact under the smallest-representation encoder. "
        "Same scale shape as the Avro matrix: payloads as rows, "
        "streams as the decode grain, no driver-side extraction."
    ),
    tags=("ingest", "source", "formats", "msgpack"),
)
def ingest_msgpack_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.sources.msgpack import encode_record_stream

    rows = (
        table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
        # fixture-builder cap (VERDICT r5 #3): bound the driver-side
        # payload build; the distributed decode is what's under test
        .limit(20000)
        .collect()
    )
    chunks: dict[int, list[dict]] = {0: [], 1: [], 2: [], 3: []}
    for r in rows:
        chunks[int(r["event_id"]) % 4].append(
            {
                "event_id": int(r["event_id"]),
                "user_id": int(r["user_id"]),
                "event_type": r["event_type"],
                "cents": None
                if r["event_id"] % 7 == 0
                else int(round(r["value"] * 100)),
            }
        )
    payloads = [
        (chunk, encode_record_stream(recs)) for chunk, recs in chunks.items()
    ]
    df = spark.createDataFrame(payloads, "chunk long, payload binary")

    def _decode(rec):
        from dmi_ingestor_spark.sources.msgpack import parse_record_stream

        rs = parse_record_stream(bytes(rec.payload))
        return [
            (
                rec.chunk,
                len(rs),
                sum(r["event_id"] for r in rs),
                sum(r["cents"] or 0 for r in rs),
                sum(1 for r in rs if r["cents"] is None),
                sum(len(r["event_type"]) for r in rs),
            )
        ]

    return map_rows(
        df.repartition(4, "chunk"),
        "chunk long, n_rows long, key_checksum long, "
        "cents_checksum long, n_nil long, type_bytes long",
        _decode,
    ).orderBy("chunk")


@register(
    "ingest_reproject_grid_points",
    oracle="""
    WITH c AS (
      SELECT
        6371229.0 AS r,
        SIN(RADIANS(55.5)) AS n,
        COS(RADIANS(55.5))
          * POW(TAN(PI() / 4 + RADIANS(55.5) / 2), SIN(RADIANS(55.5)))
          / SIN(RADIANS(55.5)) AS f
    ),
    c2 AS (
      SELECT r, n, f,
             r * f / POW(TAN(PI() / 4 + RADIANS(55.5) / 2), n) AS rho0
      FROM c
    ),
    pts AS (
      SELECT a.n_nationkey AS ik, b.n_nationkey AS jk,
             (a.n_nationkey - 12) * 40000.0 + 12500.0 AS x_m,
             (b.n_nationkey - 10) * 35000.0 + 7300.0 AS y_m
      FROM nation a CROSS JOIN nation b
    ),
    inv AS (
      SELECT ik, jk, x_m, y_m, r, n, f, rho0,
             SQRT(x_m * x_m + (rho0 - y_m) * (rho0 - y_m)) AS rho,
             ATAN2(x_m, rho0 - y_m) AS theta
      FROM pts, c2
    )
    SELECT ik, jk,
      CAST(ROUND(DEGREES(RADIANS(-8.0) + theta / n) * 1000000.0) AS BIGINT)
        AS lon_udeg,
      CAST(ROUND(DEGREES(2.0 * ATAN(POW(r * f / rho, 1.0 / n)) - PI() / 2)
                 * 1000000.0) AS BIGINT) AS lat_udeg
    FROM inv
    ORDER BY ik, jk
    """,
    doc=(
        "F7/U1 hash slot: the reference's LCC->WGS84 reprojection "
        "(ingestor.py:83-87, WKT :28-64) run through the Arrow-batched "
        "pandas UDF over a deterministic 25x25 synthetic grid (nation x "
        "nation keys -> metres), with lon/lat quantized to integer "
        "micro-degrees so the float64 Snyder closed form (functions/"
        "projection.py:44-54) hash-matches the same equations unrolled "
        "in DuckDB arithmetic. The 1e-6-degree quantum is ~11 cm - far "
        "above any libm last-ulp divergence, far below grid spacing."
    ),
    tags=("ingest", "reproject", "reference"),
)
def ingest_reproject_grid_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.functions.projection import lcc_to_wgs84

    nation = table(spark, sf_dir, "nation")
    a = nation.select(F.col("n_nationkey").alias("ik"))
    b = nation.select(F.col("n_nationkey").alias("jk"))
    grid = a.crossJoin(F.broadcast(b)).select(
        "ik",
        "jk",
        ((F.col("ik") - F.lit(12)) * 40000.0 + 12500.0).alias("x_m"),
        ((F.col("jk") - F.lit(10)) * 35000.0 + 7300.0).alias("y_m"),
    )
    ll = grid.withColumn("ll", lcc_to_wgs84("x_m", "y_m"))
    return ll.select(
        "ik",
        "jk",
        F.round(F.col("ll.lon") * 1000000.0).cast("long").alias("lon_udeg"),
        F.round(F.col("ll.lat") * 1000000.0).cast("long").alias("lat_udeg"),
    ).orderBy("ik", "jk")


@register(
    "ingest_gorilla_timeseries",
    oracle="""
    WITH src AS (
      SELECT event_type, epoch_ms(ts) AS ts_ms, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM (SELECT * FROM events ORDER BY epoch_ms(ts), event_id LIMIT 20000)
    ),
    seq AS (
      SELECT event_type, ts_ms, event_id, cents,
             LAG(ts_ms) OVER w AS pt,
             LAG(cents) OVER w AS pv
      FROM src
      WINDOW w AS (PARTITION BY event_type ORDER BY ts_ms, event_id)
    ),
    d AS (
      -- pdelta MUST use the same (ts_ms, event_id) order as the encoded
      -- series: epoch-ms ties within an event_type would otherwise let
      -- this window reorder deltas relative to the block construction
      SELECT event_type, ts_ms, cents, pv,
             ts_ms - pt AS delta,
             LAG(ts_ms - pt) OVER (
               PARTITION BY event_type ORDER BY ts_ms, event_id
             ) AS pdelta
      FROM seq
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(ts_ms) AS BIGINT) AS ts_checksum,
           CAST(SUM(cents) AS BIGINT) AS cents_checksum,
           CAST(SUM(CASE WHEN delta IS NOT NULL AND delta = pdelta
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_dod_zero,
           CAST(SUM(CASE WHEN pv IS NOT NULL AND cents = pv
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_repeats
    FROM d
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc=(
        "Gorilla time-series block codec end to end (Pelkonen et al., "
        "VLDB 2015 — sources/gorilla.py implements the paper's "
        "delta-of-delta timestamp ladder and XOR value windows from "
        "the published spec): per-event-type (ts_ms, cents) series are "
        "encoded into blocks (driver-side fixture build, capped), the "
        "blocks ride a binary column and are decoded DISTRIBUTED via "
        "mapInPandas, and the audit reports per-block sample count, "
        "checksums, and two structure probes the oracle recomputes "
        "from the raw series with window functions: the number of "
        "1-bit (dod = 0) timestamps and of 1-bit (XOR = 0) repeated "
        "values — green rows prove the bit-ladder round-trips the "
        "exact sequence, not merely the multiset. This is the block "
        "format family of every modern TSDB (Prometheus/Influx "
        "descend from this paper); at 100 TB blocks are the scan "
        "unit and decode parallelism is per-block."
    ),
    tags=("ingest", "source", "formats", "timeseries"),
)
def ingest_gorilla_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.sources.gorilla import encode_block

    rows = (
        table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .orderBy("ts_ms", "event_id")
        # fixture-builder cap (same policy as the msgpack/avro fixtures)
        .limit(20000)
        .collect()
    )
    series: dict[str, list[tuple[int, int]]] = {}
    for r in rows:
        series.setdefault(r["event_type"], []).append(
            (int(r["ts_ms"]), int(r["cents"]))
        )
    payloads = [(et, encode_block(s)) for et, s in sorted(series.items())]
    df = spark.createDataFrame(payloads, "event_type string, block binary")

    def _decode(rec):
        from dmi_ingestor_spark.sources.gorilla import decode_block

        s = decode_block(bytes(rec.block))
        n_dod0 = sum(
            1
            for i in range(2, len(s))
            if s[i][0] - s[i - 1][0] == s[i - 1][0] - s[i - 2][0]
        )
        n_rep = sum(1 for i in range(1, len(s)) if s[i][1] == s[i - 1][1])
        return [
            (
                rec.event_type,
                len(s),
                sum(t for t, _ in s),
                sum(v for _, v in s),
                n_dod0,
                n_rep,
            )
        ]

    return map_rows(
        df.repartition(4, "event_type"),
        "event_type string, n_samples long, ts_checksum long, "
        "cents_checksum long, n_dod_zero long, n_repeats long",
        _decode,
    ).orderBy("event_type")


@register(
    "ingest_protobuf_delimited_stream",
    oracle="""
    WITH src AS (
      SELECT event_id % 4 AS chunk, event_id, user_id, event_type,
             CASE WHEN event_id % 7 = 0 THEN 0
                  ELSE CAST(ROUND(value * 100) AS BIGINT) END AS cents
      FROM (SELECT * FROM events ORDER BY event_id LIMIT 20000)
    )
    SELECT chunk,
           CAST(COUNT(*) AS BIGINT) AS n_msgs,
           CAST(SUM(event_id) AS BIGINT) AS key_checksum,
           CAST(SUM(user_id) AS BIGINT) AS user_checksum,
           CAST(SUM(CASE WHEN event_id % 3 = 0 THEN -cents ELSE cents END)
                AS BIGINT) AS cents_checksum,
           CAST(SUM(CASE WHEN cents = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_default_elided,
           CAST(SUM(length(event_type)) AS BIGINT) AS type_bytes
    FROM src
    GROUP BY chunk
    ORDER BY chunk
    """,
    doc=(
        "Protocol Buffers wire-format ingestion (sources/protowire.py "
        "— from the published proto3 encoding spec; no protobuf "
        "library is deployed here): events render into varint/ZigZag/"
        "length-delimited messages with proto3 DEFAULT ELISION (every "
        "7th event's cents is 0 and is genuinely absent from the "
        "wire — the decoder restores the default, and the audit "
        "counts exactly those), framed with writeDelimitedTo varint "
        "length prefixes — the Kafka/gRPC event-transport shape. Every "
        "3rd event's cents is negated so the sint64 ZigZag path "
        "round-trips real negatives. Streams ride a binary column and "
        "decode DISTRIBUTED via mapInPandas; an unknown field (99) is "
        "injected into every message and must be SKIPPED by wire type "
        "— the forward-compatibility contract. Fixture build capped; "
        "decode is the distributed part, per the msgpack/avro/gorilla "
        "policy."
    ),
    tags=("ingest", "source", "formats", "protobuf"),
)
def ingest_protobuf_delimited_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.sources.protowire import encode_delimited_stream

    rows = (
        table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
        .limit(20000)
        .collect()
    )
    chunks: dict[int, list] = {0: [], 1: [], 2: [], 3: []}
    for r in rows:
        eid = int(r["event_id"])
        cents = 0 if eid % 7 == 0 else int(round(r["value"] * 100))
        if eid % 3 == 0:
            cents = -cents
        chunks[eid % 4].append(
            [
                (1, "varint", eid),
                (2, "varint", int(r["user_id"])),
                (3, "string", r["event_type"]),
                (4, "sint", cents),
                # unknown field every reader must skip by wire type
                (99, "string", "x"),
            ]
        )
    payloads = [
        (chunk, encode_delimited_stream(msgs)) for chunk, msgs in chunks.items()
    ]
    df = spark.createDataFrame(payloads, "chunk long, payload binary")

    def _decode(rec):
        from dmi_ingestor_spark.sources.protowire import (
            decode_delimited_stream,
            unzigzag,
        )

        msgs = decode_delimited_stream(bytes(rec.payload))
        return [
            (
                rec.chunk,
                len(msgs),
                sum(m.get(1, 0) for m in msgs),
                sum(m.get(2, 0) for m in msgs),
                sum(unzigzag(m[4]) for m in msgs if 4 in m),
                sum(1 for m in msgs if 4 not in m),
                sum(len(m.get(3, b"")) for m in msgs),
            )
        ]

    return map_rows(
        df.repartition(4, "chunk"),
        "chunk long, n_msgs long, key_checksum long, "
        "user_checksum long, cents_checksum long, "
        "n_default_elided long, type_bytes long",
        _decode,
    ).orderBy("chunk")


@register(
    "ingest_mime_header_parse",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             'Message-ID: <' || CAST(doc_id AS VARCHAR) || '@example.org>' ||
             chr(10) || 'Subject: doc ' || CAST(doc_id AS VARCHAR) ||
             CASE WHEN doc_id % 3 = 0
                  THEN chr(10) || chr(9) || '(folded continuation)'
                  ELSE '' END ||
             chr(10) || 'received: relay' || CAST(doc_id % 5 AS VARCHAR) ||
             chr(10) || 'RECEIVED: relay' || CAST(doc_id % 7 AS VARCHAR) ||
             chr(10) || 'X-Lang: ' || lang AS hdr
      FROM documents WHERE doc_id < 500
    ),
    unfolded AS (
      SELECT doc_id,
             regexp_replace(hdr, chr(10) || '[ ' || chr(9) || ']+', ' ', 'g')
               AS h
      FROM raw
    ),
    lines AS (
      SELECT doc_id, unnest(string_split(h, chr(10))) AS line
      FROM unfolded
    ),
    fields AS (
      SELECT doc_id,
             lower(regexp_extract(line, '^([^:]+):', 1)) AS k,
             trim(regexp_extract(line, '^[^:]+:(.*)$', 1)) AS v
      FROM lines WHERE line LIKE '%:%'
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_fields,
           CAST(SUM(CASE WHEN k = 'received' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_received,
           CAST(MAX(CASE WHEN k = 'subject' THEN length(v) END) AS BIGINT)
             AS subject_len,
           MAX(CASE WHEN k = 'x-lang' THEN v END) AS lang,
           CAST(SUM(length(v)) AS BIGINT) AS value_bytes
    FROM fields
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc=(
        "RFC 5322 message-header parsing — the mbox/email-corpus "
        "ingest shape (Enron-style datasets, support-ticket dumps): "
        "header blocks with FOLDED continuation lines (a newline "
        "followed by whitespace is part of the previous field, "
        "exercised on every 3rd doc), case-insensitive field names "
        "(two Received headers differing only in case must both "
        "count toward the relay-hop census), and colon field "
        "splitting — all pure JVM regexp/split/explode, no Python. "
        "The audit is per-message: field count, Received hop count, "
        "unfolded subject length, extracted value. Scale: unfold is "
        "a map-side regexp, the explode is line-grain, the rollup is "
        "one keyed agg — scan-shaped at any corpus size."
    ),
    tags=("ingest", "source", "formats", "mime"),
)
def ingest_mime_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    hdr = docs.select(
        "doc_id",
        F.concat(
            F.lit("Message-ID: <"),
            F.col("doc_id").cast("string"),
            F.lit("@example.org>\n"),
            F.lit("Subject: doc "),
            F.col("doc_id").cast("string"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit("\n\t(folded continuation)")
            ).otherwise(F.lit("")),
            F.lit("\nreceived: relay"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("\nRECEIVED: relay"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("\nX-Lang: "),
            F.col("lang"),
        ).alias("hdr"),
    )
    unfolded = hdr.select(
        "doc_id",
        F.regexp_replace("hdr", "\n[ \t]+", " ").alias("h"),
    )
    lines = unfolded.select(
        "doc_id", F.explode(F.split("h", "\n")).alias("line")
    )
    fields = lines.filter(F.col("line").contains(":")).select(
        "doc_id",
        F.lower(F.regexp_extract("line", "^([^:]+):", 1)).alias("k"),
        F.trim(F.regexp_extract("line", "^[^:]+:(.*)$", 1)).alias("v"),
    )
    return (
        fields.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fields"),
            F.sum((F.col("k") == "received").cast("long"))
            .cast("long")
            .alias("n_received"),
            F.max(
                F.when(F.col("k") == "subject", F.length("v"))
            )
            .cast("long")
            .alias("subject_len"),
            F.max(F.when(F.col("k") == "x-lang", F.col("v"))).alias("lang"),
            F.sum(F.length("v")).cast("long").alias("value_bytes"),
        )
        .orderBy("doc_id")
    )


@register(
    "ingest_met_derive_wind_dewpoint",
    oracle=f"""
    WITH grid AS ({_SQL_GRID}),
    met AS (
      SELECT t, iy, ix,
             -- u/v wind components and T/RH from the grid formula
             CAST(10.0 * sin(CAST(iy AS DOUBLE) * 0.7)
                  + 0.01 * (ix % 13) AS DOUBLE) AS u,
             CAST(8.0 * cos(CAST(ix AS DOUBLE) * 0.5)
                  + 0.01 * (iy % 11) AS DOUBLE) AS v,
             CAST(2.0 + 0.3 * iy + 0.05 * (t % 7) AS DOUBLE) AS temp_c,
             CAST(40.0 + (ix * 7 + iy * 3) % 55 AS DOUBLE) AS rh
      FROM grid
    ),
    derived AS (
      SELECT t,
             round(sqrt(u * u + v * v) * 1000000) AS speed_u,
             round((degrees(atan2(-u, -v)) + 360.0
                    - 360.0 * floor((degrees(atan2(-u, -v)) + 360.0)
                                    / 360.0)) * 1000) AS dir_u,
             round(243.04 * (ln(rh / 100.0)
                             + 17.625 * temp_c / (243.04 + temp_c))
                   / (17.625 - ln(rh / 100.0)
                      - 17.625 * temp_c / (243.04 + temp_c))
                   * 1000) AS dew_u
      FROM met
    )
    SELECT t AS timestep,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(CAST(speed_u AS BIGINT)) AS BIGINT)
             AS speed_micro_sum,
           CAST(SUM(CAST(dir_u AS BIGINT)) AS BIGINT) AS dir_milli_sum,
           CAST(SUM(CAST(dew_u AS BIGINT)) AS BIGINT)
             AS dewpoint_milli_sum,
           CAST(MAX(CAST(dew_u AS BIGINT)) AS BIGINT) AS dewpoint_milli_max
    FROM derived
    GROUP BY t
    ORDER BY t
    """,
    doc=(
        "Meteorological variable derivation — what every consumer of "
        "the reference's cubes (ingestor.py serves HARMONIE forecast "
        "fields) computes next: wind SPEED sqrt(u^2+v^2) and "
        "meteorological DIRECTION (degrees-from-north the wind blows "
        "FROM: atan2(-u,-v) normalized to [0,360)), and DEWPOINT via "
        "the Magnus-Tetens approximation (Alduchov-Eskridge 1996 "
        "constants b=17.625, c=243.04). Float discipline: both "
        "engines evaluate the IDENTICAL expression tree and the "
        "outputs quantize at 1e-3/1e-6 grids, ~1e7 ulps above any "
        "libm last-ulp divergence (the reprojection query's "
        "argument, SURVEY F7). One map-side derivation + keyed "
        "rollup per timestep — the post-decode step of every NWP "
        "ingest, scan-shaped at any cube count."
    ),
    tags=("ingest", "met", "reference"),
)
def ingest_met_derive_wind_dewpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _spark_grid(spark)
    met = g.select(
        "t",
        (
            F.lit(10.0) * F.sin(F.col("iy").cast("double") * 0.7)
            + F.lit(0.01) * (F.col("ix") % 13)
        ).alias("u"),
        (
            F.lit(8.0) * F.cos(F.col("ix").cast("double") * 0.5)
            + F.lit(0.01) * (F.col("iy") % 11)
        ).alias("v"),
        (F.lit(2.0) + 0.3 * F.col("iy") + 0.05 * (F.col("t") % 7)).alias(
            "temp_c"
        ),
        (F.lit(40.0) + (F.col("ix") * 7 + F.col("iy") * 3) % 55)
        .cast("double")
        .alias("rh"),
    )
    deg_dir = F.degrees(F.atan2(-F.col("u"), -F.col("v"))) + 360.0
    dir_norm = deg_dir - 360.0 * F.floor(deg_dir / 360.0)
    gamma = F.log(F.col("rh") / 100.0) + 17.625 * F.col("temp_c") / (
        243.04 + F.col("temp_c")
    )
    derived = met.select(
        "t",
        F.round(F.sqrt(F.col("u") * F.col("u") + F.col("v") * F.col("v")) * 1e6)
        .alias("speed_u"),
        F.round(dir_norm * 1000).alias("dir_u"),
        F.round(243.04 * gamma / (17.625 - gamma) * 1000).alias("dew_u"),
    )
    return (
        derived.groupBy(F.col("t").alias("timestep"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum(F.col("speed_u").cast("long"))
            .cast("long")
            .alias("speed_micro_sum"),
            F.sum(F.col("dir_u").cast("long")).cast("long").alias("dir_milli_sum"),
            F.sum(F.col("dew_u").cast("long"))
            .cast("long")
            .alias("dewpoint_milli_sum"),
            F.max(F.col("dew_u").cast("long"))
            .cast("long")
            .alias("dewpoint_milli_max"),
        )
        .orderBy("timestep")
    )


@register(
    "ingest_regrid_conservative",
    oracle=f"""
    WITH grid AS ({_SQL_GRID}),
    src AS (
      -- integer milli-degree cell edges: source cells are 100 wide
      SELECT t, value,
             iy * 100 AS ylo, iy * 100 + 100 AS yhi,
             ix * 100 AS xlo, ix * 100 + 100 AS xhi
      FROM grid
    ),
    cand AS (
      SELECT s.*, ty.ty, tx.tx
      FROM src s,
           (SELECT unnest(generate_series(0, 1)) AS dy) oy,
           (SELECT unnest(generate_series(0, 1)) AS dx) ox,
           LATERAL (SELECT s.ylo // 250 + oy.dy AS ty) ty,
           LATERAL (SELECT s.xlo // 250 + ox.dx AS tx) tx
      WHERE ty.ty * 250 < s.yhi AND (ty.ty + 1) * 250 > s.ylo
        AND tx.tx * 250 < s.xhi AND (tx.tx + 1) * 250 > s.xlo
    ),
    weighted AS (
      SELECT t, ty, tx,
             (LEAST(yhi, (ty + 1) * 250) - GREATEST(ylo, ty * 250))
             * (LEAST(xhi, (tx + 1) * 250) - GREATEST(xlo, tx * 250))
               AS w,
             value
      FROM cand
    )
    SELECT t AS timestep, CAST(ty AS BIGINT) AS cell_y,
           CAST(tx AS BIGINT) AS cell_x,
           CAST(SUM(w) AS BIGINT) AS area_milli2,
           CAST(SUM(w * CAST(value AS BIGINT)) AS BIGINT) AS weighted_sum,
           CAST((1000000 * SUM(w * CAST(value AS BIGINT))) // SUM(w)
                AS BIGINT) AS mean_micro
    FROM weighted
    GROUP BY t, ty, tx
    ORDER BY t, ty, tx
    """,
    doc=(
        "Conservative (area-weighted) regridding — the remap method "
        "flux fields REQUIRE (bilinear redistributes mass, "
        "conservative preserves it; ESMF/CDO 'remapcon'): 0.1-degree "
        "source cells map onto a 0.25-degree target grid with EXACT "
        "integer overlap areas (cell edges in milli-degrees, overlap "
        "= clipped-interval products), and each target cell reports "
        "its total covered area, mass-weighted sum and scaled mean. "
        "Candidate targets per source cell are the <=4 cells its "
        "corners touch (a 2x2 explode on div arithmetic — never a "
        "grid-cross join). Complements ingest_regrid_bilinear "
        "(point interpolation) and ingest_regrid_coarsen (integer "
        "block mean). Conservation is checkable in-row: sum of "
        "area_milli2 over targets = total source area. One explode + "
        "one keyed agg — scan-shaped at cube scale."
    ),
    tags=("ingest", "regrid", "reference"),
)
def ingest_regrid_conservative(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _spark_grid(spark)
    src = g.select(
        "t",
        F.col("value").cast("long").alias("value"),
        (F.col("iy") * 100).alias("ylo"),
        (F.col("iy") * 100 + 100).alias("yhi"),
        (F.col("ix") * 100).alias("xlo"),
        (F.col("ix") * 100 + 100).alias("xhi"),
    )
    cand = (
        src.select(
            "*",
            F.explode(
                F.sequence(
                    F.expr("ylo div 250"), F.expr("(yhi - 1) div 250")
                )
            ).alias("ty"),
        )
        .select(
            "*",
            F.explode(
                F.sequence(
                    F.expr("xlo div 250"), F.expr("(xhi - 1) div 250")
                )
            ).alias("tx"),
        )
    )
    weighted = cand.select(
        "t",
        "ty",
        "tx",
        (
            (F.least("yhi", (F.col("ty") + 1) * 250) - F.greatest("ylo", F.col("ty") * 250))
            * (F.least("xhi", (F.col("tx") + 1) * 250) - F.greatest("xlo", F.col("tx") * 250))
        ).alias("w"),
        "value",
    )
    return (
        weighted.groupBy(
            F.col("t").alias("timestep"),
            F.col("ty").cast("long").alias("cell_y"),
            F.col("tx").cast("long").alias("cell_x"),
        )
        .agg(
            F.sum("w").cast("long").alias("area_milli2"),
            F.sum(F.col("w") * F.col("value")).cast("long").alias("weighted_sum"),
            F.expr(
                "CAST((1000000 * sum(w * value)) div sum(w) AS BIGINT)"
            ).alias("mean_micro"),
        )
        .orderBy("timestep", "cell_y", "cell_x")
    )
