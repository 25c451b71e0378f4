"""Raster export queries (SURVEY.md §2 S4 + U3).

Reference parity: ``dmi_ingestor/ingestor.py:76-80`` (gdal_translate -of
COG per timestep) and ``:101-107,207-218`` (one .tif per timestep under
{collection}/{parameter}/). The distributed writer is
``operators/raster.rasterize_timesteps`` (grouped applyInPandas); this
module registers the oracle-checked manifest query over the synthetic
grid that ``queries/ingestion.py`` already standardizes on.

Oracle strategy: width/height/n_cells/px_sum are recomputed by DuckDB
from the same integer grid formula (independent of the writer), while
the artifact's n_bytes + sha256 come from a SINGLE-NODE reference
encode of each timestep done at plan-build time with pure numpy — the
driver row therefore asserts the distributed applyInPandas export is
byte-identical to the single-node reference implementation, which is
precisely the reference-parity claim S4 needs.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dmi_ingestor_spark.ingest.fs import scratch_dir
from dmi_ingestor_spark.operators.raster import encode_geotiff, rasterize_timesteps
from dmi_ingestor_spark.operators.rowmap import map_rows
from dmi_ingestor_spark.queries.ingestion import _spark_grid, _SQL_GRID, NT, NY, NX
from dmi_ingestor_spark.registry import register

_PARAM = "sea-mean-deviation"


def _reference_artifacts() -> list[tuple[str, int, str]]:
    """(time_str, n_bytes, sha256) per timestep, single-node reference.

    Rebuilds each timestep's 2-D array straight from the synthetic-grid
    formula (value = t*10000 + iy*100 + ix, y = 55.0+0.1*iy ascending ⇒
    row 0 of the raster is iy = NY-1) and encodes it with the same
    pure-Python GeoTIFF writer on the driver — no Spark involved.
    """
    import datetime

    # Coordinates and geo-transform use the SAME float64 operation
    # sequence as the executor (operators/raster.rasterize_timesteps
    # derives dx/dy/x0/y0 from the coordinate values) — IEEE doubles are
    # deterministic, so byte-parity holds only if the arithmetic is
    # replicated, not just the mathematical values.
    ys = sorted((55.0 + 0.1 * iy for iy in range(NY)), reverse=True)
    xs = sorted(11.0 + 0.1 * ix for ix in range(NX))
    dy = ys[0] - ys[1]
    dx = xs[1] - xs[0]
    x0, y0 = xs[0] - dx / 2, ys[0] + dy / 2
    out = []
    for t in range(NT):
        arr = np.zeros((NY, NX), dtype="f8")
        for iy in range(NY):
            for ix in range(NX):
                arr[NY - 1 - iy, ix] = t * 10000 + iy * 100 + ix
        data = encode_geotiff(arr, x0, y0, dx, dy)
        ts = datetime.datetime.fromtimestamp(
            1_767_225_600 + 3600 * t, datetime.timezone.utc
        ).strftime("%Y%m%dT%H%M%S")
        out.append((ts, len(data), hashlib.sha256(data).hexdigest()))
    return out


def _expected_values_sql() -> str:
    rows = ",\n      ".join(
        f"('{ts}', {n}, '{h}')" for ts, n, h in _reference_artifacts()
    )
    return f"(VALUES\n      {rows}) AS exp(time_str, n_bytes, checksum)"


@register(
    "raster_export_manifest",
    oracle=f"""
    WITH grid AS ({_SQL_GRID}),
    agg AS (
      SELECT
        strftime(to_timestamp(time_s), '%Y%m%dT%H%M%S') AS time_str,
        CAST(COUNT(DISTINCT x) AS BIGINT) AS width,
        CAST(COUNT(DISTINCT y) AS BIGINT) AS height,
        CAST(SUM(value) AS DOUBLE) AS px_sum
      FROM grid GROUP BY time_str
    )
    SELECT
      '{_PARAM}' AS parameter,
      a.time_str,
      a.width,
      a.height,
      CAST(exp.n_bytes AS BIGINT) AS n_bytes,
      exp.checksum,
      a.px_sum
    FROM agg a JOIN {_expected_values_sql()} ON exp.time_str = a.time_str
    """,
    doc=(
        "S4/U3: per-timestep GeoTIFF export manifest. Spark side runs the "
        "grouped-applyInPandas raster writer (one COG-structured tiled "
        "float32 GeoTIFF per timestep, written to disk), decodes the "
        "written bytes back and reports (dims, n_bytes, sha256, pixel "
        "sum). DuckDB recomputes dims/px_sum from the grid formula and "
        "checks n_bytes/sha256 against a single-node reference encode — "
        "i.e. the distributed export is asserted byte-identical to the "
        "single-node reference implementation."
    ),
    tags=("ingest", "raster", "reference"),
)
def raster_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = (
        _spark_grid(spark)
        .withColumn("parameter", F.lit(_PARAM))
        .withColumn(
            "time_str",
            F.date_format(F.timestamp_seconds("time_s"), "yyyyMMdd'T'HHmmss"),
        )
    )
    out_dir = scratch_dir("raster-export")
    manifest = rasterize_timesteps(grid, out_dir)
    return manifest.select(
        "parameter", "time_str", "width", "height", "n_bytes", "checksum", "px_sum"
    )


# ---------------------------------------------------------------------------
# Overview-pyramid verification (the COG ladder, decoded back)
# ---------------------------------------------------------------------------

_OV_NT, _OV_NY, _OV_NX = 2, 40, 40  # >= _OVERVIEW_MIN so the writer emits level 1


@register(
    "raster_overview_stats",
    oracle=f"""
    WITH g AS (
      SELECT (i // {_OV_NY * _OV_NX}) AS t,
             ((i % {_OV_NY * _OV_NX}) // {_OV_NX}) AS iy,
             (i % {_OV_NX}) AS ix,
             CAST((i // {_OV_NY * _OV_NX}) * 10000
                  + ((i % {_OV_NY * _OV_NX}) // {_OV_NX}) * 100
                  + (i % {_OV_NX}) AS DOUBLE) AS v
      FROM (SELECT unnest(generate_series(0, {_OV_NT * _OV_NY * _OV_NX - 1})) AS i)
    ),
    l0 AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS n_cells,
             MIN(v) AS mn, MAX(v) AS mx, SUM(v) AS s
      FROM g GROUP BY t
    ),
    ov AS (
      SELECT t, iy // 2 AS oy, ix // 2 AS ox, SUM(v) / 4 AS vv
      FROM g GROUP BY t, oy, ox
    ),
    l1 AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS n_cells,
             MIN(vv) AS mn, MAX(vv) AS mx, SUM(vv) AS s
      FROM ov GROUP BY t
    )
    SELECT concat('ts', lpad(CAST(t AS VARCHAR), 2, '0')) AS time_str,
           CAST(0 AS BIGINT) AS level, n_cells,
           mn AS min_px, mx AS max_px, s AS px_sum
    FROM l0
    UNION ALL
    SELECT concat('ts', lpad(CAST(t AS VARCHAR), 2, '0')), 1, n_cells,
           mn, mx, s
    FROM l1
    ORDER BY time_str, level
    """,
    doc=(
        "COG overview-pyramid verification end to end: a 40x40 grid "
        "(large enough for the writer's overview ladder) is exported "
        "per-timestep via the distributed applyInPandas rasterizer, "
        "then each artifact is DECODED BACK from its written bytes "
        "and per-level (full-res + 2x mean-downsampled overview) "
        "stats are emitted. The oracle recomputes both levels from "
        "the grid formula alone — level 1 as the 2x2-block mean — so "
        "a green row proves the bytes embedded in the overview IFD "
        "are exactly the reference downsample, not merely present. "
        "All pixel values are <2^24 integers (and quarter-integers "
        "after the mean), exactly representable in float32, so the "
        "double stats are order-independent and hash-exact. "
        "Reference parity: ingestor.py:76-80 emits COGs, whose "
        "contract is precisely 'overviews included'."
    ),
    tags=("ingest", "raster", "reference"),
)
def raster_overview_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.operators.raster import decode_geotiff as _dec

    n_cell = _OV_NY * _OV_NX
    grid = spark.range(_OV_NT * n_cell).select(
        F.lit("ov-param").alias("parameter"),
        F.concat(
            F.lit("ts"), F.lpad((F.col("id") / n_cell).cast("long").cast("string"), 2, "0")
        ).alias("time_str"),
        (55.0 + 0.1 * ((F.col("id") % n_cell) / _OV_NX).cast("long")).alias("y"),
        (11.0 + 0.1 * (F.col("id") % _OV_NX)).alias("x"),
        (
            (F.col("id") / n_cell).cast("long") * 10000
            + ((F.col("id") % n_cell) / _OV_NX).cast("long") * 100
            + (F.col("id") % _OV_NX)
        )
        .cast("double")
        .alias("value"),
    )
    out_dir = scratch_dir("raster-ov")
    manifest = rasterize_timesteps(grid, out_dir)

    def _stats(r):
        with open(r.path, "rb") as fh:
            levels = _dec(fh.read())["levels"]
        for lvl, arr in enumerate(levels):
            a8 = arr.astype("f8")
            yield (
                r.time_str, lvl, int(a8.size),
                float(a8.min()), float(a8.max()), float(a8.sum()),
            )

    return map_rows(
        manifest.select("time_str", "path"),
        "time_str string, level long, n_cells long, "
        "min_px double, max_px double, px_sum double",
        _stats,
    ).orderBy("time_str", "level")
