"""End-to-end ingestion: fetch → decode+reproject → partitioned write →
manifest (SURVEY.md §7 M2 — the reference's full capability, Spark-native).

Reference pipeline being re-expressed (``dmi_ingestor/ingestor.py``):
fetch per parameter (:157-197) → xarray decode (:200) → conditional
LCC→WGS84 reprojection (:201-202) → temp NetCDF → COG (:203-206) → one
GeoTIFF per timestep uploaded under {collection}/{parameter}/{time}.tif
(:207-218) → forecasts.json manifest (:219-227) → cleanup (:228-233).

Spark mapping (SURVEY.md §3):

* band-per-timestep files  → ``partitionBy(collection, parameter,
  time_str)`` parquet layout — the same object-store layout, atomic;
* delete-then-write        → dynamic partition overwrite: only
  partitions present in the NEW data are replaced, so a failed fetch
  or decode leaves the old forecast intact (keep-last-good, :192-199)
  *and* the replace is per-partition atomic where the reference races
  (:199);
* manifest                 → the (parameter, time_str) leaves the write
  itself observed, one JSON per (collection, parameter).

A forecast is one lazy plan and one write: every cube is fetched,
decoded and reprojected exactly once, and the counts, failed
parameters, stale-leaf deletes and manifests all come from that write's
``Observation`` — nothing is cached, validated ahead or read back.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dmi_ingestor_spark.functions.projection import lcc_to_wgs84_np
from dmi_ingestor_spark.ingest.fs import fs_delete, fs_list_subdirs
from dmi_ingestor_spark.sources.cube_format import decode_cube
from dmi_ingestor_spark.sources.http_edr import (
    IngestConfig,
    Transport,
    fetch_cubes,
)

GRID_SCHEMA = StructType(
    [
        StructField("collection", StringType()),
        StructField("parameter", StringType()),
        StructField("time_s", LongType()),  # epoch seconds
        StructField("y", DoubleType()),
        StructField("x", DoubleType()),
        StructField("value", DoubleType()),
        StructField("lon", DoubleType()),
        StructField("lat", DoubleType()),
    ]
)


def decode_to_grid(fetched: DataFrame, lambert: bool) -> DataFrame:
    """S2/U2 + P3/U1: payload blobs → long-form WGS84 grid rows via
    mapInPandas.

    One input row (a whole cube) explodes into time×y×x rows — the
    iterator-of-batches shape lets a single task stream multiple cubes
    without materializing more than one at a time. ``lambert`` grids
    (harmonie_*) are reprojected LCC→WGS84 in the same Python worker;
    crs84 grids pass their coordinates through (ingestor.py:170-173,
    201-202). Failed fetches (payload NULL) are dropped here, and so are
    payloads that FAIL TO DECODE (corrupt/truncated bytes) — a bad cube
    must quarantine its parameter, never crash the job (the reference's
    per-parameter try/except, ingestor.py:221-227). Such a parameter
    has no rows, so the write replaces none of its leaves and
    ``run_ingest``'s stale-leaf delete, which only touches parameters
    the write observed, leaves its previous forecast intact
    (keep-last-good).
    """

    def _explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            for _, row in pdf.iterrows():
                if row["payload"] is None:
                    continue
                try:
                    cube = decode_cube(bytes(row["payload"]))
                except Exception:  # noqa: BLE001 — quarantine, don't crash
                    continue
                nt, ny, nx = cube.values.shape
                times = np.repeat(np.asarray(cube.times, dtype="int64"), ny * nx)
                ys = np.tile(np.repeat(np.asarray(cube.ys), nx), nt)
                xs = np.tile(np.asarray(cube.xs), nt * ny)
                lon, lat = lcc_to_wgs84_np(xs, ys) if lambert else (xs, ys)
                yield pd.DataFrame(
                    {
                        "collection": row["collection"],
                        "parameter": row["parameter"],
                        "time_s": times,
                        "y": ys,
                        "x": xs,
                        "value": cube.values.reshape(-1),
                        "lon": lon,
                        "lat": lat,
                    }
                )

    return fetched.mapInPandas(_explode, GRID_SCHEMA)


def with_time_str(grid: DataFrame) -> DataFrame:
    """F1: the reference's yyyymmddTHHMMSS partition key (ingestor.py:104)."""
    return grid.withColumn(
        "time_str",
        F.date_format(F.timestamp_seconds(F.col("time_s")), "yyyyMMdd'T'HHmmss"),
    )


@dataclass
class IngestResult:
    out_dir: str
    n_rows: int
    n_partitions_written: int
    failed_parameters: list[str]
    manifest_paths: list[str]
    tif_paths: list[str] | None = None


def run_ingest(
    spark: SparkSession,
    config: IngestConfig,
    out_dir: str,
    transport: Transport | None = None,
    public_base_url: str = "https://bucket.example",
    export_tifs: bool = False,
) -> IngestResult:
    """The full reference pipeline, one Spark write.

    Writes ``{out_dir}/grid/collection=…/parameter=…/time_str=…/*.parquet``
    with dynamic partition overwrite and one
    ``{out_dir}/manifests/{collection}/{parameter}/forecasts.json`` per
    parameter (same key→URL shape as ingestor.py:219-227). Counts are
    scoped to THIS run; a parameter that fetched or decoded to nothing
    is listed in ``failed_parameters`` (config order) and keeps its
    previous forecast.
    """
    grid_path = os.path.join(out_dir, "grid")
    grid = with_time_str(
        decode_to_grid(fetch_cubes(spark, config, transport), config.crs == "native")
    )
    written = Observation("ingest")
    (
        grid.repartition("collection", "parameter", "time_str")
        # observed after the shuffle: observed before it, a run with zero
        # rows (every parameter failed) makes Observation.get raise
        .observe(
            written,
            F.count(F.lit(1)).alias("n_rows"),
            F.collect_set(F.struct("parameter", "time_str")).alias("leaves"),
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("collection", "parameter", "time_str")
        .parquet(grid_path)
    )
    stats = written.get
    new_leaves: dict[str, set[str]] = {}
    for parameter, time_str in stats["leaves"]:
        new_leaves.setdefault(parameter, set()).add(time_str)
    ok_parameters = [p for p in config.parameters if p in new_leaves]

    # S7 retention semantics (delete_outdated_forecasts, ingestor.py:67-73,
    # :199): a *successful* parameter's new forecast replaces its entire
    # previous one — including timesteps the new run no longer covers —
    # while a failed one leaves its prefix untouched (keep-last-good,
    # :192-199). The reference deletes BEFORE uploading (ingestor.py:199),
    # so a decode/upload failure destroys the previous forecast. Here the
    # write runs FIRST (dynamic overwrite replaces only the time_str leaves
    # present in the new data, each atomically); only after it succeeds
    # are the stale leaves of the parameters it observed — old time_strs
    # the new run no longer covers — deleted. Deletes go through the
    # Hadoop FileSystem API (ingest/fs.py), so the same path works on
    # file://, hdfs:// and s3a://; on a table format (Iceberg/Delta) this
    # whole block becomes a single REPLACE WHERE.
    manifest_paths = []
    for parameter in ok_parameters:
        prefix = os.path.join(
            grid_path, f"collection={config.collection}", f"parameter={parameter}"
        )
        keep = {f"time_str={t}" for t in new_leaves[parameter]}
        for stale in sorted(set(fs_list_subdirs(spark, prefix)) - keep):
            fs_delete(spark, os.path.join(prefix, stale))

        mdir = os.path.join(out_dir, "manifests", config.collection, parameter)
        os.makedirs(mdir, exist_ok=True)
        mpath = os.path.join(mdir, "forecasts.json")
        manifest = {
            t: f"{public_base_url}/{config.collection}/{parameter}/{t}.tif"
            for t in new_leaves[parameter]
        }
        with open(mpath, "w") as fh:
            json.dump(manifest, fh, indent=4, sort_keys=True)
        manifest_paths.append(mpath)

    # S4 optional export: the reference's actual output artifact — one
    # COG-structured GeoTIFF per timestep (ingestor.py:76-80,207-218) —
    # written by the grouped-applyInPandas raster writer over the rows
    # just ingested. Pure opt-in: the parquet table remains the engine's
    # native format (SURVEY.md §2.1 S4).
    tif_paths: list[str] | None = None
    if export_tifs and ok_parameters:
        from dmi_ingestor_spark.operators.raster import rasterize_timesteps

        this_run = spark.read.parquet(grid_path).filter(
            (F.col("collection") == config.collection)
            & F.col("parameter").isin(ok_parameters)
        )
        tif_manifest = rasterize_timesteps(
            this_run.select("parameter", "time_str", "y", "x", "value"),
            os.path.join(out_dir, "tif", config.collection),
        ).collect()
        tif_paths = sorted(r["path"] for r in tif_manifest)

    return IngestResult(
        out_dir=out_dir,
        n_rows=stats["n_rows"],
        n_partitions_written=len(stats["leaves"]),
        failed_parameters=[p for p in config.parameters if p not in new_leaves],
        manifest_paths=manifest_paths,
        tif_paths=tif_paths,
    )
