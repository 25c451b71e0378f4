"""CoverageJSON decode path (OGC-EDR's default interchange format).

The reference requests NetCDF, but the same EDR endpoints serve
CoverageJSON first — a format-switching user must get identical grid
rows. These tests mirror tests/test_netcdf3.py / test_hdf5.py."""

from __future__ import annotations

import numpy as np
import pytest

from dmi_ingestor_spark.sources.coveragejson import (
    encode_coveragejson,
    parse_coveragejson,
)
from dmi_ingestor_spark.sources.cube_format import decode_cube


def _cube_arrays(nt=3, ny=4, nx=5):
    times = [1_767_225_600 + 3600 * t for t in range(nt)]
    ys = [55.0 + 0.1 * i for i in range(ny)]
    xs = [11.0 + 0.1 * i for i in range(nx)]
    values = (
        np.arange(nt * ny * nx, dtype="f8").reshape(nt, ny, nx) * 0.5 - 3.0
    )
    return times, ys, xs, values


def test_coveragejson_roundtrip():
    times, ys, xs, values = _cube_arrays()
    payload = encode_coveragejson("wind-speed", times, ys, xs, values)
    d = parse_coveragejson(payload)
    assert d["parameter"] == "wind-speed"
    assert d["times"] == times
    assert d["ys"] == ys and d["xs"] == xs
    assert np.array_equal(d["values"], values)


def test_nulls_become_nan():
    times, ys, xs, values = _cube_arrays(1, 2, 2)
    values[0, 0, 1] = np.nan
    payload = encode_coveragejson("tp", times, ys, xs, values)
    d = parse_coveragejson(payload)
    assert np.isnan(d["values"][0, 0, 1])
    assert d["values"][0, 0, 0] == values[0, 0, 0]


def test_axis_order_transposed():
    """A payload in (y, x, t) axis order must land as (t, y, x)."""
    import json

    times, ys, xs, values = _cube_arrays(2, 3, 4)
    payload = encode_coveragejson("t2m", times, ys, xs, values)
    doc = json.loads(payload)
    nd = doc["ranges"]["t2m"]
    nd["axisNames"] = ["y", "x", "t"]
    nd["shape"] = [3, 4, 2]
    nd["values"] = [
        None if np.isnan(v) else float(v)
        for v in np.transpose(values, (1, 2, 0)).ravel()
    ]
    d = parse_coveragejson(json.dumps(doc).encode())
    assert np.array_equal(d["values"], values)


def test_compact_regular_axis():
    import json

    times, ys, xs, values = _cube_arrays(2, 3, 4)
    payload = encode_coveragejson("t2m", times, ys, xs, values)
    doc = json.loads(payload)
    doc["domain"]["axes"]["x"] = {"start": 11.0, "stop": 11.3, "num": 4}
    d = parse_coveragejson(json.dumps(doc).encode())
    assert d["xs"] == pytest.approx(xs)


def test_decode_cube_dispatches_on_json():
    times, ys, xs, values = _cube_arrays()
    cube = decode_cube(encode_coveragejson("t2m", times, ys, xs, values))
    assert cube.parameter == "t2m"
    assert cube.times == times
    assert np.array_equal(cube.values, values)


def test_pipeline_ingests_coveragejson_payloads(spark, tmp_path):
    from dmi_ingestor_spark.ingest.pipeline import run_ingest
    from dmi_ingestor_spark.sources.http_edr import IngestConfig

    times, ys, xs, values = _cube_arrays(4, 8, 8)

    def transport(url: str) -> bytes:
        parameter = url.split("parameter-name=")[1].split("&")[0]
        return encode_coveragejson(parameter, times, ys, xs, values)

    cfg = IngestConfig(collection="dkss_if", parameters=("sea-mean-deviation",))
    res = run_ingest(spark, cfg, str(tmp_path), transport)
    assert res.failed_parameters == []
    assert res.n_rows == 4 * 8 * 8

    import pyspark.sql.functions as F

    grid = spark.read.parquet(f"{tmp_path}/grid")
    got = grid.agg(
        F.sum("value").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    assert got["n"] == values.size
    assert abs(got["s"] - float(values.sum())) < 1e-9


def test_pipeline_stores_null_cells_as_null(spark, tmp_path):
    """A null cell of the payload (a masked DKSS land cell) is stored as
    a NULL ``value``, not NaN, so ``sum``/``avg`` skip it."""
    from dmi_ingestor_spark.ingest.pipeline import run_ingest
    from dmi_ingestor_spark.sources.http_edr import IngestConfig

    times, ys, xs, values = _cube_arrays(2, 3, 3)
    values[1, 2, 0] = np.nan
    payload = encode_coveragejson("sea-mean-deviation", times, ys, xs, values)

    cfg = IngestConfig(collection="dkss_if", parameters=("sea-mean-deviation",))
    res = run_ingest(spark, cfg, str(tmp_path), lambda url: payload)
    assert res.failed_parameters == [] and res.n_rows == values.size

    import pyspark.sql.functions as F

    got = (
        spark.read.parquet(f"{tmp_path}/grid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").isNull().cast("int")).alias("nulls"),
            F.sum("value").alias("s"),
        )
        .collect()[0]
    )
    assert (got["n"], got["nulls"]) == (values.size, 1)
    assert got["s"] == pytest.approx(float(np.nansum(values)))


def test_corrupt_payload_is_quarantined_not_fatal(spark, tmp_path):
    """A parameter whose payload is garbage lands in failed_parameters;
    the healthy parameter's rows still publish (keep-last-good, the
    reference's per-parameter try/except at ingestor.py:221-227)."""
    from dmi_ingestor_spark.ingest.pipeline import run_ingest
    from dmi_ingestor_spark.sources.http_edr import IngestConfig

    times, ys, xs, values = _cube_arrays(2, 4, 4)

    def transport(url: str) -> bytes:
        parameter = url.split("parameter-name=")[1].split("&")[0]
        if parameter == "bad-param":
            return b"\x89HDF\r\n\x1a\n" + b"\0" * 64  # truncated HDF5
        return encode_coveragejson(parameter, times, ys, xs, values)

    cfg = IngestConfig(
        collection="dkss_if", parameters=("sea-mean-deviation", "bad-param")
    )
    res = run_ingest(spark, cfg, str(tmp_path), transport)
    assert res.failed_parameters == ["bad-param"]
    assert res.n_rows == values.size
