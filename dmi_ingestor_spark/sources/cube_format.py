"""Forecast-cube payload codec (SURVEY.md S2).

The reference decodes DMI NetCDF bytes at ``dmi_ingestor/ingestor.py:200``.
``decode_cube`` dispatches on the payload's magic bytes, one decoder
each:

* classic NetCDF (``CDF\\x01``/``CDF\\x02``) → ``netcdf3.py``;
* NetCDF-4 (``\\x89HDF``) → ``hdf5.py``;
* GRIB2 → ``grib2.py``; CoverageJSON → ``coveragejson.py``;
* the self-contained ``FCUBE1`` test format → decoded here.

``FCUBE1`` is a deterministic stand-in with the exact logical shape of
the DMI payload (dims ``time, y, x``; one named float variable; a time
axis of epoch-second timestamps): 6-byte magic, big-endian u32 JSON
header length, JSON header, raw little-endian float64 values in
C-order. The pipeline's distributed plumbing is identical for all.
"""

from __future__ import annotations

import json
import struct
from dataclasses import dataclass

import numpy as np

MAGIC = b"FCUBE1"


@dataclass
class Cube:
    """In-memory forecast cube: the engine's analogue of the reference's
    decoded dataset (dims (time, y, x), one variable)."""

    parameter: str
    times: list[int]  # epoch seconds
    ys: list[float]
    xs: list[float]
    values: np.ndarray  # shape (time, y, x) float64


def encode_cube(cube: Cube) -> bytes:
    header = json.dumps(
        {
            "parameter": cube.parameter,
            "times": cube.times,
            "ys": cube.ys,
            "xs": cube.xs,
        }
    ).encode()
    body = np.ascontiguousarray(cube.values, dtype="<f8").tobytes()
    return MAGIC + struct.pack(">I", len(header)) + header + body


def decode_cube(payload: bytes) -> Cube:
    if payload[:6] == MAGIC:
        (hlen,) = struct.unpack(">I", payload[6:10])
        header = json.loads(payload[10 : 10 + hlen])
        nt, ny, nx = len(header["times"]), len(header["ys"]), len(header["xs"])
        values = np.frombuffer(payload[10 + hlen :], dtype="<f8").reshape(nt, ny, nx)
        return Cube(header["parameter"], header["times"], header["ys"], header["xs"], values)
    if payload[:3] == b"CDF" or payload[:4] == b"\x89HDF":
        return _decode_netcdf(payload)
    if payload[:4] == b"GRIB":
        from dmi_ingestor_spark.sources.grib2 import parse_grib2_cube

        return Cube(**parse_grib2_cube(payload))
    from dmi_ingestor_spark.sources.coveragejson import (
        is_coveragejson,
        parse_coveragejson,
    )

    if is_coveragejson(payload):
        return Cube(**parse_coveragejson(payload))
    raise ValueError(f"unknown cube payload magic: {payload[:6]!r}")


def cube_grid(cube: Cube, lambert: bool = False) -> dict[str, np.ndarray]:
    """A cube as flat long-form columns in (time, y, x) C order:
    ``time_s``, ``y``, ``x``, ``value``, ``lon`` and ``lat``.

    Lambert (harmonie_*) grids are reprojected LCC→WGS84 once per grid
    point (ny·nx) and tiled over the nt timesteps; the projection is
    element-wise, so this equals projecting every cell. crs84 grids pass
    their coordinates through as lon/lat (ingestor.py:170-173, 201-202).
    """
    nt, ny, nx = cube.values.shape
    ys = np.repeat(np.asarray(cube.ys, dtype="f8"), nx)
    xs = np.tile(np.asarray(cube.xs, dtype="f8"), ny)
    if lambert:
        from dmi_ingestor_spark.functions.projection import lcc_inverse_np

        lon, lat = lcc_inverse_np(xs, ys)
    else:
        lon, lat = xs, ys
    return {
        "time_s": np.repeat(np.asarray(cube.times, dtype="int64"), ny * nx),
        "y": np.tile(ys, nt),
        "x": np.tile(xs, nt),
        "value": np.asarray(cube.values, dtype="f8").reshape(-1),
        "lon": np.tile(lon, nt),
        "lat": np.tile(lat, nt),
    }


def cube_stats(payload: bytes) -> tuple[int, int, int, int, int, int]:
    """Decode one payload into its integer audit: (n_timesteps, n_cells,
    value_sum, value_min, value_max, time_checksum). Values are rounded,
    so integer-valued test cubes give exact, codec-independent rows."""
    cube = decode_cube(bytes(payload))
    v = cube.values
    return (
        len(cube.times),
        int(v.size),
        int(round(float(v.sum()))),
        int(round(float(v.min()))),
        int(round(float(v.max()))),
        int(sum(cube.times)),
    )


def _decode_netcdf(payload: bytes) -> Cube:
    """Real-NetCDF path (the reference's ingestor.py:200): classic
    CDF-1/2 through ``sources/netcdf3.py`` and NetCDF-4 (the HDF5
    container) through ``sources/hdf5.py``, the two on-disk formats the
    DMI API can return. Both apply the CF rules of ``sources/cf.py``."""
    if payload[:3] == b"CDF":
        from dmi_ingestor_spark.sources.netcdf3 import parse_netcdf3

        return Cube(**parse_netcdf3(payload))
    from dmi_ingestor_spark.sources.hdf5 import parse_hdf5_cube

    return Cube(**parse_hdf5_cube(payload))


def synthetic_cube(
    parameter: str,
    n_times: int = 4,
    n_y: int = 8,
    n_x: int = 8,
    t0: int = 1_767_225_600,  # 2026-01-01T00:00:00Z
    lambert: bool = False,
) -> Cube:
    """Deterministic test cube. value = t*10000 + iy*100 + ix (exact in
    float64) so any downstream aggregate is integer-exact and
    DuckDB-checkable. Lambert grids use metre coordinates near the
    projection origin; crs84 grids use degrees."""
    times = [t0 + 3600 * t for t in range(n_times)]
    if lambert:
        ys = [float(-20_000 + 5_000 * i) for i in range(n_y)]
        xs = [float(240_000 + 5_000 * i) for i in range(n_x)]
    else:
        ys = [55.0 + 0.1 * i for i in range(n_y)]
        xs = [11.0 + 0.1 * i for i in range(n_x)]
    vals = (
        np.arange(n_times)[:, None, None] * 10_000
        + np.arange(n_y)[:, None] * 100
        + np.arange(n_x)
    ).astype("f8")
    return Cube(parameter=parameter, times=times, ys=ys, xs=xs, values=vals)
