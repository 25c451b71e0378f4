"""Real-NetCDF decode path (SURVEY.md §2.1 S2, ref ingestor.py:200).

These tests exercise the pure-Python classic-NetCDF3 codec
(``sources/netcdf3.py``), the one classic-NetCDF decoder, and prove
that genuine ``CDF\\x01`` payloads — not just the FCUBE1 synthetic
codec — flow through decode_cube and the full ingest pipeline, under
the same CF attribute rules (``sources/cf.py``) as the HDF5 reader."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from dmi_ingestor_spark.sources import netcdf3 as N
from dmi_ingestor_spark.sources.cube_format import decode_cube
from dmi_ingestor_spark.sources.hdf5 import encode_hdf5_cube
from dmi_ingestor_spark.sources.netcdf3 import encode_netcdf3, parse_netcdf3


def _cube_arrays(nt=3, ny=4, nx=5):
    times = [1_767_225_600 + 3600 * t for t in range(nt)]
    ys = [55.0 + 0.1 * i for i in range(ny)]
    xs = [11.0 + 0.1 * i for i in range(nx)]
    values = (
        np.arange(nt * ny * nx, dtype="f8").reshape(nt, ny, nx) * 0.5 - 3.0
    )
    return times, ys, xs, values


@pytest.mark.parametrize("unlimited", [False, True])
def test_netcdf3_roundtrip(unlimited):
    times, ys, xs, values = _cube_arrays()
    payload = encode_netcdf3(
        "sea-mean-deviation", times, ys, xs, values, unlimited_time=unlimited
    )
    assert payload[:4] == b"CDF\x01"
    d = parse_netcdf3(payload)
    assert d["parameter"] == "sea-mean-deviation"
    assert d["times"] == times
    assert d["ys"] == ys and d["xs"] == xs
    assert np.array_equal(d["values"], values)


def test_netcdf3_latlon_dims():
    times, ys, xs, values = _cube_arrays(2, 3, 3)
    payload = encode_netcdf3(
        "tp", times, ys, xs, values, y_name="lat", x_name="lon"
    )
    d = parse_netcdf3(payload)
    assert d["ys"] == ys and d["xs"] == xs


def test_decode_cube_dispatches_on_cdf_magic():
    """decode_cube's CDF branch (the reference's real payload format)
    must produce the same Cube as the FCUBE synthetic path."""
    times, ys, xs, values = _cube_arrays()
    cube = decode_cube(encode_netcdf3("t2m", times, ys, xs, values))
    assert cube.parameter == "t2m"
    assert cube.times == times
    assert cube.ys == ys and cube.xs == xs
    assert np.array_equal(cube.values, values)


_EPOCH_UNITS = b"seconds since 1970-01-01 00:00:00"
_CONTAINERS = pytest.mark.parametrize(
    "encode", [encode_netcdf3, encode_hdf5_cube], ids=["cdf1", "hdf5"]
)


@_CONTAINERS
def test_cf_time_units_decode_alike_in_both_containers(encode):
    """The same byte patch of the time ``units`` decodes to the same
    epoch seconds whichever container carries the cube."""
    payload = encode("t2m", [0, 60, 120], [0.0, 1.0], [0.0, 1.0], np.zeros((3, 2, 2)))
    patched = payload.replace(b"seconds since", b"minutes since")
    assert patched != payload
    assert decode_cube(patched).times == [0, 3600, 7200]


@_CONTAINERS
@pytest.mark.parametrize(
    "units",
    [
        b"jiffies since 1970-01-01 00:00:00",
        b"seconds after 1970-01-01 00:00:00",
        b"seconds since 1970-13-01 00:00:00",
    ],
    ids=["unit", "keyword", "epoch"],
)
def test_unparseable_time_units_raise(encode, units):
    payload = encode("t2m", [0, 60], [0.0], [0.0], np.zeros((2, 1, 1)))
    patched = payload.replace(_EPOCH_UNITS, units)
    assert patched != payload
    with pytest.raises(ValueError, match="time units"):
        decode_cube(patched)


def _packed_cdf1(units: str, packed: np.ndarray, attrs) -> bytes:
    """A fixed-size CDF-1 file built from the spec: int ``time`` with
    CF ``units``, double ``y``/``x`` and a (time, y, x) NC_SHORT data
    variable carrying ``attrs`` as (name, nc_type, values) triples."""
    nt, ny, nx = packed.shape

    def attr_list(items) -> bytes:
        out = struct.pack(">II", 0x0C if items else 0, len(items))
        for name, nc_type, vals in items:
            _, dtype, size = N._TYPES[nc_type]
            raw = vals.encode() if nc_type == 2 else np.asarray(vals, dtype).tobytes()
            out += N._name(name) + struct.pack(">II", nc_type, len(raw) // size)
            out += raw.ljust(N._pad4(len(raw)), b"\0")
        return out

    dims = [("time", nt), ("y", ny), ("x", nx)]
    variables = [
        ("time", (0,), 4, [("units", 2, units)], np.arange(nt, dtype=">i4")),
        ("y", (1,), 6, [], np.arange(ny, dtype=">f8")),
        ("x", (2,), 6, [], np.arange(nx, dtype=">f8")),
        ("v", (0, 1, 2), 3, attrs, packed.astype(">i2")),
    ]

    def header(begins) -> bytes:
        out = b"CDF\x01" + struct.pack(">III", 0, 0x0A, len(dims))
        out += b"".join(N._name(d) + struct.pack(">I", n) for d, n in dims)
        out += attr_list([]) + struct.pack(">II", 0x0B, len(variables))
        for (name, dimids, nc_type, vattrs, data), begin in zip(variables, begins):
            out += N._name(name) + struct.pack(f">I{len(dimids)}I", len(dimids), *dimids)
            out += attr_list(vattrs)
            out += struct.pack(">III", nc_type, N._pad4(data.nbytes), begin)
        return out

    body = [d.tobytes().ljust(N._pad4(d.nbytes), b"\0") for *_, d in variables]
    begins = np.cumsum([len(header([0] * 4))] + [len(b) for b in body[:-1]])
    return header([int(b) for b in begins]) + b"".join(body)


def test_netcdf3_applies_cf_fill_scale_and_offset():
    """A packed short variable: ``_FillValue`` cells become NaN, then
    ``scale_factor`` and ``add_offset`` apply — the HDF5 reader's rules."""
    packed = np.array([[[1, -999], [3, 4]]])
    attrs = [("_FillValue", 3, [-999]), ("scale_factor", 5, [0.5]), ("add_offset", 6, [10.0])]
    d = parse_netcdf3(_packed_cdf1("hours since 2026-01-01T00:00:00Z", packed, attrs))
    assert d["times"] == [1_767_225_600]
    np.testing.assert_array_equal(d["values"], [[[10.5, np.nan], [11.5, 12.0]]])


def test_malformed_netcdf4_raises():
    """HDF5-magic payloads now decode via sources/hdf5.py; a malformed
    one must still fail loudly, not produce garbage rows."""
    with pytest.raises(ValueError):
        decode_cube(b"\x89HDF\r\n\x1a\n" + b"\0" * 64)


def test_pipeline_ingests_real_netcdf_payloads(spark, tmp_path):
    """End-to-end S2: the HTTP transport returns REAL classic-NetCDF
    bytes (record layout, like a forecast feed) and the pipeline decodes
    them into the same grid rows the FCUBE path produces."""
    from dmi_ingestor_spark.ingest.pipeline import run_ingest
    from dmi_ingestor_spark.sources.http_edr import IngestConfig

    times, ys, xs, values = _cube_arrays(4, 8, 8)

    def transport(url: str) -> bytes:
        parameter = url.split("parameter-name=")[1].split("&")[0]
        return encode_netcdf3(
            parameter, times, ys, xs, values, unlimited_time=True
        )

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
