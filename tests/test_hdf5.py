"""NetCDF-4/HDF5 decode path (SURVEY.md §2.1 S2, ref ingestor.py:200).

These tests exercise the pure-Python HDF5 codec (``sources/hdf5.py``),
the one NetCDF-4 decoder, and prove that genuine
``\\x89HDF`` payloads — the format current DMI collections return —
flow through decode_cube and the full ingest pipeline, including the
chunked-layout B-tree walk and the deflate/shuffle filter undo."""

from __future__ import annotations

import numpy as np
import pytest

from dmi_ingestor_spark.sources.cube_format import decode_cube
from dmi_ingestor_spark.sources.hdf5 import (
    Hdf5Error,
    encode_hdf5_cube,
    parse_hdf5_cube,
)


def _cube_arrays(nt=3, ny=4, nx=5):
    times = [1_767_225_600 + 3600 * t for t in range(nt)]
    ys = [55.0 + 0.1 * i for i in range(ny)]
    xs = [11.0 + 0.1 * i for i in range(nx)]
    values = (
        np.arange(nt * ny * nx, dtype="f8").reshape(nt, ny, nx) * 0.5 - 3.0
    )
    return times, ys, xs, values


@pytest.mark.parametrize(
    "kw",
    [
        {"compress": False},
        {"compress": True},
        {"compress": True, "shuffle": True},
        {"compress": False, "chunk_t": 2},
        {"compress": True, "chunk_t": 3},
    ],
    ids=["raw", "deflate", "deflate+shuffle", "chunk2", "chunk3-deflate"],
)
def test_hdf5_roundtrip(kw):
    times, ys, xs, values = _cube_arrays()
    payload = encode_hdf5_cube("sea-mean-deviation", times, ys, xs, values, **kw)
    assert payload[:8] == b"\x89HDF\r\n\x1a\n"
    d = parse_hdf5_cube(payload)
    assert d["parameter"] == "sea-mean-deviation"
    assert d["times"] == times
    assert d["ys"] == ys and d["xs"] == xs
    assert np.array_equal(d["values"], values)


def test_hdf5_partial_trailing_chunk():
    """nt not divisible by chunk_t: the last chunk is padded on disk and
    must be cropped on read."""
    times, ys, xs, values = _cube_arrays(nt=5)
    payload = encode_hdf5_cube("tp", times, ys, xs, values, chunk_t=2)
    d = parse_hdf5_cube(payload)
    assert np.array_equal(d["values"], values)


def test_hdf5_time_units_scaling():
    """The time coordinate converts through its CF 'units' attribute."""
    times, ys, xs, values = _cube_arrays()
    payload = encode_hdf5_cube("t2m", times, ys, xs, values)
    d = parse_hdf5_cube(payload)
    assert d["times"] == times  # seconds-since-epoch base


def _patch_string_class(payload: bytes, attr: str) -> bytes:
    """Retype attribute ``attr``'s datatype from class 3 (fixed string)
    to class 9 (variable-length), which is how netCDF-4 stores an
    NC_STRING attribute and which the reader does not parse."""
    at = payload.index(b"\x13\0\0\0", payload.index(attr.encode() + b"\0"))
    return payload[:at] + b"\x19" + payload[at + 1 :]


def test_hdf5_unparseable_cf_attribute_fails_the_decode():
    """A time ``units`` the reader cannot parse fails the cube instead of
    being dropped (the raw minutes would decode as epoch seconds); an
    unparseable attribute that CF decoding does not read is ignored."""
    _, ys, xs, values = _cube_arrays()
    payload = encode_hdf5_cube("t2m", [0, 60, 120], ys, xs, values).replace(
        b"seconds since 1970", b"minutes since 1970"
    )
    assert parse_hdf5_cube(payload)["times"] == [0, 3600, 7200]
    with pytest.raises(Hdf5Error, match="'units'"):
        parse_hdf5_cube(_patch_string_class(payload, "units"))
    d = parse_hdf5_cube(_patch_string_class(payload, "long_name"))
    assert d["times"] == [0, 3600, 7200]
    assert np.array_equal(d["values"], values)


def test_decode_cube_dispatches_on_hdf5_magic():
    times, ys, xs, values = _cube_arrays()
    cube = decode_cube(encode_hdf5_cube("t2m", times, ys, xs, values))
    assert cube.parameter == "t2m"
    assert cube.times == times
    assert cube.ys == ys and cube.xs == xs
    assert np.array_equal(cube.values, values)


def test_malformed_hdf5_raises():
    with pytest.raises(ValueError):
        parse_hdf5_cube(b"\x89HDF\r\n\x1a\n" + b"\0" * 64)
    with pytest.raises(Hdf5Error):
        parse_hdf5_cube(b"not hdf5 at all" + b"\0" * 64)


def test_pipeline_ingests_netcdf4_payloads(spark, tmp_path):
    """End-to-end S2: the HTTP transport returns REAL HDF5 bytes
    (chunked + deflate, like a libnetcdf-written forecast feed) and the
    pipeline decodes them into the same grid rows the FCUBE and
    classic-NetCDF paths produce."""
    from dmi_ingestor_spark.ingest.pipeline import run_ingest
    from dmi_ingestor_spark.sources.http_edr import IngestConfig

    times, ys, xs, values = _cube_arrays(4, 8, 8)

    def transport(url: str) -> bytes:
        parameter = url.split("parameter-name=")[1].split("&")[0]
        return encode_hdf5_cube(
            parameter, times, ys, xs, values, chunk_t=2, compress=True
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


# ---- "latest" (H5F_LIBVER_LATEST) container structures ---------------------


@pytest.mark.parametrize(
    "kw",
    [
        {"compress": False},
        {"compress": True, "shuffle": True},
        {"compress": True, "chunk_t": 3},
    ],
    ids=["raw", "deflate+shuffle", "chunk3-deflate"],
)
def test_hdf5_latest_layout_roundtrip(kw):
    """superblock v3 + v2 object headers + compact Link-message root
    group parse to the identical cube as the classic layout."""
    times, ys, xs, values = _cube_arrays()
    new = parse_hdf5_cube(
        encode_hdf5_cube("t2m", times, ys, xs, values, layout="latest", **kw)
    )
    old = parse_hdf5_cube(
        encode_hdf5_cube("t2m", times, ys, xs, values, layout="classic", **kw)
    )
    assert new["times"] == old["times"] == times
    assert new["parameter"] == old["parameter"] == "t2m"
    np.testing.assert_allclose(new["values"], values)
    np.testing.assert_allclose(new["ys"], old["ys"])
    np.testing.assert_allclose(new["xs"], old["xs"])


def test_hdf5_latest_superblock_and_ohdr_checksums():
    """The v3 superblock and every OHDR block carry a valid Jenkins
    lookup3 checksum — the same algorithm libhdf5 verifies on open
    (pinned to the published lookup3 test vectors)."""
    from dmi_ingestor_spark.sources.hdf5 import _lookup3

    # public vectors from Jenkins' lookup3.c driver
    assert _lookup3(b"") == 0xDEADBEEF
    assert _lookup3(b"Four score and seven years ago") == 0x17770551
    assert _lookup3(b"Four score and seven years ago", 1) == 0xCD628161

    times, ys, xs, values = _cube_arrays()
    buf = encode_hdf5_cube("t2m", times, ys, xs, values, layout="latest")
    assert buf[8] == 3  # superblock version
    import struct

    stored = struct.unpack("<I", buf[44:48])[0]
    assert stored == _lookup3(buf[:44])
    # every v2 object header checksum validates
    pos, found = 0, 0
    while True:
        pos = buf.find(b"OHDR", pos)
        if pos < 0:
            break
        size = struct.unpack("<H", buf[pos + 6 : pos + 8])[0]
        end = pos + 8 + size
        assert struct.unpack("<I", buf[end : end + 4])[0] == _lookup3(
            buf[pos:end]
        )
        found += 1
        pos += 4
    assert found == 5  # root + 4 variables


def test_hdf5_latest_layout_bad_magic_still_raises():
    with pytest.raises(Hdf5Error):
        parse_hdf5_cube(b"\x89HDX" + b"\0" * 100)


# ---- DENSE "new style" groups: fractal heap + v2 B-tree --------------------


def test_hdf5_dense_group_roundtrip():
    """A dense root group (Link Info -> FRHP fractal heap + BTHD/BTLF
    name index) parses to the identical cube as compact/classic."""
    times, ys, xs, values = _cube_arrays()
    buf = encode_hdf5_cube(
        "t2m", times, ys, xs, values, layout="latest", dense_root=True
    )
    for sig in (b"FRHP", b"FHDB", b"BTHD", b"BTLF"):
        assert sig in buf
    assert b"SNOD" not in buf  # no old-style symbol table anywhere
    cube = parse_hdf5_cube(buf)
    ref = parse_hdf5_cube(encode_hdf5_cube("t2m", times, ys, xs, values))
    assert cube["times"] == ref["times"] == times
    assert cube["parameter"] == ref["parameter"] == "t2m"
    np.testing.assert_allclose(cube["values"], values)


def test_hdf5_dense_group_btree_hashes_are_lookup3():
    """The name-index records carry the Jenkins lookup3 hash of each
    link name — the key order libhdf5 searches by."""
    import struct

    from dmi_ingestor_spark.sources.hdf5 import _lookup3

    times, ys, xs, values = _cube_arrays()
    buf = encode_hdf5_cube(
        "t2m", times, ys, xs, values, layout="latest", dense_root=True
    )
    pos = buf.find(b"BTLF")
    hashes = sorted(
        struct.unpack("<I", buf[pos + 6 + 11 * i : pos + 10 + 11 * i])[0]
        for i in range(4)
    )
    expected = sorted(_lookup3(n) for n in (b"time", b"y", b"x", b"t2m"))
    assert hashes == expected


def test_hdf5_dense_group_through_decode_cube():
    """Dense-group payloads flow through the format dispatcher."""
    times, ys, xs, values = _cube_arrays()
    buf = encode_hdf5_cube(
        "t2m", times, ys, xs, values, layout="latest", dense_root=True,
        compress=True, shuffle=True, chunk_t=2,
    )
    cube = decode_cube(buf)
    assert list(cube.times) == times
    np.testing.assert_allclose(cube.values, values)
