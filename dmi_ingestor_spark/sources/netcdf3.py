"""Pure-Python NetCDF-3 "classic" codec (SURVEY.md §2.1 S2).

The reference ingests real NetCDF from the EDR API
(``dmi_ingestor/ingestor.py:148-151`` requests ``f=NetCDF``, ``:200``
decodes it). This module implements the classic (CDF-1) on-disk format
directly from the public spec (NetCDF User Guide, "File Format
Specification") — header (dim/attr/var lists, big-endian), fixed-size
and record-variable data layouts. It is the decoder behind
``sources/cube_format._decode_netcdf`` for ``CDF`` payloads and makes
the real-NetCDF branch testable end to end: encode a genuine
``CDF\\x01`` payload, feed it through fetch→decode→write, get grid rows
out.

Scope: enough of CDF-1 for forecast cubes — coordinate vars (time +
y/x or lat/lon), one (time, y, x) data variable, float/double/int
types, optional unlimited (record) time dimension. NetCDF-4 (HDF5
magic) decodes through the sibling ``sources/hdf5.py`` parser; both
apply the CF attribute rules of ``sources/cf.py``.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from dmi_ingestor_spark.sources.cf import cf_decode

_NC_DIMENSION = 0x0A
_NC_VARIABLE = 0x0B
_NC_ATTRIBUTE = 0x0C
_ABSENT = b"\x00\x00\x00\x00\x00\x00\x00\x00"

# nc_type → (struct char, numpy dtype, size)
_TYPES = {
    1: ("b", ">i1", 1),  # NC_BYTE
    2: ("s", "S1", 1),  # NC_CHAR
    3: ("h", ">i2", 2),  # NC_SHORT
    4: ("i", ">i4", 4),  # NC_INT
    5: ("f", ">f4", 4),  # NC_FLOAT
    6: ("d", ">f8", 8),  # NC_DOUBLE
}
_NC_INT, _NC_FLOAT, _NC_DOUBLE = 4, 5, 6


def _pad4(n: int) -> int:
    return (n + 3) // 4 * 4


def _name(s: str) -> bytes:
    raw = s.encode()
    return struct.pack(">I", len(raw)) + raw.ljust(_pad4(len(raw)), b"\0")


def _text_attr(name: str, value: str) -> bytes:
    raw = value.encode()
    return (
        _name(name)
        + struct.pack(">II", 2, len(raw))
        + raw.ljust(_pad4(len(raw)), b"\0")
    )


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


def encode_netcdf3(
    parameter: str,
    times: list[int],
    ys: list[float],
    xs: list[float],
    values: np.ndarray,
    y_name: str = "y",
    x_name: str = "x",
    unlimited_time: bool = False,
) -> bytes:
    """(time, y, x) forecast cube → classic NetCDF-3 bytes.

    ``unlimited_time=True`` writes time as the record dimension (the
    layout real forecast feeds use), exercising the record-variable
    data placement; otherwise all variables are fixed-size.
    """
    nt, ny, nx = values.shape
    assert (nt, ny, nx) == (len(times), len(ys), len(xs))

    # (name, size, coord values, nc_type); dimid order: time, y, x
    dims = [("time", 0 if unlimited_time else nt), (y_name, ny), (x_name, nx)]
    coords = {
        "time": (np.asarray(times, dtype=">i4"), _NC_INT),
        y_name: (np.asarray(ys, dtype=">f8"), _NC_DOUBLE),
        x_name: (np.asarray(xs, dtype=">f8"), _NC_DOUBLE),
    }

    # variables: 3 coords + the data var. Record vars = those whose
    # first dim is the unlimited one (time + data var when unlimited).
    @dataclass
    class _Var:
        name: str
        dimids: tuple[int, ...]
        nc_type: int
        data: np.ndarray

        @property
        def is_record(self) -> bool:
            return unlimited_time and self.dimids[:1] == (0,)

        def vsize(self) -> int:
            shape = [
                (nt, ny, nx)[d] for d in self.dimids if not (unlimited_time and d == 0)
            ]
            n = int(np.prod(shape)) if shape else 1
            return _pad4(n * _TYPES[self.nc_type][2])

    variables = [
        _Var("time", (0,), _NC_INT, coords["time"][0]),
        _Var(y_name, (1,), _NC_DOUBLE, coords[y_name][0]),
        _Var(x_name, (2,), _NC_DOUBLE, coords[x_name][0]),
        _Var(parameter, (0, 1, 2), _NC_DOUBLE, np.asarray(values, dtype=">f8")),
    ]

    # header
    head = bytearray()
    head += b"CDF\x01"
    head += struct.pack(">I", nt if unlimited_time else 0)  # numrecs
    head += struct.pack(">II", _NC_DIMENSION, len(dims))
    for dname, dsize in dims:
        head += _name(dname) + struct.pack(">I", dsize)
    head += _ABSENT  # no global attributes
    head += struct.pack(">II", _NC_VARIABLE, len(variables))

    # first pass with dummy begins to learn the header size
    def var_header(v: _Var, begin: int) -> bytes:
        out = _name(v.name)
        out += struct.pack(">I", len(v.dimids))
        out += struct.pack(f">{len(v.dimids)}I", *v.dimids)
        if v.name == "time":
            out += struct.pack(">II", _NC_ATTRIBUTE, 1)
            out += _text_attr("units", "seconds since 1970-01-01 00:00:00")
        else:
            out += _ABSENT
        out += struct.pack(">III", v.nc_type, v.vsize(), begin)
        return bytes(out)

    dummy = b"".join(var_header(v, 0) for v in variables)
    data_start = len(head) + len(dummy)

    # layout: fixed vars first (spec order), then the record block
    begins: dict[str, int] = {}
    pos = data_start
    for v in variables:
        if not v.is_record:
            begins[v.name] = pos
            pos += v.vsize()
    rec_start = pos
    rec_stride = sum(v.vsize() for v in variables if v.is_record)
    off = rec_start
    for v in variables:
        if v.is_record:
            begins[v.name] = off
            off += v.vsize()

    head += b"".join(var_header(v, begins[v.name]) for v in variables)

    # data
    body = bytearray(b"\0" * ((rec_stride * nt if unlimited_time else 0)))
    fixed = bytearray()
    for v in variables:
        if not v.is_record:
            raw = v.data.tobytes()
            fixed += raw.ljust(v.vsize(), b"\0")
    if unlimited_time:
        for v in variables:
            if not v.is_record:
                continue
            per_rec = v.vsize()
            raw_records = (
                v.data.reshape(nt, -1) if v.data.ndim > 1 else v.data.reshape(nt, 1)
            )
            for r in range(nt):
                rec_off = (begins[v.name] - rec_start) + r * rec_stride
                chunk = raw_records[r].tobytes()
                body[rec_off : rec_off + len(chunk)] = chunk
        return bytes(head) + bytes(fixed) + bytes(body)
    return bytes(head) + bytes(fixed)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def parse_netcdf3(payload: bytes) -> dict:
    """Classic NetCDF-3 bytes → {"parameter", "times", "ys", "xs", "values"}.

    General CDF-1/CDF-2 header walk (dims, global atts, vars with their
    attribute lists); extracts the coordinate variables and the first
    3-D data variable, decoded under the CF rules of ``sources/cf.py``
    (time ``units``, ``_FillValue``, ``scale_factor``, ``add_offset``)
    that the HDF5 reader applies too.
    """
    if payload[:3] != b"CDF" or payload[3] not in (1, 2):
        raise ValueError("not a classic NetCDF payload")
    offset_fmt = ">I" if payload[3] == 1 else ">Q"
    offset_size = 4 if payload[3] == 1 else 8
    pos = 4
    (numrecs,) = struct.unpack_from(">I", payload, pos)
    pos += 4

    def read_name() -> str:
        nonlocal pos
        (n,) = struct.unpack_from(">I", payload, pos)
        pos += 4
        s = payload[pos : pos + n].decode()
        pos += _pad4(n)
        return s

    def read_list_tag(expected: int) -> int:
        nonlocal pos
        tag, n = struct.unpack_from(">II", payload, pos)
        pos += 8
        if tag not in (0, expected):
            raise ValueError(f"bad list tag {tag:#x}")
        return n if tag == expected else 0

    def read_attrs() -> dict[str, object]:
        nonlocal pos
        attrs: dict[str, object] = {}
        for _ in range(read_list_tag(_NC_ATTRIBUTE)):
            aname = read_name()
            (atype, acount) = struct.unpack_from(">II", payload, pos)
            pos += 8
            size = acount * _TYPES[atype][2]
            raw = payload[pos : pos + size]
            pos += _pad4(size)
            if atype == 2:  # NC_CHAR
                attrs[aname] = raw.split(b"\0")[0].decode()
            else:
                arr = np.frombuffer(raw, dtype=_TYPES[atype][1])
                attrs[aname] = arr[0] if acount == 1 else arr
        return attrs

    ndims = read_list_tag(_NC_DIMENSION)
    dims: list[tuple[str, int]] = []
    for _ in range(ndims):
        dname = read_name()
        (dsize,) = struct.unpack_from(">I", payload, pos)
        pos += 4
        dims.append((dname, dsize))
    read_attrs()  # global

    nvars = read_list_tag(_NC_VARIABLE)
    variables = []
    attrs: dict[str, dict[str, object]] = {}
    for _ in range(nvars):
        vname = read_name()
        (vndims,) = struct.unpack_from(">I", payload, pos)
        pos += 4
        dimids = struct.unpack_from(f">{vndims}I", payload, pos)
        pos += 4 * vndims
        attrs[vname] = read_attrs()
        (nc_type, vsize) = struct.unpack_from(">II", payload, pos)
        pos += 8
        (begin,) = struct.unpack_from(offset_fmt, payload, pos)
        pos += offset_size
        variables.append((vname, dimids, nc_type, vsize, begin))

    rec_vars = [v for v in variables if v[1] and dims[v[1][0]][1] == 0]
    rec_stride = sum(v[3] for v in rec_vars)

    def read_var(v) -> np.ndarray:
        vname, dimids, nc_type, vsize, begin = v
        dtype = _TYPES[nc_type][1]
        item = _TYPES[nc_type][2]
        shape = [dims[d][1] for d in dimids]
        if v in rec_vars:
            shape[0] = numrecs
            per_rec = int(np.prod(shape[1:])) if len(shape) > 1 else 1
            out = np.empty(shape, dtype=dtype)
            flat = out.reshape(numrecs, -1)
            for r in range(numrecs):
                o = begin + r * rec_stride
                flat[r] = np.frombuffer(payload, dtype=dtype, count=per_rec, offset=o)
            return out
        n = int(np.prod(shape)) if shape else 1
        return np.frombuffer(payload, dtype=dtype, count=n, offset=begin).reshape(
            shape
        )

    by_name = {v[0]: v for v in variables}
    data_var = next(v for v in variables if len(v[1]) == 3)
    t_dim, y_dim, x_dim = (dims[d][0] for d in data_var[1])
    times, values = cf_decode(
        read_var(by_name[t_dim]), attrs[t_dim], read_var(data_var), attrs[data_var[0]]
    )
    return {
        "parameter": data_var[0],
        "times": times,
        "ys": [float(v) for v in read_var(by_name[y_dim])],
        "xs": [float(v) for v in read_var(by_name[x_dim])],
        "values": values,
    }
