"""CF-convention decoding shared by both NetCDF containers.

Classic NetCDF-3 (``netcdf3.py``) and NetCDF-4/HDF5 (``hdf5.py``) carry
the same attributes, so one set of rules turns a parsed cube's raw
arrays into decoded ones, whatever the container:

* the time coordinate's ``units`` (``seconds|minutes|hours|days since
  <epoch>``) gives epoch seconds; a cube without ``units`` is taken as
  epoch seconds already, and any other ``units`` raises;
* the data variable's ``_FillValue`` becomes NaN, then ``scale_factor``
  and ``add_offset`` apply, in that order.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np

# the attributes cf_decode reads: a container reader must fail a cube
# whose copy of one of these it cannot parse, never drop it
CF_ATTRS = frozenset({"units", "_FillValue", "scale_factor", "add_offset"})
_TIME_BASES = {"seconds": 1, "minutes": 60, "hours": 3600, "days": 86400}
_EPOCH_FORMATS = ("%Y-%m-%d %H:%M:%S", "%Y-%m-%dT%H:%M:%S", "%Y-%m-%d")


def _time_units(units: object) -> tuple[int, int]:
    """CF time ``units`` → (seconds per step, epoch seconds of the base)."""
    if isinstance(units, str):
        unit, since, base = units.partition(" since ")
        mult = _TIME_BASES.get(unit.strip().lower())
        base = base.strip().removesuffix("Z").replace("+00:00", "")
        if since and mult is not None:
            for fmt in _EPOCH_FORMATS:
                try:
                    epoch = _dt.datetime.strptime(base, fmt)
                except ValueError:
                    continue
                return mult, int(epoch.replace(tzinfo=_dt.timezone.utc).timestamp())
    raise ValueError(f"unsupported CF time units {units!r}")


def cf_decode(
    times: np.ndarray,
    time_attrs: dict[str, object],
    values: np.ndarray,
    var_attrs: dict[str, object],
) -> tuple[list[int], np.ndarray]:
    """Raw time coordinate and data variable → (epoch-second times,
    float64 values) under the CF rules above."""
    if "units" in time_attrs:
        mult, epoch = _time_units(time_attrs["units"])
        epoch_times = [epoch + int(v) * mult for v in times]
    else:
        epoch_times = [int(v) for v in times]
    values = np.asarray(values, dtype=np.float64)
    fill = var_attrs.get("_FillValue")
    if fill is not None:
        values = np.where(values == float(fill), np.nan, values)
    scale = var_attrs.get("scale_factor")
    if scale is not None:
        values = values * float(scale)
    offset = var_attrs.get("add_offset")
    if offset is not None:
        values = values + float(offset)
    return epoch_times, values
