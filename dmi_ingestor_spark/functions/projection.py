"""Coordinate reprojection (SURVEY.md F7/U1) — the reference's one real UDF.

The reference reprojects HARMONIE cubes from a sphere-datum Lambert
Conformal Conic CRS to EPSG:4326 through pyproj
(``dmi_ingestor/ingestor.py:83-87``, WKT at ``:28-64``). Here the
transform is the published spherical LCC inverse (Snyder, *Map
Projections — A Working Manual*, USGS PP 1395, eqs. 14-1..15-5) in
vectorized numpy, ``lcc_inverse_np``. It is the one reprojection path:
the ingest decode (``cube_format.cube_grid``) and the Arrow-batched
``lcc_to_wgs84`` pandas UDF both call it, whatever is installed.

Projection constants from the reference WKT (``ingestor.py:28-64``):
sphere radius 6371229 m, standard parallels 55.5°/55.5° (tangent case),
origin (55.5°N, 8°W), false easting/northing 0.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

R_SPHERE = 6_371_229.0
LAT0 = math.radians(55.5)
LON0 = math.radians(-8.0)

# Tangent spherical LCC precomputed constants
_N = math.sin(LAT0)
_F = math.cos(LAT0) * math.tan(math.pi / 4 + LAT0 / 2) ** _N / _N
_RHO0 = R_SPHERE * _F / math.tan(math.pi / 4 + LAT0 / 2) ** _N

def lcc_inverse_np(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(x, y) metres in DMI LCC → (lon, lat) degrees. Vectorized."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    rho = np.sign(_N) * np.hypot(x, _RHO0 - y)
    theta = np.arctan2(x, _RHO0 - y)
    with np.errstate(divide="ignore"):
        lat = 2.0 * np.arctan((R_SPHERE * _F / rho) ** (1.0 / _N)) - math.pi / 2
    lat = np.where(rho == 0, math.pi / 2 * np.sign(_N), lat)
    lon = LON0 + theta / _N
    return np.degrees(lon), np.degrees(lat)


def lcc_forward_np(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) degrees → (x, y) metres in DMI LCC. Vectorized."""
    lam = np.radians(np.asarray(lon, dtype=np.float64))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    rho = R_SPHERE * _F / np.tan(math.pi / 4 + phi / 2) ** _N
    x = rho * np.sin(_N * (lam - LON0))
    y = _RHO0 - rho * np.cos(_N * (lam - LON0))
    return x, y


LONLAT_SCHEMA = StructType(
    [StructField("lon", DoubleType()), StructField("lat", DoubleType())]
)


@F.pandas_udf(LONLAT_SCHEMA)
def lcc_to_wgs84(x: pd.Series, y: pd.Series) -> pd.DataFrame:
    """Arrow-vectorized U1: DMI-LCC metres → WGS84 degrees, for grids
    that are already rows (the ingest pipeline reprojects inside its
    decode instead). One JVM↔Python Arrow round-trip per batch; inside
    the batch the transform is ``lcc_inverse_np``.
    """
    lon, lat = lcc_inverse_np(x.to_numpy(), y.to_numpy())
    return pd.DataFrame({"lon": lon, "lat": lat})
