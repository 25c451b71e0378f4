"""OGC-EDR HTTP cube source (SURVEY.md S1).

Re-expresses the reference's request construction and fetch loop
(``dmi_ingestor/ingestor.py:157-197``) Spark-first:

* URL assembly per (collection, parameter) happens at plan-construction
  time in plain Python (the `parameter-name`/`bbox` query params ARE the
  pushdown — SURVEY.md §4.2);
* :func:`request_rows` deals the requests over one partition per core
  with no Python pass and no exchange, so the cubes download in
  parallel and each Python task fetches several;
* :func:`fetch_one` GETs one cube and turns an HTTP failure into an error
  string, payload ``None`` — the keep-last-good edge
  (``ingestor.py:192-199``: a failed fetch must leave the previous
  forecast intact) is decided downstream by the writer. The ingest
  pass (``ingest.pipeline.fetch_grid``) and :func:`fetch_cubes` both
  call it.

The transport is injectable so tests run fully offline.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from urllib.parse import urlencode, urlunsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
)

from dmi_ingestor_spark.operators.rowmap import map_rows

Transport = Callable[[str], bytes]

DEFAULT_HOST = "dmigw.govcloud.dk"
DEFAULT_PATH = "v1/forecastedr/collections"


@dataclass(frozen=True)
class IngestConfig:
    """Run parameters — the reference's env-var block
    (``ingestor.py:137-155``) as an explicit config record."""

    collection: str = "dkss_if"
    parameters: tuple[str, ...] = ("sea-mean-deviation",)
    bbox: str = "11.5,55.5,12.2,56.1"
    api_key: str = ""
    host: str = DEFAULT_HOST
    base_path: str = DEFAULT_PATH
    extra_query: dict[str, str] = field(default_factory=dict)

    @property
    def crs(self) -> str:
        # harmonie_* collections are requested in their native (LCC)
        # CRS, everything else in crs84 (ingestor.py:170-173); bbox
        # units follow the CRS (km vs degrees, README.md:20)
        return "native" if self.collection.startswith("harmonie") else "crs84"


def build_request_url(config: IngestConfig, parameter: str) -> str:
    """Mirror of the reference's URL assembly (``ingestor.py:165-191``):
    scheme/netloc/path from config, query = cube request with api-key,
    crs, bbox, parameter-name, f=NetCDF (case-sensitive, `:151`)."""
    query = {
        "api-key": config.api_key,
        "crs": config.crs,
        "bbox": config.bbox,
        "parameter-name": parameter,
        "f": "NetCDF",
        **config.extra_query,
    }
    path = f"{config.base_path}/{config.collection}/cube"
    return urlunsplit(("https", config.host, path, urlencode(query), ""))


FETCH_SCHEMA = StructType(
    [
        StructField("collection", StringType()),
        StructField("parameter", StringType()),
        StructField("url", StringType()),
        StructField("payload", BinaryType()),
        StructField("error", StringType()),
    ]
)


def _default_transport(url: str) -> bytes:  # pragma: no cover - network
    import requests

    resp = requests.get(url, timeout=120)
    resp.raise_for_status()  # → except path = log-and-skip (ingestor.py:192-197)
    return resp.content


def fetch_one(transport: Transport | None, url: str) -> tuple[bytes | None, str | None]:
    """GET one cube: ``(payload, None)``, or ``(None, error)`` when the
    transport raises (log-and-skip, ``ingestor.py:192-197``)."""
    try:
        return (transport or _default_transport)(url), None
    except Exception as err:  # noqa: BLE001 - log-and-skip edge
        return None, f"{type(err).__name__}: {err}"


def request_list(config: IngestConfig) -> list[tuple[str, str, str]]:
    """One ``(collection, parameter, url)`` per configured parameter."""
    return [(config.collection, p, build_request_url(config, p)) for p in config.parameters]


def request_rows(spark: SparkSession, n: int) -> DataFrame:
    """Ids ``0..n-1`` dealt in contiguous runs over ``p = min(n,
    defaultParallelism)`` partitions; a kernel looks up its request as
    ``request_list(config)[id]``.

    One partition per core, not per request: every Python task pays a
    fixed start cost far above a cube's fetch, decode and projection,
    so a task loops over ``ceil(n/p)`` cubes instead (Spark's file
    scans pack small files into one task for the same reason). A
    partitioned write then holds a task's ``ceil(n/p)`` cubes in its
    sort buffer, which spills under the execution-memory limit, so
    memory per task stays bounded by configuration.

    No Python pass (``createDataFrame`` of Python rows is one) and no
    exchange (``repartition`` is a round-robin shuffle).
    """
    parts = min(n, spark.sparkContext.defaultParallelism)
    return spark.range(0, n, 1, max(1, parts))


def fetch_cubes(
    spark: SparkSession,
    config: IngestConfig,
    transport: Transport | None = None,
) -> DataFrame:
    """Distributed fan-out fetch: one row per (collection, parameter)
    with its payload or fetch error.

    The Spark answer to the reference's sequential loop
    (``ingestor.py:157``): :func:`request_rows` deals the requests over
    one task per core, and each task fetches its share in turn.
    Payloads stay on executors; nothing is collected to the driver.
    """
    requests = request_list(config)

    def _get(row) -> list[tuple]:
        collection, parameter, url = requests[row.id]
        return [(collection, parameter, url, *fetch_one(transport, url))]

    return map_rows(request_rows(spark, len(requests)), FETCH_SCHEMA, _get)
