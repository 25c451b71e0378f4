"""OGC-EDR HTTP cube source (SURVEY.md S1).

Re-expresses the reference's request construction and fetch loop
(``dmi_ingestor/ingestor.py:157-197``) Spark-first:

* URL assembly per (collection, parameter) happens at plan-construction
  time in plain Python (the `parameter-name`/`bbox` query params ARE the
  pushdown — SURVEY.md §4.2);
* the fetches run distributed, one partition per request, via
  ``operators.rowmap.map_rows`` — each worker GETs its cube and emits
  (request metadata, payload, error);
* HTTP failure → error column, payload NULL — the keep-last-good edge
  (``ingestor.py:192-199``: a failed fetch must leave the previous
  forecast intact) is decided downstream by the writer.

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


def fetch_cubes(
    spark: SparkSession,
    config: IngestConfig,
    transport: Transport | None = None,
) -> DataFrame:
    """Distributed fan-out fetch: one row per (collection, parameter).

    Requests are repartitioned one-per-task so N parameters download in
    parallel across the cluster — the Spark answer to the reference's
    sequential loop (``ingestor.py:157``). Payloads stay on executors;
    nothing is collected to the driver.
    """
    tp = transport or _default_transport
    requests_rows = [
        (config.collection, p, build_request_url(config, p))
        for p in config.parameters
    ]
    req_df = spark.createDataFrame(
        requests_rows, schema="collection string, parameter string, url string"
    ).repartition(max(len(requests_rows), 1))

    def _fetch(row) -> list[tuple]:
        payload, error = None, None
        try:
            payload = tp(row.url)
        except Exception as err:  # noqa: BLE001 - log-and-skip edge
            error = f"{type(err).__name__}: {err}"
        return [(row.collection, row.parameter, row.url, payload, error)]

    return map_rows(req_df, FETCH_SCHEMA, _fetch)
