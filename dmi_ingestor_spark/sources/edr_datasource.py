"""Spark 4 Python DataSource for the OGC-EDR cube API (SURVEY.md S1/S2).

``spark.read.format("dmi_edr")`` as a first-class source: one input
partition per forecast parameter (the reference's loop unit,
``dmi_ingestor/ingestor.py:157``), fetch+decode on executors, long-form
grid rows out. This supersedes SURVEY §4.2's "plan-time request
construction suffices" note — the Spark 4 Python DataSource API makes a
real source adapter cheap, and it buys genuine Catalyst integration:

* partition pruning via filter pushdown: ``parameter = 'x'`` / ``IN``
  prune whole fetch partitions (the `parameter-name` query param is the
  server-side projection, `ingestor.py:178`);
* everything else stays declarative — the scan yields plain rows, so
  bbox slicing, rollups, and writes run as normal Catalyst plans.

Offline by default: ``.option("transport", "synthetic")`` serves the
deterministic test cube; "http" does the real fetch through
``http_edr._default_transport`` (network not available in CI). Unset
options take ``IngestConfig``'s defaults, and cubes become rows through
``cube_format.cube_grid``, the ingest pipeline's decode.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from dataclasses import dataclass, replace
from itertools import repeat

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    In,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from dmi_ingestor_spark.ingest.pipeline import GRID_SCHEMA
from dmi_ingestor_spark.sources.cube_format import (
    cube_grid,
    decode_cube,
    encode_cube,
    synthetic_cube,
)
from dmi_ingestor_spark.sources.http_edr import (
    IngestConfig,
    _default_transport,
    build_request_url,
)


def _config(options: dict) -> IngestConfig:
    """The run config the reader options name; an unset option keeps
    ``IngestConfig``'s default."""
    given = {k: options[k] for k in ("collection", "bbox", "api_key") if k in options}
    if "parameters" in options:
        given["parameters"] = tuple(p for p in options["parameters"].split(",") if p)
    return IngestConfig(**given)


def _grid_rows(collection: str, parameter: str, cube) -> Iterator[tuple]:
    """One cube as (collection, parameter, time_s, y, x, value) rows."""
    g = cube_grid(cube)
    cols = (g[c].tolist() for c in ("time_s", "y", "x", "value"))
    return zip(repeat(collection), repeat(parameter), *cols)


@dataclass
class _ParamPartition(InputPartition):
    collection: str
    parameter: str
    url: str
    transport: str


class EdrReader(DataSourceReader):
    """Batch reader: one partition per parameter; each task fetches its
    cube (synthetic or over HTTP) and decodes it into grid rows through
    ``cube_format.cube_grid``, the same columns ``pipeline.fetch_grid`` emits
    minus lon/lat."""

    def __init__(self, options: dict) -> None:
        self.config = _config(options)
        self.transport = options.get("transport", "synthetic")

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Prune fetch partitions from parameter predicates; everything
        else is returned as unsupported (Spark re-applies it)."""
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("parameter",):
                keep = {f.value}
            elif isinstance(f, In) and f.attribute == ("parameter",):
                keep = set(f.values)
            else:
                yield f
                continue
            params = tuple(p for p in self.config.parameters if p in keep)
            self.config = replace(self.config, parameters=params)

    def partitions(self) -> Sequence[InputPartition]:
        c = self.config
        return [
            _ParamPartition(c.collection, p, build_request_url(c, p), self.transport)
            for p in c.parameters
        ]

    def read(self, partition: _ParamPartition) -> Iterator[tuple]:
        if partition.transport == "synthetic":
            payload = encode_cube(
                synthetic_cube(
                    partition.parameter,
                    lambert=partition.collection.startswith("harmonie"),
                )
            )
        else:  # pragma: no cover - network path
            payload = _default_transport(partition.url)
        return _grid_rows(partition.collection, partition.parameter, decode_cube(payload))


class EdrDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "dmi_edr"

    def schema(self) -> StructType:
        # the ingest grid's columns without lon/lat
        return StructType(GRID_SCHEMA.fields[:6])

    def reader(self, schema: StructType) -> EdrReader:
        return EdrReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> "EdrStreamReader":
        return EdrStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> "ManifestJsonlWriter":
        return ManifestJsonlWriter(self.options, schema, overwrite)


def register(spark) -> None:
    spark.dataSource.register(EdrDataSource)


class EdrStreamReader(SimpleDataSourceStreamReader):
    """Streaming EDR source: one micro-batch per forecast cycle (St6).

    The reference re-runs its container per cycle and deletes the old
    forecast (``dmi_ingestor/ingestor.py:199``); here each cycle is an
    incremental micro-batch with exactly-once offsets in the checkpoint.
    Offsets are ``{"cycle": n}``; ``max_cycles`` bounds the synthetic
    feed so tests drain it (a live feed would poll the API forever).
    """

    CYCLE_STEP_S = 4 * 3600  # one synthetic cycle = 4 hourly steps

    def __init__(self, options: dict) -> None:
        config = _config(options)
        self.collection = config.collection
        self.parameter = config.parameters[0]
        self.max_cycles = int(options.get("max_cycles", "3"))

    def initialOffset(self) -> dict:
        return {"cycle": 0}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        cycle = start["cycle"]
        if cycle >= self.max_cycles:
            return iter([]), start
        cube = synthetic_cube(
            self.parameter,
            t0=1_767_225_600 + cycle * self.CYCLE_STEP_S,
            lambert=self.collection.startswith("harmonie"),
        )
        return _grid_rows(self.collection, self.parameter, cube), {"cycle": cycle + 1}


# ---------------------------------------------------------------------------
# Writer side (S8 manifest sink as a first-class Python DataSource)
# ---------------------------------------------------------------------------


@dataclass
class _PartFile(WriterCommitMessage):
    filename: str
    n_rows: int


class ManifestJsonlWriter(DataSourceWriter):
    """``df.write.format("dmi_edr").option("path", dir).save()`` —
    the reference's publish step (`dmi_ingestor/ingestor.py:108-118`:
    per-band upload + one JSON manifest) as a Spark 4 Python
    DataSourceWriter with the committer protocol done right:

    * each task streams its partition to ``_tmp.part-NNNNN.jsonl``
      and returns a commit message (filename, row count);
    * ``commit()`` — driver-side, exactly once, only after EVERY task
      succeeded — renames the temp files into place and writes
      ``_MANIFEST.json`` (file list + per-file and total row counts),
      the atomic "the dataset is now complete" marker readers key on;
    * ``abort()`` removes temp files, so a failed job leaves no
      half-published output — the keep-last-good semantics the
      reference's delete-then-write loop lacks.

    Local-FS rename here; on an object store the same protocol rides
    the Hadoop committer (cf. ingest/fs.py).
    """

    def __init__(self, options: dict, schema: StructType, overwrite: bool) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("dmi_edr writer requires .option('path', ...)")
        self.field_names = list(schema.fieldNames())
        self.overwrite = overwrite

    def write(self, iterator) -> _PartFile:
        import json
        import os

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{pid:05d}.jsonl"
        tmp = os.path.join(self.path, f"_tmp.{name}")
        n = 0
        with open(tmp, "w", encoding="utf-8") as fh:
            for row in iterator:
                fh.write(json.dumps(dict(zip(self.field_names, row)), sort_keys=True))
                fh.write("\n")
                n += 1
        return _PartFile(filename=name, n_rows=n)

    def commit(self, messages) -> None:
        import json
        import os

        files = {}
        for m in messages:
            tmp = os.path.join(self.path, f"_tmp.{m.filename}")
            os.replace(tmp, os.path.join(self.path, m.filename))
            files[m.filename] = m.n_rows
        manifest = {
            "files": dict(sorted(files.items())),
            "n_files": len(files),
            "n_rows": sum(files.values()),
            "columns": self.field_names,
        }
        with open(os.path.join(self.path, "_MANIFEST.json"), "w") as fh:
            json.dump(manifest, fh, sort_keys=True, indent=1)

    def abort(self, messages) -> None:
        import glob
        import os

        for tmp in glob.glob(os.path.join(self.path, "_tmp.part-*.jsonl")):
            try:
                os.remove(tmp)
            except OSError:
                pass
