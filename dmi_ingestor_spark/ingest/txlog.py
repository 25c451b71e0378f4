"""Minimal versioned-table transaction log (the lakehouse commit pattern).

Table state = the set of data directories ("add units") visible after
replaying an ordered log of JSON commit files; a commit becomes visible
atomically because publishing it is ONE filesystem rename of a staged
file into its version slot (`_txlog/00000042.json`) — the same
published idea behind Delta Lake's `_delta_log` and Iceberg's metadata
pointer (Armbrust et al., VLDB 2020), re-implemented from scratch on
the Hadoop ``FileSystem`` API (`ingest/fs.py`), so it works unchanged
on file://, hdfs:// and s3a'-style stores with atomic rename.

Guarantees (each tested in ``tests/test_txlog.py``):

- **Atomic commits**: a crash before the rename leaves only a staged
  temp file the log replay never sees; a crash after is a completed
  commit. No torn state is observable.
- **Optimistic concurrency**: two writers racing to version N — the
  publish step is an atomic fail-if-exists primitive (hard-link on
  ``file://``, ``Options.Rename.NONE`` elsewhere; plain rename(2) would
  silently replace), so exactly one wins the slot; the loser re-reads
  the snapshot and either retries (disjoint work) or raises
  ``ConcurrentModificationError`` (its removes are no longer live —
  the lost-update case Delta aborts on too).
- **Snapshot isolation / time travel**: ``read(version=V)`` resolves
  exactly the add-units visible at V; later commits never change it.
- **Compaction-safe**: rewriting K units into one is just a commit
  that removes K and adds 1 — readers at older versions still see the
  originals until vacuum.

Scale notes: the log is METADATA — a few KB per commit, replayed on
the driver; data files never move on commit. At 100 TB the same
design holds (that is its point): commit cost is O(1) rename, and
replay cost is bounded by ``CHECKPOINT_EVERY`` — every N commits a
checkpoint file snapshots the fully-replayed state, and
``snapshot_fast`` resolves from the newest checkpoint forward
(equivalence with the full replay is test-asserted).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from dmi_ingestor_spark.ingest.fs import (
    _fs_and_path,
    fs_delete,
    fs_publish_exclusive,
    fs_rename,
)

LOG_DIR = "_txlog"
STAGE_DIR = "_txlog_stage"
CHECKPOINT_EVERY = 5  # write a replay checkpoint every N commits

# Reader feature gate (Delta's protocol/table-features mechanism): a
# commit that first uses a capability lists it under "features", the
# set is replayed into every snapshot, and a reader that doesn't
# support one MUST refuse the whole table rather than silently return
# wrong results (e.g. ignoring deletion vectors would resurrect
# deleted rows). This reader supports:
SUPPORTED_FEATURES = frozenset(
    {"column-mapping", "check-constraints", "deletion-vectors"}
)


class UnsupportedTableFeature(RuntimeError):
    """The table requires a reader feature this engine does not
    implement; refusing is the only safe behavior (Delta does the
    same via minReaderVersion / readerFeatures)."""


class ConcurrentModificationError(RuntimeError):
    """A concurrent commit invalidated this transaction's snapshot: some
    unit it intended to remove is no longer live. Re-read and recompute
    (what Delta Lake raises in the same situation)."""


class ConstraintViolation(ValueError):
    """An append (or ADD CONSTRAINT on existing data) failed a CHECK
    constraint; the batch is rejected atomically — no file written,
    no commit published."""


def _require_features(features: set[str]) -> None:
    unknown = features - SUPPORTED_FEATURES
    if unknown:
        raise UnsupportedTableFeature(
            f"table requires reader features {sorted(unknown)}; this "
            f"engine supports {sorted(SUPPORTED_FEATURES)}"
        )


def _write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    """Create a file with ``data`` through the Hadoop FileSystem API
    (scheme-agnostic; not a local ``open()``)."""
    fs, jpath = _fs_and_path(spark, path)
    out = fs.create(jpath, False)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


@dataclass(frozen=True)
class Snapshot:
    version: int
    add_units: tuple[str, ...]
    schema_ddl: str
    # logical→physical column names as of this version (Delta-style
    # column mapping: a rename is a metadata commit, data files keep
    # their original — physical — column names forever). Empty tuple
    # means identity (no rename has ever happened).
    column_mapping: tuple[tuple[str, str], ...] = ()
    # CHECK constraints as of this version: (name, sql_predicate)
    # pairs; every append must satisfy ALL of them (Delta's
    # ADD CONSTRAINT ... CHECK). Predicates see LOGICAL column names.
    constraints: tuple[tuple[str, str], ...] = ()
    # reader features this snapshot requires (monotone: once a commit
    # introduces one, every later snapshot carries it)
    features: tuple[str, ...] = ()


class TxLog:
    """Versioned parquet table rooted at ``root``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self.log_path = f"{self.root}/{LOG_DIR}"
        self.stage_path = f"{self.root}/{STAGE_DIR}"

    # -- log replay ---------------------------------------------------

    def _commit_file(self, version: int) -> str:
        return f"{self.log_path}/{version:08d}.json"

    def _read_json(self, jpath) -> dict:
        fs, _ = _fs_and_path(self.spark, self.log_path)
        jvm = self.spark.sparkContext._jvm
        stream = fs.open(jpath)
        sink = jvm.java.io.ByteArrayOutputStream()
        try:
            jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, sink, 4096, False)
            raw = bytes(sink.toByteArray())
        finally:
            stream.close()
            sink.close()
        return json.loads(raw.decode("utf-8"))

    def _list_commits(self) -> list[dict]:
        fs, jpath = _fs_and_path(self.spark, self.log_path)
        if not fs.exists(jpath):
            return []
        entries = []
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if not name.endswith(".json") or name.endswith(".checkpoint.json"):
                continue
            # py4j copies byte[] args, so readFully(buf) mutations never
            # reach Python — copy through a Java-side buffer instead
            entries.append(self._read_json(st.getPath()))
        entries.sort(key=lambda e: e["version"])
        return entries

    def _latest_checkpoint(self) -> dict | None:
        """Newest replay checkpoint, or None. A checkpoint file holds
        the fully-replayed state at its version: {"version", "live",
        "schema_ddl", "stats"} — replay then only applies commits
        AFTER it, bounding metadata cost at O(CHECKPOINT_EVERY) instead
        of O(total commits)."""
        fs, jpath = _fs_and_path(self.spark, self.log_path)
        if not fs.exists(jpath):
            return None
        best = None
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if not name.endswith(".checkpoint.json"):
                continue
            ck = self._read_json(st.getPath())
            if best is None or ck["version"] > best["version"]:
                best = ck
        return best

    def _maybe_checkpoint(self, version: int) -> None:
        if version % CHECKPOINT_EVERY != 0 or version == 0:
            return
        snap = self.snapshot(version)
        stats = _unit_stats(self)
        ck = {
            "version": version,
            "live": list(snap.add_units),
            "schema_ddl": snap.schema_ddl,
            "column_mapping": dict(snap.column_mapping),
            "constraints": dict(snap.constraints),
            "features": list(snap.features),
            "stats": {u: s for u, s in stats.items() if u in snap.add_units},
        }
        staged = f"{self.stage_path}/ck-{version:08d}.json"
        _write_bytes(self.spark, staged, json.dumps(ck, sort_keys=True).encode())
        # last-writer-wins is fine: any checkpoint at V is equivalent
        fs_rename(
            self.spark,
            staged,
            f"{self.log_path}/{version:08d}.checkpoint.json",
        )

    def snapshot_fast(self, version: int | None = None) -> Snapshot:
        """Snapshot resolution through the newest applicable checkpoint:
        replays only commits after it. Equivalent to snapshot() —
        asserted by tests — but O(CHECKPOINT_EVERY) commit reads."""
        ck = self._latest_checkpoint()
        if ck is None or (version is not None and ck["version"] > version):
            return self.snapshot(version)
        commits = [
            c for c in self._list_commits() if c["version"] > ck["version"]
        ]
        if version is not None:
            commits = [c for c in commits if c["version"] <= version]
        live = list(ck["live"])
        schema_ddl = ck["schema_ddl"]
        mapping = dict(ck.get("column_mapping") or {})
        constraints = dict(ck.get("constraints") or {})
        features = set(ck.get("features") or [])
        for c in commits:
            for r in c.get("removes", []):
                if r in live:
                    live.remove(r)
            live.extend(c.get("adds", []))
            schema_ddl = c.get("schema_ddl") or schema_ddl
            mapping = c.get("column_mapping") or mapping
            constraints = (
                c["constraints"] if "constraints" in c else constraints
            )
            features.update(c.get("features", []))
        v = commits[-1]["version"] if commits else ck["version"]
        if version is not None and v != version:
            # mirror snapshot()'s contract: a nonexistent / gap version
            # must raise, not silently resolve to the state below it
            raise ValueError(f"version {version} does not exist")
        _require_features(features)
        return Snapshot(
            version=v,
            add_units=tuple(live),
            schema_ddl=schema_ddl,
            column_mapping=tuple(sorted(mapping.items())),
            constraints=tuple(sorted(constraints.items())),
            features=tuple(sorted(features)),
        )

    def latest_version(self) -> int:
        commits = self._list_commits()
        return commits[-1]["version"] if commits else -1

    def snapshot(self, version: int | None = None) -> Snapshot:
        commits = self._list_commits()
        if version is not None:
            commits = [c for c in commits if c["version"] <= version]
            if not commits or commits[-1]["version"] != version:
                raise ValueError(f"version {version} does not exist")
        live: list[str] = []
        schema_ddl = ""
        mapping: dict[str, str] = {}
        constraints: dict[str, str] = {}
        features: set[str] = set()
        for c in commits:
            for r in c.get("removes", []):
                if r in live:
                    live.remove(r)
            live.extend(c.get("adds", []))
            schema_ddl = c.get("schema_ddl") or schema_ddl
            mapping = c.get("column_mapping") or mapping
            constraints = (
                c["constraints"] if "constraints" in c else constraints
            )
            features.update(c.get("features", []))
        _require_features(features)
        v = commits[-1]["version"] if commits else -1
        return Snapshot(
            version=v,
            add_units=tuple(live),
            schema_ddl=schema_ddl,
            column_mapping=tuple(sorted(mapping.items())),
            constraints=tuple(sorted(constraints.items())),
            features=tuple(sorted(features)),
        )

    # -- commit protocol ----------------------------------------------

    def _try_commit(self, entry: dict, version: int, tag: str) -> bool:
        staged = f"{self.stage_path}/{tag}-{version:08d}.json"
        entry = dict(entry, version=version)
        _write_bytes(
            self.spark, staged, json.dumps(entry, sort_keys=True).encode()
        )
        # the publish IS the commit, via an atomic fail-if-exists
        # primitive (hard-link on file://, Rename.NONE elsewhere): False
        # means someone else won this version slot. A plain
        # exists()+rename would let the loser silently REPLACE the
        # winner's file on POSIX rename(2) semantics.
        return fs_publish_exclusive(
            self.spark, staged, self._commit_file(version)
        )

    def commit(
        self,
        adds: list[str],
        removes: list[str],
        schema_ddl: str = "",
        tag: str = "c",
        max_attempts: int = 10,
        extra: dict | None = None,
    ) -> int:
        """Optimistic-concurrency commit. Before EVERY attempt (first
        included) the snapshot is re-read and each unit in ``removes``
        must still be live — otherwise a concurrent writer already
        retired it and blindly committing would resurrect its rows /
        silently drop the other writer's work (the classic lost
        update). Such conflicts raise :class:`ConcurrentModificationError`
        instead of committing."""
        entry = {"adds": adds, "removes": removes, "schema_ddl": schema_ddl}
        if extra:
            entry.update(extra)
        for _ in range(max_attempts):
            snap = self.snapshot()
            if removes:
                gone = [u for u in removes if u not in snap.add_units]
                if gone:
                    raise ConcurrentModificationError(
                        f"units no longer live: {gone} (snapshot v{snap.version})"
                    )
            v = snap.version + 1
            if self._try_commit(entry, v, tag):
                self._maybe_checkpoint(v)
                return v
        raise RuntimeError(f"commit lost {max_attempts} races; giving up")

    # -- table operations ---------------------------------------------

    # -- column mapping (metadata-only rename) ------------------------

    def column_mapping(self) -> dict[str, str]:
        """Current logical→physical column names. Identity (derived
        from the recorded physical schema) until the first rename."""
        snap = self.snapshot()
        if snap.column_mapping:
            return dict(snap.column_mapping)
        if not snap.schema_ddl:
            return {}
        from pyspark.sql.types import _parse_datatype_string

        return {n: n for n in _parse_datatype_string(snap.schema_ddl).names}

    def rename_column(self, old: str, new: str) -> int:
        """Rename a logical column WITHOUT touching any data file — a
        metadata-only commit recording the new logical→physical mapping
        (Delta Lake's column-mapping rename). Old snapshots replay the
        mapping as of their version, so time travel still shows the old
        name; new appends translate logical names back to the physical
        names the files use."""
        m = self.column_mapping()
        if old not in m:
            raise ValueError(f"no such column: {old!r} (have {sorted(m)})")
        if new in m:
            raise ValueError(f"column already exists: {new!r}")
        # CHECK predicates are stored against logical names; renaming a
        # referenced column would leave them unresolvable (silently
        # un-enforceable). Delta refuses the same way: drop or rewrite
        # the constraint first.
        import re

        referencing = [
            name
            for name, pred in self.snapshot().constraints
            if re.search(rf"\b{re.escape(old)}\b", pred)
        ]
        if referencing:
            raise ValueError(
                f"column {old!r} is referenced by CHECK constraint(s) "
                f"{referencing}; drop them before renaming"
            )
        m[new] = m.pop(old)
        return self.commit(
            adds=[],
            removes=[],
            tag="rename",
            extra={"column_mapping": m, "features": ["column-mapping"]},
        )

    # -- CHECK constraints --------------------------------------------

    def add_constraint(self, name: str, predicate: str) -> int:
        """ADD CONSTRAINT name CHECK (predicate) — a metadata commit.
        The EXISTING table must already satisfy it (as in Delta), and
        every later append is validated against it before any commit."""
        viol = self._count_violations(self.read(), {name: predicate})
        if viol:
            raise ConstraintViolation(
                f"existing rows violate {name!r}: {viol} row(s)"
            )
        cur = dict(self.snapshot().constraints)
        cur[name] = predicate
        return self.commit(
            adds=[],
            removes=[],
            tag="constraint",
            extra={"constraints": cur, "features": ["check-constraints"]},
        )

    def drop_constraint(self, name: str) -> int:
        cur = dict(self.snapshot().constraints)
        if name not in cur:
            raise ValueError(f"no such constraint: {name!r}")
        del cur[name]
        return self.commit(
            adds=[], removes=[], tag="constraint", extra={"constraints": cur}
        )

    @staticmethod
    def _count_violations(df: DataFrame, constraints: dict[str, str]) -> int:
        if not constraints:
            return 0
        # NULL predicate results count as violations (CHECK must be TRUE)
        ok = " AND ".join(
            f"(({p}) <=> TRUE)" for p in constraints.values()
        )
        return df.filter(f"NOT ({ok})").count()

    def _to_physical(self, df: DataFrame) -> DataFrame:
        """Translate a logical-schema DataFrame to physical column
        names before it hits parquet, so every data file in the table
        carries one consistent (physical) schema regardless of how many
        renames the log has seen. Unknown columns (brand-new adds) keep
        their name — their physical name IS their logical name."""
        snap = self.snapshot()
        m = dict(snap.column_mapping)
        if not m or all(k == v for k, v in m.items()):
            return df
        from pyspark.sql import functions as F

        return df.select([F.col(c).alias(m.get(c, c)) for c in df.columns])

    def _validate_constraints(self, df: DataFrame) -> None:
        """Reject ``df`` (logical column names) if it violates any CHECK
        constraint of the CURRENT snapshot. Centralized here so EVERY
        write path — plain/stats/partitioned appends, merges, compaction
        — enforces the table's constraints, not just ``append`` (a
        constrained table must never accept violating rows through a
        side door). No-op (zero Spark jobs) when the table has none."""
        constraints = dict(self.snapshot().constraints)
        if not constraints:
            return
        viol = self._count_violations(df, constraints)
        if viol:
            raise ConstraintViolation(
                f"write violates CHECK constraints "
                f"{sorted(constraints)}: {viol} row(s)"
            )

    def _write_unit(self, df: DataFrame, unit_name: str) -> str:
        """Write ``df`` to a NEW data unit. A reused ``unit_name`` would
        silently overwrite files still referenced by older snapshots
        (breaking snapshot isolation with no trace in the log), so an
        existing target path is an error — callers pick unique names,
        exactly as Delta uniquifies file names with UUIDs. Validates
        CHECK constraints BEFORE any file is written (nothing to clean
        up on rejection) — every single-unit write path funnels through
        here."""
        self._validate_constraints(df)
        df = self._to_physical(df)
        unit = f"data/{unit_name}"
        target = f"{self.root}/{unit}"
        fs, jpath = _fs_and_path(self.spark, target)
        if fs.exists(jpath):
            raise ValueError(
                f"unit path already exists: {unit!r} — unit names must be "
                "unique for the table's lifetime (old snapshots may still "
                "reference the existing files)"
            )
        df.write.mode("error").parquet(target)
        return unit

    def append(self, df: DataFrame, unit_name: str) -> int:
        """Write ``df`` as a new add-unit and commit it. The recorded
        schema is the PHYSICAL one (post column-mapping translation) —
        the schema the files actually carry. Constraint validation
        happens inside ``_write_unit`` (before any file is written)."""
        schema_ddl = self._to_physical(df).schema.simpleString()
        unit = self._write_unit(df, unit_name)  # validates + translates
        return self.commit(adds=[unit], removes=[], schema_ddl=schema_ddl)

    def remove_units(self, units: list[str]) -> int:
        """Logically delete add-units (files stay for old snapshots)."""
        return self.commit(adds=[], removes=list(units))

    def compact(self, unit_name: str) -> int:
        """Rewrite the current snapshot into one unit, retiring the rest."""
        snap = self.snapshot()
        df = self.read()
        unit = self._write_unit(df, unit_name)
        return self.commit(adds=[unit], removes=list(snap.add_units))

    def _unit_path(self, unit: str) -> str:
        """Relative units live under this table's root; absolute units
        (leading '/' or a scheme) are EXTERNAL references — the shallow-
        clone mechanism (see :func:`clone_shallow`): a clone's commit
        points at the source's files without copying a byte, exactly
        Delta's CLONE. ``vacuum`` only ever scans this table's own
        ``data/`` listing, so external refs are never deleted by the
        clone's vacuum."""
        if unit.startswith("/") or "://" in unit:
            return unit
        return f"{self.root}/{unit}"

    def _dv_path(self, dv: str) -> str:
        """DV files follow the same relative/external convention as data
        units (a shallow clone carries its source's DVs as absolute
        paths)."""
        if dv.startswith("/") or "://" in dv:
            return dv
        return f"{self.root}/{dv}"

    def _read_units(
        self, units: tuple[str, ...] | list[str], dvs: dict[str, str]
    ) -> DataFrame | None:
        """Scan ``units`` (physical schema), subtracting each unit's
        deletion vector. The common no-DV case stays ONE multi-path
        parquet scan; only DV-carrying snapshots pay the per-unit
        anti-join (build side = the DV, small by construction)."""
        from pyspark.sql import functions as F

        if not units:
            return None
        if not any(u in dvs for u in units):
            return self.spark.read.parquet(
                *[self._unit_path(u) for u in units]
            )
        parts = []
        for u in units:
            df = self.spark.read.parquet(self._unit_path(u))
            if u in dvs:
                pos = self.spark.read.parquet(self._dv_path(dvs[u]))
                df = (
                    df.withColumn("__pos", F.col("_metadata.row_index"))
                    .join(
                        F.broadcast(pos),
                        F.col("__pos") == pos["pos"],
                        "left_anti",
                    )
                    .drop("__pos")
                )
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _to_logical(self, df: DataFrame, snap: Snapshot) -> DataFrame:
        """Physical file schema → the logical names AS OF ``snap``
        (time travel before a rename still shows the old name)."""
        m = dict(snap.column_mapping)
        if m and any(k != v for k, v in m.items()):
            from pyspark.sql import functions as F

            inv = {p: lg for lg, p in m.items()}
            df = df.select(
                [F.col(c).alias(inv.get(c, c)) for c in df.columns]
            )
        return df

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read: deletion vectors applied, logical column
        names as of the version. Declaring 'deletion-vectors' in
        SUPPORTED_FEATURES is only honest because THIS default path
        subtracts them — a reader that ignored DVs would silently
        resurrect deleted rows."""
        snap = self.snapshot(version)
        dvs = _unit_dvs(self, snap.version)
        df = self._read_units(snap.add_units, dvs)
        if df is None:
            if snap.schema_ddl:
                df = self.spark.createDataFrame([], snap.schema_ddl)
            else:
                raise ValueError("empty table with no recorded schema")
        return self._to_logical(df, snap)

    def vacuum(self) -> list[str]:
        """Physically delete data units not visible in the LATEST
        snapshot. Breaks time travel to versions that referenced them
        (retention policy is the caller's contract, as in any
        lakehouse)."""
        live = set(self.snapshot().add_units)
        fs, jdata = _fs_and_path(self.spark, f"{self.root}/data")
        removed = []
        if fs.exists(jdata):
            for st in fs.listStatus(jdata):
                unit = f"data/{st.getPath().getName()}"
                if unit not in live:
                    fs_delete(self.spark, f"{self.root}/{unit}")
                    removed.append(unit)
        return removed


def merge_upsert(
    tx: TxLog,
    updates: DataFrame,
    key: str,
    unit_name: str,
) -> int:
    """MERGE INTO the latest snapshot: rows in ``updates`` replace
    same-key rows, new keys append (matched-update + not-matched-insert
    semantics). Implemented as copy-on-write over the WHOLE snapshot
    (anti-join out the matched keys, union the updates, one commit
    swapping every old unit for the rewritten one) — the simplest
    correct form. A file-pruned merge (rewrite only units whose key
    range intersects the updates, via per-unit min/max stats) is the
    production refinement; the commit protocol is identical, so it
    slots in without touching callers."""
    from pyspark.sql import functions as F

    snap = tx.snapshot()
    # tx.read() applies deletion vectors, so the rewrite MATERIALIZES
    # the deletes (rows a DV hides never reach the new unit); removing
    # every old unit retires their DVs with them (mapping keyed by unit)
    current = tx.read()
    upd_keys = updates.select(F.col(key).alias("__upd_key"))
    merged = current.join(
        upd_keys, current[key] == F.col("__upd_key"), "left_anti"
    ).unionByName(updates)
    unit = tx._write_unit(merged, unit_name)
    return tx.commit(adds=[unit], removes=list(snap.add_units))


# -- metadata stats & file skipping ------------------------------------


def append_with_stats(
    tx: TxLog, df: DataFrame, unit_name: str, stats_key: str
) -> int:
    """Append like :meth:`TxLog.append`, also recording the unit's
    [min, max] of ``stats_key`` in the commit metadata — the
    data-skipping statistic that lets readers and merges prune whole
    units without opening a single parquet footer."""
    from pyspark.sql import functions as F

    unit = tx._write_unit(df, unit_name)  # validates + translates
    row = df.agg(
        F.min(stats_key).alias("lo"), F.max(stats_key).alias("hi")
    ).collect()[0]
    return tx.commit(
        adds=[unit],
        removes=[],
        schema_ddl=tx._to_physical(df).schema.simpleString(),
        tag="s",
        extra={
            "stats": {unit: {"key": stats_key, "lo": row["lo"], "hi": row["hi"]}}
        },
    )


def append_partitioned_with_stats(
    tx: TxLog,
    df: DataFrame,
    part_col: str,
    unit_prefix: str,
    stats_key: str | None = None,
) -> int:
    """ONE distributed ``partitionBy`` write producing MANY flat data
    units, ONE grouped stats aggregate, ONE atomic commit — the
    multi-add-file commit shape of a real lakehouse writer (a Delta
    commit routinely carries thousands of add-files with per-file
    stats). Compare N sequential :func:`append_with_stats` calls: 2N
    Spark jobs and N commits for the same result.

    Mechanics: the write lands in a staging dir partitioned by a copy
    column (so ``part_col`` itself stays IN the data files), each
    ``_pk=<v>`` leaf is renamed to the flat ``data/<prefix><v>`` unit
    the log's vacuum/naming contract expects (renames are metadata ops
    on hdfs://; on object stores a real writer would emit final names
    directly), and the commit records each unit's [min,max] of
    ``stats_key`` (default: the partition column, whose per-unit
    min=max=value makes partition pruning a stats-pruning special
    case). Partition values must render cleanly in paths (ints /
    simple strings)."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    stats_key = stats_key or part_col
    # same gates as the single-unit path (_write_unit): reject
    # constraint violations before any file lands, and translate
    # logical→physical names so every data file carries the one
    # physical schema regardless of renames (a partitionBy write of
    # logical-named files would mix schemas across units).
    tx._validate_constraints(df)
    phys = tx._to_physical(df)
    part_phys = dict(tx.snapshot().column_mapping).get(part_col, part_col)
    staging = f"{tx.root}/.staging-{_uuid.uuid4().hex[:12]}"
    phys.withColumn("_pk", F.col(part_phys)).write.partitionBy("_pk").mode(
        "error"
    ).parquet(staging)
    stat_rows = (
        df.groupBy(part_col)
        .agg(F.min(stats_key).alias("lo"), F.max(stats_key).alias("hi"))
        .collect()
    )
    fs, jdata = _fs_and_path(tx.spark, f"{tx.root}/data")
    if not fs.exists(jdata):
        fs.mkdirs(jdata)
    adds: list[str] = []
    stats: dict[str, dict] = {}
    try:
        for r in stat_rows:
            v = r[part_col]
            unit = f"data/{unit_prefix}{v}"
            if not fs_rename(
                tx.spark, f"{staging}/_pk={v}", f"{tx.root}/{unit}"
            ):
                raise ValueError(
                    f"unit path exists or staging leaf missing: {unit!r}"
                )
            adds.append(unit)
            stats[unit] = {"key": stats_key, "lo": r["lo"], "hi": r["hi"]}
    finally:
        fs_delete(tx.spark, staging)
    return tx.commit(
        adds=adds,
        removes=[],
        schema_ddl=phys.schema.simpleString(),
        tag="s",
        extra={"stats": stats},
    )


def _unit_stats(tx: TxLog) -> dict[str, dict]:
    stats: dict[str, dict] = {}
    for c in tx._list_commits():
        stats.update(c.get("stats", {}))
    return stats


def read_pruned(tx: TxLog, lo, hi) -> DataFrame:
    """Read only units whose recorded [min,max] intersects [lo,hi].
    Units without stats are conservatively kept. The caller still
    applies the row-level filter; pruning only avoids opening files.
    Deletion vectors and column mapping apply exactly as in
    :meth:`TxLog.read` — pruning must never change visible rows."""
    snap = tx.snapshot()
    stats = _unit_stats(tx)
    keep = [
        u
        for u in snap.add_units
        if u not in stats
        or (stats[u]["lo"] is not None
            and not (stats[u]["hi"] < lo or stats[u]["lo"] > hi))
    ]
    df = tx._read_units(keep, _unit_dvs(tx, snap.version))
    if df is None:
        # fully-pruned: still route through _to_logical so a
        # column-mapped (renamed) table exposes LOGICAL names on the
        # empty frame, exactly as TxLog.read does
        df = tx.spark.createDataFrame([], snap.schema_ddl)
    return tx._to_logical(df, snap)


def merge_upsert_pruned(
    tx: TxLog, updates: DataFrame, key: str, unit_name: str
) -> int:
    """File-pruned MERGE: only units whose recorded key range
    intersects the updates' key range are rewritten; disjoint units
    stay byte-identical on disk (and in the log). This is the
    production merge shape — cost scales with the TOUCHED data, not
    the table."""
    from pyspark.sql import functions as F

    snap = tx.snapshot()
    stats = _unit_stats(tx)
    row = updates.agg(
        F.min(key).alias("lo"), F.max(key).alias("hi")
    ).collect()[0]
    ulo, uhi = row["lo"], row["hi"]
    if ulo is None:  # empty updates: nothing to touch, nothing to write
        return tx.latest_version()
    touched = [
        u
        for u in snap.add_units
        if u not in stats
        or stats[u]["lo"] is None
        or not (stats[u]["hi"] < ulo or stats[u]["lo"] > uhi)
    ]
    # units NOT in `touched` stay in the snapshot simply by not being
    # removed — the commit below removes only the rewritten ones.
    # Touched units scan DV-aware + logical-named (same read semantics
    # as TxLog.read): rewriting them materializes their deletes, and
    # the rewrite retires their DVs (mapping keyed by unit).
    if touched:
        current = tx._to_logical(
            tx._read_units(touched, _unit_dvs(tx, snap.version)), snap
        )
        merged = current.join(
            updates.select(F.col(key).alias("__upd_key")),
            current[key] == F.col("__upd_key"),
            "left_anti",
        ).unionByName(updates)
    else:
        merged = updates
    unit = tx._write_unit(merged, unit_name)
    # recompute stats for the rewritten unit so future merges prune it
    mrow = merged.agg(
        F.min(key).alias("lo"), F.max(key).alias("hi")
    ).collect()[0]
    return tx.commit(
        adds=[unit],
        removes=touched,
        schema_ddl=merged.schema.simpleString(),
        tag="m",
        extra={"stats": {unit: {"key": key, "lo": mrow["lo"], "hi": mrow["hi"]}}},
    )


def add_deletion_vector(
    tx: TxLog, unit: str, positions: DataFrame, dv_name: str
) -> int:
    """Soft-delete ROWS of a live unit without rewriting it: record a
    deletion vector — a parquet of 0-based row positions within the
    unit — and attach it to the unit in the commit metadata. This is
    the Delta Lake deletion-vectors / Iceberg position-deletes shape:
    a delete of k rows from a multi-GB unit costs O(k) bytes, not a
    unit rewrite; readers subtract positions at scan time.

    ``positions`` must have a single long column ``pos``. A later DV
    for the same unit REPLACES the earlier one (callers union the old
    positions in if they want cumulative deletes, as Delta does when
    it coalesces DVs). Removing or rewriting the unit retires the DV
    with it (the mapping is keyed by unit)."""
    snap = tx.snapshot()
    if unit not in snap.add_units:
        raise ValueError(f"unit not live: {unit!r}")
    dv_path = f"dv/{dv_name}"
    target = f"{tx.root}/{dv_path}"
    fs, jpath = _fs_and_path(tx.spark, target)
    if fs.exists(jpath):
        raise ValueError(f"dv path already exists: {dv_path!r}")
    positions.select(positions["pos"].cast("long").alias("pos")).write.mode(
        "error"
    ).parquet(target)
    return tx.commit(
        adds=[],
        removes=[],
        tag="d",
        extra={"dv": {unit: dv_path}, "features": ["deletion-vectors"]},
    )


def _unit_dvs(tx: TxLog, version: int | None = None) -> dict[str, str]:
    """unit -> latest deletion-vector path at ``version`` (log order)."""
    dvs: dict[str, str] = {}
    for c in tx._list_commits():
        if version is not None and c["version"] > version:
            break
        for r in c.get("removes", []):
            dvs.pop(r, None)  # retired unit retires its DV
        dvs.update(c.get("dv", {}))
    return dvs


def clone_shallow(src: TxLog, dst_root: str) -> TxLog:
    """Zero-copy shallow clone (Delta's ``CLONE``): the clone's first
    commit references the source's CURRENT live units as EXTERNAL
    (absolute) paths — no data byte is copied, the clone materializes
    in O(metadata). From then on the two logs diverge independently:
    appends/removes on either side never touch the other (the clone's
    removes only edit its own log; its vacuum only scans its own
    ``data/`` dir, so the source's files are safe).

    The clone's first commit carries the source snapshot's FULL
    metadata, exactly as Delta CLONE carries protocol + metadata:
    per-unit stats (stats-pruned reads keep working), the
    column_mapping (renamed tables keep presenting logical names),
    CHECK constraints (the clone keeps enforcing them), required
    reader features, and the deletion-vector map with ABSOLUTIZED DV
    paths (cloning a DV-carrying table must not resurrect its deleted
    rows)."""
    snap = src.snapshot()
    stats = _unit_stats(src)
    dvs = _unit_dvs(src, snap.version)
    dst = TxLog(src.spark, dst_root)
    abs_units = [src._unit_path(u) for u in snap.add_units]
    carried = {
        src._unit_path(u): s for u, s in stats.items() if u in snap.add_units
    }
    carried_dvs = {
        src._unit_path(u): src._dv_path(p)
        for u, p in dvs.items()
        if u in snap.add_units
    }
    extra: dict = {
        "cloned_from": src.root,
        "src_version": snap.version,
        "stats": carried,
        "constraints": dict(snap.constraints),
        "features": list(snap.features),
    }
    if snap.column_mapping:
        extra["column_mapping"] = dict(snap.column_mapping)
    if carried_dvs:
        extra["dv"] = carried_dvs
    dst.commit(
        adds=abs_units,
        removes=[],
        schema_ddl=snap.schema_ddl,
        tag="clone",
        extra=extra,
    )
    return dst


def flush_deletion_vectors(tx: TxLog, suffix: str = "flush") -> int:
    """MERGE-ON-READ -> COPY-ON-WRITE compaction: rewrite every unit
    that carries a deletion vector WITHOUT its deleted rows, and retire
    the originals (their DVs retire with them, since the mapping is
    keyed by unit) in ONE atomic commit. This is Delta's `REORG TABLE
    ... APPLY (PURGE)` / Iceberg's rewrite of position-delete files:
    reads before the flush pay the scan-side anti-join; reads after it
    are plain scans. Old snapshots still resolve the original units +
    DVs (nothing is physically deleted until vacuum). Cost is O(data
    in DV-carrying units) — untouched units are not rewritten."""
    snap = tx.snapshot()
    dvs = _unit_dvs(tx, snap.version)
    carrying = [u for u in snap.add_units if u in dvs]
    if not carrying:
        return snap.version
    adds, removes = [], []
    for u in carrying:
        # logical-named DV-subtracted scan, so _write_unit's constraint
        # check resolves logical predicates and its physical translation
        # applies exactly once (an external clone unit still flushes —
        # the rewritten unit lands in the CLONE's own data dir)
        clean = tx._to_logical(tx._read_units([u], dvs), snap)
        base = u.rstrip("/").rsplit("/", 1)[-1]
        adds.append(tx._write_unit(clean, f"{base}-{suffix}"))
        removes.append(u)
    return tx.commit(adds=adds, removes=removes, tag="flush")
