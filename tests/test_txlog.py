"""Transaction-log guarantees: atomic commits, optimistic concurrency,
snapshot isolation / time travel, compaction and vacuum
(ingest/txlog.py)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from dmi_ingestor_spark.catalog import table
from dmi_ingestor_spark.ingest.txlog import TxLog, _write_bytes


@pytest.fixture()
def tx(spark, tmp_path):
    return TxLog(spark, str(tmp_path / "tbl"))


def _orders(spark, sf_dir, status):
    return (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == status)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


def test_append_and_time_travel(spark, sf_dir, tx):
    f = _orders(spark, sf_dir, "F")
    o = _orders(spark, sf_dir, "O")
    v0 = tx.append(f, "f-batch")
    v1 = tx.append(o, "o-batch")
    assert (v0, v1) == (0, 1)
    assert tx.read(version=0).count() == f.count()
    assert tx.read(version=1).count() == f.count() + o.count()
    # latest == v1
    assert tx.read().count() == f.count() + o.count()


def test_remove_is_logical_and_time_travel_survives(spark, sf_dir, tx):
    f = _orders(spark, sf_dir, "F")
    o = _orders(spark, sf_dir, "O")
    tx.append(f, "f-batch")
    tx.append(o, "o-batch")
    v2 = tx.remove_units(["data/f-batch"])
    assert tx.read(version=v2).count() == o.count()
    # the removed unit is still visible at older versions
    assert tx.read(version=0).count() == f.count()


def test_snapshot_isolation_reader_unaffected_by_later_commit(
    spark, sf_dir, tx
):
    f = _orders(spark, sf_dir, "F")
    tx.append(f, "f-batch")
    snap_before = tx.snapshot()
    reader = tx.read(version=snap_before.version)
    n_before = reader.count()
    tx.append(_orders(spark, sf_dir, "O"), "o-batch")
    # the pinned-version read resolves the same files, later commits
    # notwithstanding
    assert tx.read(version=snap_before.version).count() == n_before
    assert tx.read().count() > n_before


def test_crashed_staging_file_is_invisible(spark, sf_dir, tx):
    f = _orders(spark, sf_dir, "F")
    tx.append(f, "f-batch")
    # simulate a writer that staged a commit but crashed before the
    # rename: the log replay must never see it
    _write_bytes(
        spark,
        f"{tx.stage_path}/crashed-00000001.json",
        b'{"version": 1, "adds": ["data/ghost"], "removes": []}',
    )
    assert tx.latest_version() == 0
    assert tx.read().count() == f.count()


def test_optimistic_concurrency_retries_to_next_version(spark, sf_dir, tx):
    f = _orders(spark, sf_dir, "F")
    tx.append(f, "f-batch")
    # a rival writer takes version 1 out from under us
    assert tx._try_commit({"adds": [], "removes": []}, 1, tag="rival")
    # our append must detect the lost race and land on version 2
    v = tx.append(_orders(spark, sf_dir, "O"), "o-batch")
    assert v == 2
    assert tx.snapshot().version == 2


def test_compact_preserves_data_and_old_versions(spark, sf_dir, tx):
    f = _orders(spark, sf_dir, "F")
    o = _orders(spark, sf_dir, "O")
    tx.append(f, "f-batch")
    tx.append(o, "o-batch")
    before = tx.read().agg(F.sum("o_orderkey")).collect()[0][0]
    v = tx.compact("compacted")
    snap = tx.snapshot()
    assert snap.add_units == ("data/compacted",)
    assert tx.read().agg(F.sum("o_orderkey")).collect()[0][0] == before
    # pre-compaction version still resolves the original units
    assert tx.read(version=v - 1).count() == tx.read().count()


def test_vacuum_deletes_only_dead_units(spark, sf_dir, tx):
    f = _orders(spark, sf_dir, "F")
    o = _orders(spark, sf_dir, "O")
    tx.append(f, "f-batch")
    tx.append(o, "o-batch")
    tx.compact("compacted")
    n = tx.read().count()
    removed = tx.vacuum()
    assert sorted(removed) == ["data/f-batch", "data/o-batch"]
    # latest snapshot unaffected
    assert tx.read().count() == n


def test_empty_table_read_uses_recorded_schema(spark, sf_dir, tx):
    f = _orders(spark, sf_dir, "F")
    tx.append(f, "f-batch")
    tx.remove_units(["data/f-batch"])
    df = tx.read()
    assert df.count() == 0
    assert df.columns == ["o_orderkey", "o_orderstatus", "o_totalprice"]


def test_merge_upsert_updates_and_inserts(spark, sf_dir, tx):
    from dmi_ingestor_spark.ingest.txlog import merge_upsert

    base = _orders(spark, sf_dir, "F")
    tx.append(base, "base")
    n_base = base.count()
    # updates: 10 existing keys get a new price, 1 brand-new key appears
    existing = base.limit(10).select(
        "o_orderkey",
        F.lit("F").alias("o_orderstatus"),
        F.lit(999999.0).alias("o_totalprice"),
    )
    new_row = spark.createDataFrame(
        [(10_000_000, "F", 1.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    v = merge_upsert(tx, existing.unionByName(new_row), "o_orderkey", "merged")
    got = tx.read()
    assert got.count() == n_base + 1
    assert (
        got.where(F.col("o_totalprice") == 999999.0).count() == 10
    )
    assert got.where(F.col("o_orderkey") == 10_000_000).count() == 1
    # pre-merge snapshot unchanged (time travel across the merge)
    assert tx.read(version=v - 1).count() == n_base


def test_streaming_foreachbatch_commits_exactly_once(spark, sf_dir, tx, tmp_path):
    """Exactly-once streaming sink on the transaction log: each
    micro-batch commits one unit tagged with its batch id; a replayed
    batch (restart re-delivery) sees its unit already committed and
    skips — counts never double."""
    import glob
    import os

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    ev = table(spark, sf_dir, "events").select("event_id", "event_type")

    def stage(df, name):
        tmp = str(tmp_path / ("w_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        os.makedirs(src, exist_ok=True)
        os.rename(part, f"{src}/{name}.parquet")

    def sink(bdf, bid):
        unit = f"batch-{bid}"
        committed = {
            u.split("/", 1)[1] for u in tx.snapshot().add_units
        } if tx.latest_version() >= 0 else set()
        if unit in committed:  # re-delivered batch: idempotent skip
            return
        tx.append(bdf, unit)

    def run_once():
        stream = (
            spark.readStream.schema("event_id long, event_type string")
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    first = ev.filter(F.col("event_id") % 2 == 0)
    stage(first, "a")
    run_once()
    assert tx.read().count() == first.count()

    # replay the SAME sink call (simulated re-delivery after restart):
    # batch 0 is already committed, so nothing doubles
    sink(first, 0)
    assert tx.read().count() == first.count()

    second = ev.filter(F.col("event_id") % 2 == 1)
    stage(second, "b")
    run_once()
    assert tx.read().count() == ev.count()


def test_stats_pruned_read_skips_disjoint_units(spark, sf_dir, tx):
    from dmi_ingestor_spark.ingest.txlog import append_with_stats, read_pruned

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    low = o.where(F.col("o_orderkey") < 500)
    high = o.where(F.col("o_orderkey") >= 500)
    append_with_stats(tx, low, "low", "o_orderkey")
    append_with_stats(tx, high, "high", "o_orderkey")
    pruned = read_pruned(tx, 0, 499)
    # only the 'low' unit's files are opened
    files = {f for f in pruned.inputFiles()}
    assert all("/data/low/" in f for f in files), files
    assert pruned.count() == low.count()


def test_merge_pruned_rewrites_only_touched_units(spark, sf_dir, tx):
    from dmi_ingestor_spark.ingest.txlog import (
        append_with_stats,
        merge_upsert_pruned,
    )

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    low = o.where(F.col("o_orderkey") < 500)
    high = o.where(F.col("o_orderkey") >= 500)
    append_with_stats(tx, low, "low", "o_orderkey")
    append_with_stats(tx, high, "high", "o_orderkey")
    n_total = low.count() + high.count()
    # updates touch only the high range
    updates = high.limit(5).select(
        "o_orderkey", F.lit(123456.0).alias("o_totalprice")
    )
    merge_upsert_pruned(tx, updates, "o_orderkey", "high-rewrite")
    snap = tx.snapshot()
    # the low unit SURVIVES untouched; high was swapped for the rewrite
    assert "data/low" in snap.add_units
    assert "data/high" not in snap.add_units
    assert "data/high-rewrite" in snap.add_units
    got = tx.read()
    assert got.count() == n_total
    assert got.where(F.col("o_totalprice") == 123456.0).count() == 5


def test_checkpointed_replay_equals_full_replay(spark, tx):
    from dmi_ingestor_spark.ingest.txlog import CHECKPOINT_EVERY

    # enough commits to cross a checkpoint boundary
    for i in range(CHECKPOINT_EVERY + 3):
        tx.append(spark.range(i + 1).toDF("id"), f"u{i}")
    ck = tx._latest_checkpoint()
    assert ck is not None and ck["version"] == CHECKPOINT_EVERY
    # fast path == full replay at latest AND at historical versions
    for v in (None, CHECKPOINT_EVERY - 1, CHECKPOINT_EVERY + 2):
        full = tx.snapshot(v)
        fast = tx.snapshot_fast(v)
        assert full == fast, (v, full, fast)
    # and the data reads the same
    assert tx.read().count() == sum(
        i + 1 for i in range(CHECKPOINT_EVERY + 3)
    )


# -- round-3 hardening (ADVICE r2): atomic publish, lost-update abort,
# -- strict version lookup, unit-name reuse guard


def test_publish_loser_cannot_overwrite_winner(spark, sf_dir, tx):
    """Two writers racing the same version slot: exactly one rename
    wins, and the loser's attempt leaves the winner's commit file
    byte-identical (POSIX rename(2) would silently replace it)."""
    tx.append(_orders(spark, sf_dir, "F"), "f-batch")
    assert tx._try_commit({"adds": ["data/winner"], "removes": []}, 1, tag="w")
    winner_before = tx._read_json(
        __import__("dmi_ingestor_spark.ingest.fs", fromlist=["_fs_and_path"])
        ._fs_and_path(spark, tx._commit_file(1))[1]
    )
    assert not tx._try_commit(
        {"adds": ["data/loser"], "removes": []}, 1, tag="l"
    )
    winner_after = tx._read_json(
        __import__("dmi_ingestor_spark.ingest.fs", fromlist=["_fs_and_path"])
        ._fs_and_path(spark, tx._commit_file(1))[1]
    )
    assert winner_after == winner_before
    assert winner_after["adds"] == ["data/winner"]


def test_concurrent_remove_conflict_raises(spark, sf_dir, tx):
    """A commit whose removes were already retired by a rival must
    abort with ConcurrentModificationError, not resurrect dead units
    or silently no-op the rival's work (the classic lost update)."""
    from dmi_ingestor_spark.ingest.txlog import ConcurrentModificationError

    tx.append(_orders(spark, sf_dir, "F"), "f-batch")
    tx.append(_orders(spark, sf_dir, "O"), "o-batch")
    stale = tx.snapshot()  # both units live
    tx.compact("rival-compact")  # rival retires them first
    with pytest.raises(ConcurrentModificationError):
        tx.commit(adds=["data/mine"], removes=list(stale.add_units))


def test_snapshot_fast_rejects_missing_version(spark, tx):
    """snapshot_fast must raise for nonexistent versions exactly like
    snapshot() — not silently resolve the state below them."""
    from dmi_ingestor_spark.ingest.txlog import CHECKPOINT_EVERY

    for i in range(CHECKPOINT_EVERY + 2):
        tx.append(spark.range(i + 1).toDF("id"), f"u{i}")
    with pytest.raises(ValueError):
        tx.snapshot(999)
    with pytest.raises(ValueError):
        tx.snapshot_fast(999)


def test_unit_name_reuse_rejected(spark, sf_dir, tx):
    """Re-using a unit name would overwrite files older snapshots still
    reference; the write must fail up front."""
    tx.append(_orders(spark, sf_dir, "F"), "batch")
    with pytest.raises(ValueError, match="already exists"):
        tx.append(_orders(spark, sf_dir, "O"), "batch")


def test_deletion_vector_applies_and_time_travels(spark, sf_dir, tx):
    from pyspark.sql import Window

    from dmi_ingestor_spark.ingest.txlog import add_deletion_vector

    o = _orders(spark, sf_dir, "F").select("o_orderkey")
    base = o.repartition(1).sortWithinPartitions("o_orderkey")
    v0 = tx.append(base, "base")
    keys = sorted(r[0] for r in o.collect())
    drop = {k for k in keys if k % 3 == 0}
    pos = spark.createDataFrame(
        [(i,) for i, k in enumerate(keys) if k in drop], "pos long"
    )
    add_deletion_vector(tx, "data/base", pos, "dv0")
    # post-DV read excludes exactly the marked positions
    got = sorted(r[0] for r in tx.read().collect())
    assert got == [k for k in keys if k not in drop]
    # pre-DV version still reads everything (DV is version-scoped)
    assert sorted(r[0] for r in tx.read(version=v0).collect()) == keys


def test_deletion_vector_retired_with_unit(spark, sf_dir, tx):
    from dmi_ingestor_spark.ingest.txlog import add_deletion_vector

    o = _orders(spark, sf_dir, "F").select("o_orderkey").limit(10)
    tx.append(o.repartition(1).sortWithinPartitions("o_orderkey"), "u1")
    add_deletion_vector(
        tx, "data/u1", spark.createDataFrame([(0,)], "pos long"), "dv1"
    )
    n_with_dv = tx.read().count()
    assert n_with_dv == o.count() - 1
    # compacting rewrites the snapshot DV-subtracted: the delete is
    # MATERIALIZED (the hidden row never reaches the new unit), and the
    # retired unit retires its DV with it — so the count must stay 9,
    # never bounce back to 10 (that would resurrect the deleted row,
    # the exact wrong-results failure the feature gate exists to stop)
    tx.compact("u2")
    assert tx.read().count() == n_with_dv
    # and the new unit carries no DV of its own
    from dmi_ingestor_spark.ingest.txlog import _unit_dvs

    assert "data/u2" not in _unit_dvs(tx)


def test_deletion_vector_requires_live_unit(spark, sf_dir, tx):
    from dmi_ingestor_spark.ingest.txlog import add_deletion_vector

    o = _orders(spark, sf_dir, "F").select("o_orderkey").limit(5)
    tx.append(o, "u1")
    with pytest.raises(ValueError, match="not live"):
        add_deletion_vector(
            tx, "data/nope", spark.createDataFrame([(0,)], "pos long"), "dvx"
        )


def test_append_partitioned_with_stats_multi_unit_commit(spark, sf_dir, tx):
    from dmi_ingestor_spark.ingest.txlog import (
        append_partitioned_with_stats,
        read_pruned,
    )

    e = table(spark, sf_dir, "events").select(
        F.dayofmonth("ts").cast("long").alias("day"), "event_id"
    )
    sub = e.where(F.col("day").between(1, 4))
    v0 = tx.latest_version()
    v1 = append_partitioned_with_stats(tx, sub, "day", "day-")
    # ONE commit, MANY flat units
    assert v1 == v0 + 1
    snap = tx.snapshot()
    assert set(snap.add_units) == {f"data/day-{d}" for d in range(1, 5)}
    # data roundtrips, partition column retained in the files
    got = tx.read()
    assert got.count() == sub.count()
    assert set(got.columns) == {"day", "event_id"}
    # per-unit stats recorded -> stats pruning opens only day-2 files
    pruned = read_pruned(tx, 2, 2)
    assert all("/data/day-2/" in f for f in pruned.inputFiles())
    # staging dir cleaned up
    import os

    assert not [p for p in os.listdir(tx.root) if p.startswith(".staging-")]
    # unit-name collision on a second partitioned append is rejected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unit path exists"):
        append_partitioned_with_stats(tx, sub, "day", "day-")


def test_clone_shallow_zero_copy_and_divergence(spark, sf_dir, tx, tmp_path):
    from dmi_ingestor_spark.ingest.txlog import clone_shallow

    o = _orders(spark, sf_dir, "O")
    f = _orders(spark, sf_dir, "F")
    tx.append(o, "o")
    tx.append(f, "f")
    n_src = tx.read().count()

    clone = clone_shallow(tx, str(tmp_path / "clone"))
    v_at_clone = clone.latest_version()
    # clone reads the source's files — zero copy: its data/ dir is empty
    import os

    assert not os.path.exists(str(tmp_path / "clone" / "data"))
    assert clone.read().count() == n_src
    # stats carried: pruning works through absolute unit refs
    # divergence: source appends, clone removes — neither sees the other
    tx.append(_orders(spark, sf_dir, "P"), "p")
    abs_f = tx._unit_path("data/f")
    clone.remove_units([abs_f])
    assert tx.read().count() > n_src
    assert clone.read().count() == o.count()
    # clone time travel still sees the at-clone state
    assert clone.read(version=v_at_clone).count() == n_src
    # clone vacuum never deletes the source's files
    removed = clone.vacuum()
    assert removed == []
    assert tx.read().count() > n_src


def test_rename_column_is_metadata_only(spark, sf_dir, tx):
    """Column-mapping rename: no data file moves, latest read shows the
    new name, time travel before the rename shows the old one."""
    f = _orders(spark, sf_dir, "F")
    tx.append(f, "f-batch")
    units_before = tx.snapshot().add_units
    v = tx.rename_column("o_totalprice", "order_value")
    # metadata-only: the live unit set is byte-identical
    assert tx.snapshot().add_units == units_before
    assert tx.read().columns == ["o_orderkey", "o_orderstatus", "order_value"]
    # time travel: the pre-rename snapshot replays the old logical name
    assert "o_totalprice" in tx.read(version=v - 1).columns
    # values unchanged
    got = tx.read().agg(F.sum("order_value")).first()[0]
    want = f.agg(F.sum("o_totalprice")).first()[0]
    assert got == want


def test_append_after_rename_translates_to_physical(spark, sf_dir, tx):
    """New appends use the LOGICAL name; files carry the physical name,
    so every unit in the table keeps one consistent parquet schema."""
    f = _orders(spark, sf_dir, "F")
    o = _orders(spark, sf_dir, "O")
    tx.append(f, "f-batch")
    tx.rename_column("o_totalprice", "order_value")
    tx.append(o.withColumnRenamed("o_totalprice", "order_value"), "o-batch")
    # logical read unions both units under the logical name
    got = tx.read().agg(
        F.count(F.lit(1)), F.sum("order_value")
    ).first()
    both = _orders(spark, sf_dir, "F").unionAll(o)
    want = both.agg(F.count(F.lit(1)), F.sum("o_totalprice")).first()
    assert tuple(got) == tuple(want)
    # the new unit's FILES store the physical name (no mixed schemas)
    raw = spark.read.parquet(f"{tx.root}/data/o-batch")
    assert "o_totalprice" in raw.columns and "order_value" not in raw.columns


def test_rename_column_rejects_unknown_and_duplicate(spark, sf_dir, tx):
    tx.append(_orders(spark, sf_dir, "F"), "f-batch")
    with pytest.raises(ValueError, match="no such column"):
        tx.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        tx.rename_column("o_totalprice", "o_orderkey")


def test_rename_survives_checkpointed_replay(spark, sf_dir, tx):
    """snapshot_fast resolves the mapping through a checkpoint written
    AFTER the rename (checkpoints persist column_mapping)."""
    f = _orders(spark, sf_dir, "F")
    tx.append(f.limit(5), "u0")
    tx.rename_column("o_totalprice", "order_value")
    for i in range(1, 6):  # cross the CHECKPOINT_EVERY=5 boundary
        tx.append(
            f.limit(1).withColumnRenamed("o_totalprice", "order_value"),
            f"u{i}",
        )
    assert tx._latest_checkpoint() is not None
    fast = tx.snapshot_fast()
    full = tx.snapshot()
    assert fast == full
    assert dict(fast.column_mapping)["order_value"] == "o_totalprice"
    assert "order_value" in tx.read().columns


def test_check_constraint_rejects_bad_append_atomically(spark, sf_dir, tx):
    from dmi_ingestor_spark.ingest.txlog import ConstraintViolation

    f = _orders(spark, sf_dir, "F")
    tx.append(f, "base")
    tx.add_constraint("nonneg_price", "o_totalprice >= 0")
    v_before = tx.latest_version()
    n_before = tx.read().count()
    bad = f.limit(20).withColumn(
        "o_totalprice", F.col("o_totalprice") * -1
    )
    with pytest.raises(ConstraintViolation, match="nonneg_price"):
        tx.append(bad, "bad-batch")
    # atomic rejection: no new version, no new rows, no orphan unit
    assert tx.latest_version() == v_before
    assert tx.read().count() == n_before
    fs_root = tx.root + "/data/bad-batch"
    from dmi_ingestor_spark.ingest.fs import _fs_and_path

    fs, jpath = _fs_and_path(spark, fs_root)
    assert not fs.exists(jpath)
    # a conforming batch still lands
    tx.append(f.limit(5), "good-batch")
    assert tx.read().count() == n_before + 5


def test_add_constraint_validates_existing_rows(spark, sf_dir, tx):
    from dmi_ingestor_spark.ingest.txlog import ConstraintViolation

    tx.append(_orders(spark, sf_dir, "F"), "base")
    with pytest.raises(ConstraintViolation, match="existing rows"):
        tx.add_constraint("impossible", "o_totalprice < 0")
    # the failed ADD left no metadata behind
    assert tx.snapshot().constraints == ()


def test_constraint_null_predicate_counts_as_violation(spark, sf_dir, tx):
    from dmi_ingestor_spark.ingest.txlog import ConstraintViolation

    f = _orders(spark, sf_dir, "F")
    tx.append(f, "base")
    tx.add_constraint("status_known", "o_orderstatus IS NOT NULL")
    nulled = f.limit(3).withColumn(
        "o_orderstatus", F.lit(None).cast("string")
    )
    with pytest.raises(ConstraintViolation):
        tx.append(nulled, "null-batch")


def test_drop_constraint_reopens_appends(spark, sf_dir, tx):
    f = _orders(spark, sf_dir, "F")
    tx.append(f, "base")
    tx.add_constraint("nonneg_price", "o_totalprice >= 0")
    tx.drop_constraint("nonneg_price")
    bad = f.limit(2).withColumn("o_totalprice", F.col("o_totalprice") * -1)
    tx.append(bad, "now-ok")  # no constraint left to fail
    assert tx.snapshot().constraints == ()
    # constraints survive checkpointed replay when re-added
    tx.add_constraint("nonneg_key", "o_orderkey >= 0")
    for i in range(5):
        tx.append(f.limit(1), f"u{i}")
    assert tx.snapshot_fast() == tx.snapshot()
    assert dict(tx.snapshot_fast().constraints) == {
        "nonneg_key": "o_orderkey >= 0"
    }


def test_flush_deletion_vectors_mor_to_cow(spark, sf_dir, tx):
    from dmi_ingestor_spark.ingest.txlog import (
        _unit_dvs,
        add_deletion_vector,
        flush_deletion_vectors,
    )

    f = _orders(spark, sf_dir, "F").select("o_orderkey")
    base = f.repartition(1).sortWithinPartitions("o_orderkey")
    tx.append(base, "base")
    tx.append(f.limit(0), "untouched")  # no DV: must NOT be rewritten
    from pyspark.sql import Window

    pos = (
        f.select(
            "o_orderkey",
            (F.row_number().over(Window.orderBy("o_orderkey")) - 1)
            .alias("pos"),
        )
        .filter(F.col("o_orderkey") % 3 == 0)
        .select("pos")
    )
    v_dv = add_deletion_vector(tx, "data/base", pos, "dv0")
    want = sorted(
        r[0] for r in f.filter(F.col("o_orderkey") % 3 != 0).collect()
    )
    v_flush = flush_deletion_vectors(tx)
    assert v_flush == v_dv + 1
    # plain read now equals the MOR state; no live unit carries a DV
    got = sorted(r[0] for r in tx.read().collect())
    assert got == want
    live = set(tx.snapshot().add_units)
    assert not (set(_unit_dvs(tx)) & live)
    # untouched unit survived un-rewritten; base was replaced
    assert "data/untouched" in live and "data/base" not in live
    assert "data/base-flush" in live
    # time travel to the MOR version still applies the DV
    tt = sorted(r[0] for r in tx.read(version=v_dv).collect())
    assert tt == want
    # idempotent: nothing to flush -> no new version
    assert flush_deletion_vectors(tx) == v_flush


def test_feature_gate_refuses_unknown_reader_features(spark, sf_dir, tx):
    import json as _json

    from dmi_ingestor_spark.ingest.txlog import UnsupportedTableFeature

    f = _orders(spark, sf_dir, "F")
    tx.append(f.limit(5), "base")
    # forge a commit from a FUTURE writer that uses a feature this
    # reader does not implement
    v = tx.latest_version() + 1
    _write_bytes(
        spark,
        tx._commit_file(v),
        _json.dumps(
            {"version": v, "adds": [], "removes": [],
             "features": ["v2-row-tracking"]}
        ).encode(),
    )
    with pytest.raises(UnsupportedTableFeature, match="v2-row-tracking"):
        tx.read()
    with pytest.raises(UnsupportedTableFeature):
        tx.snapshot()
    # older snapshots (before the feature commit) remain readable
    assert tx.read(version=0).count() == 5


def test_feature_gate_accepts_supported_features(spark, sf_dir, tx):
    from pyspark.sql import Window

    from dmi_ingestor_spark.ingest.txlog import add_deletion_vector

    f = _orders(spark, sf_dir, "F")
    base = f.select("o_orderkey").repartition(1).sortWithinPartitions(
        "o_orderkey"
    )
    tx.append(base, "base")
    tx.rename_column("o_orderkey", "order_key")
    tx.add_constraint("pos_key", "order_key >= 0")
    pos = spark.range(1).select(F.lit(0).cast("long").alias("pos"))
    add_deletion_vector(tx, "data/base", pos, "dv0")
    snap = tx.snapshot()
    assert set(snap.features) == {
        "column-mapping", "check-constraints", "deletion-vectors"
    }
    # features survive checkpointed replay (appends use LOGICAL names
    # post-rename, and must satisfy the live constraint)
    later = base.limit(0).withColumnRenamed("o_orderkey", "order_key")
    for i in range(5):
        tx.append(later, f"u{i}")
    assert tx.snapshot_fast().features == tx.snapshot().features


# -- ADVICE r5 regression pins: DV-aware default reads, constraint
# -- enforcement on every write path, clone metadata fidelity ----------


def test_merge_upsert_does_not_resurrect_dv_deleted_rows(spark, sf_dir, tx):
    """merge_upsert rewrites the snapshot through tx.read(); a DV-hidden
    row must stay deleted through the rewrite (the ADVICE r5 high #2
    failure was exactly this path materializing deleted rows back)."""
    from dmi_ingestor_spark.ingest.txlog import (
        _unit_dvs,
        add_deletion_vector,
        merge_upsert,
    )

    o = _orders(spark, sf_dir, "F").limit(10)
    tx.append(o.repartition(1).sortWithinPartitions("o_orderkey"), "u1")
    first_key = tx.read().orderBy("o_orderkey").first()["o_orderkey"]
    add_deletion_vector(
        tx, "data/u1", spark.createDataFrame([(0,)], "pos long"), "dv1"
    )
    assert tx.read().count() == 9
    # upsert a brand-new key; the hidden first row must NOT come back
    upd = spark.createDataFrame(
        [(999_999_001, "F", 1.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    merge_upsert(tx, upd, "o_orderkey", "merged")
    got = tx.read()
    assert got.count() == 10  # 9 survivors + 1 insert
    assert got.where(F.col("o_orderkey") == first_key).count() == 0
    assert _unit_dvs(tx) == {}  # rewrite retired the DV


def test_constraints_enforced_on_every_write_path(spark, sf_dir, tx):
    """ADVICE r5 medium #3: stats appends, partitioned appends and
    merges must all reject constraint-violating rows, not just append."""
    from dmi_ingestor_spark.ingest.txlog import (
        ConstraintViolation,
        append_partitioned_with_stats,
        append_with_stats,
        merge_upsert,
        merge_upsert_pruned,
    )

    ok = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
    tx.append(ok, "seed")
    tx.add_constraint("v_positive", "v > 0")
    bad = spark.createDataFrame([(3, -5)], "k int, v int")
    with pytest.raises(ConstraintViolation):
        append_with_stats(tx, bad, "bad-stats", "k")
    with pytest.raises(ConstraintViolation):
        append_partitioned_with_stats(tx, bad, "k", "bad-part-")
    with pytest.raises(ConstraintViolation):
        merge_upsert(tx, bad, "k", "bad-merge")
    with pytest.raises(ConstraintViolation):
        merge_upsert_pruned(tx, bad, "k", "bad-merge-pruned")
    # nothing committed, nothing visible
    assert tx.read().count() == 2
    good = spark.createDataFrame([(3, 5)], "k int, v int")
    append_with_stats(tx, good, "good-stats", "k")
    assert tx.read().count() == 3


def test_clone_carries_dv_constraints_and_mapping(spark, sf_dir, tx, tmp_path):
    """ADVICE r5 high #1: a shallow clone of a DV-carrying, renamed,
    constrained table must hide the deleted rows, keep presenting the
    logical column name, and keep enforcing the constraint."""
    from dmi_ingestor_spark.ingest.txlog import (
        ConstraintViolation,
        add_deletion_vector,
        clone_shallow,
        flush_deletion_vectors,
    )

    df = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 6)], "k int, amount int"
    ).repartition(1).sortWithinPartitions("k")
    tx.append(df, "u1")
    # renaming a constraint-referenced column is refused (predicates
    # store logical names); rename first, then constrain the new name
    tx.add_constraint("amount_positive", "amount > 0")
    with pytest.raises(ValueError, match="referenced by CHECK"):
        tx.rename_column("amount", "value")
    tx.drop_constraint("amount_positive")
    tx.rename_column("amount", "value")
    tx.add_constraint("value_positive", "value > 0")
    add_deletion_vector(
        tx, "data/u1", spark.createDataFrame([(0,)], "pos long"), "dv1"
    )
    assert tx.read().count() == 4

    clone = clone_shallow(tx, str(tmp_path / "clone"))
    got = clone.read()
    assert got.columns == ["k", "value"]  # logical name survives clone
    assert got.count() == 4  # DV applies on the clone too
    assert got.where(F.col("k") == 1).count() == 0
    with pytest.raises(ConstraintViolation):  # constraint survives clone
        clone.append(
            spark.createDataFrame([(9, -1)], "k int, value int"), "bad"
        )
    # flushing the clone's DVs materializes into the CLONE's data dir
    flush_deletion_vectors(clone)
    assert clone.read().count() == 4
    assert tx.read().count() == 4  # source untouched


def test_partitioned_append_writes_physical_names_after_rename(
    spark, sf_dir, tx
):
    """ADVICE r5 medium #4: append_partitioned_with_stats must translate
    logical->physical like every other write path, so units written
    before and after coexist under one physical schema."""
    from dmi_ingestor_spark.ingest.txlog import append_partitioned_with_stats

    df = spark.createDataFrame(
        [(1, 1, 10), (2, 1, 20), (3, 2, 30)], "k int, day int, amount int"
    )
    tx.append(df, "u1")
    tx.rename_column("amount", "value")
    more = spark.createDataFrame(
        [(4, 1, 40), (5, 2, 50)], "k int, day int, value int"
    )
    append_partitioned_with_stats(tx, more, "day", "day-")
    got = tx.read()
    assert sorted(got.columns) == ["day", "k", "value"]
    # all 5 rows resolve the same logical column (no mixed-name units)
    assert got.where(F.col("value").isNotNull()).count() == 5
    # raw unit files carry the PHYSICAL name
    raw = spark.read.parquet(f"{tx.root}/data/day-1")
    assert "amount" in raw.columns and "value" not in raw.columns
