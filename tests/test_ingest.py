"""Pipeline e2e tests (SURVEY.md §5.2.5): fetch→decode→reproject→write→
manifest against a local temp dir standing in for S3, with the
keep-last-good and replace-partition semantics asserted explicitly."""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pytest

from dmi_ingestor_spark.functions.projection import (
    lcc_forward_np,
    lcc_inverse_np,
)
from dmi_ingestor_spark.ingest.pipeline import run_ingest
from dmi_ingestor_spark.sources.cube_format import (
    Cube,
    decode_cube,
    encode_cube,
    synthetic_cube,
)
from dmi_ingestor_spark.sources.http_edr import IngestConfig, build_request_url


# -- codec -------------------------------------------------------------------


def test_cube_codec_roundtrip():
    cube = synthetic_cube("sea-mean-deviation")
    back = decode_cube(encode_cube(cube))
    assert back.parameter == cube.parameter
    assert back.times == cube.times
    assert back.ys == cube.ys and back.xs == cube.xs
    assert np.array_equal(back.values, cube.values)


def test_synthetic_cube_values_equal_cellwise_formula():
    # the vectorized values against the per-cell loop they replaced
    cube = synthetic_cube("p", n_times=3, n_y=5, n_x=7)
    want = np.zeros((3, 5, 7))
    for t in range(3):
        for iy in range(5):
            for ix in range(7):
                want[t, iy, ix] = t * 10_000 + iy * 100 + ix
    assert cube.values.dtype == np.float64
    assert np.array_equal(cube.values, want)


def test_unknown_magic_rejected():
    with pytest.raises(ValueError):
        decode_cube(b"GARBAGE-PAYLOAD")


# -- projection (U1/F7) ------------------------------------------------------


def test_lcc_origin_maps_to_reference_origin():
    lon, lat = lcc_inverse_np(np.array([0.0]), np.array([0.0]))
    # WKT false origin: 55.5N, 8W (ingestor.py:28-64)
    assert math.isclose(lat[0], 55.5, abs_tol=1e-9)
    assert math.isclose(lon[0], -8.0, abs_tol=1e-9)


def test_lcc_roundtrip_property():
    rng = np.random.default_rng(42)
    lon = rng.uniform(-20, 20, 200)
    lat = rng.uniform(45, 65, 200)
    x, y = lcc_forward_np(lon, lat)
    lon2, lat2 = lcc_inverse_np(x, y)
    assert np.allclose(lon, lon2, atol=1e-9)
    assert np.allclose(lat, lat2, atol=1e-9)


def test_lcc_northward_is_larger_y():
    # sanity against the DMI grid orientation: north = +y, east = +x
    x0, y0 = lcc_forward_np(np.array([-8.0]), np.array([56.0]))
    assert y0[0] > 0
    x1, y1 = lcc_forward_np(np.array([-7.0]), np.array([55.5]))
    assert x1[0] > 0


# -- URL construction (S1) ---------------------------------------------------


def test_request_url_mirrors_reference():
    cfg = IngestConfig(
        collection="dkss_if", parameters=("sea-mean-deviation",), api_key="KEY"
    )
    url = build_request_url(cfg, "sea-mean-deviation")
    assert url.startswith(
        "https://dmigw.govcloud.dk/v1/forecastedr/collections/dkss_if/cube?"
    )
    assert "api-key=KEY" in url
    assert "crs=crs84" in url  # non-harmonie → crs84 (ingestor.py:170-173)
    assert "parameter-name=sea-mean-deviation" in url
    assert "f=NetCDF" in url
    harm = IngestConfig(collection="harmonie_dini_sf")
    assert "crs=native" in build_request_url(harm, "t2m")


# -- pipeline e2e ------------------------------------------------------------


@pytest.fixture()
def out_dir(tmp_path):
    return str(tmp_path / "bucket")


def _make_transport_ok():
    # defined as a closure so cloudpickle ships it by value to executors
    # (a test-module-level function is not importable on workers)
    def transport(url: str) -> bytes:
        parameter = url.split("parameter-name=")[1].split("&")[0]
        return encode_cube(synthetic_cube(parameter, lambert="harmonie" in url))

    return transport


def test_e2e_layout_and_manifest(spark, out_dir):
    cfg = IngestConfig(collection="dkss_if", parameters=("sea-mean-deviation",))
    res = run_ingest(spark, cfg, out_dir, _make_transport_ok())
    assert res.failed_parameters == []
    assert res.n_rows == 4 * 8 * 8
    assert res.n_partitions_written == 4  # one per timestep (S5 analogue)

    # partition layout mirrors {collection}/{parameter}/{time} (ingestor.py:159-161)
    part_dir = os.path.join(
        out_dir, "grid", "collection=dkss_if", "parameter=sea-mean-deviation"
    )
    times = sorted(p.split("=")[1] for p in os.listdir(part_dir) if "=" in p)
    assert len(times) == 4 and all(len(t) == 15 and t[8] == "T" for t in times)

    # manifest maps every time_str to exactly one URL (ingestor.py:219-227)
    with open(res.manifest_paths[0]) as fh:
        manifest = json.load(fh)
    assert sorted(manifest) == times
    for t, url in manifest.items():
        assert url == f"https://bucket.example/dkss_if/sea-mean-deviation/{t}.tif"


def test_e2e_reprojection_adds_sane_lonlat(spark, out_dir):
    cfg = IngestConfig(collection="harmonie_dini_sf", parameters=("t2m",))
    run_ingest(spark, cfg, out_dir, _make_transport_ok())
    import pyspark.sql.functions as F

    grid = spark.read.parquet(os.path.join(out_dir, "grid"))
    row = grid.agg(
        F.min("lon"), F.max("lon"), F.min("lat"), F.max("lat")
    ).collect()[0]
    # the synthetic lambert grid sits a few hundred km east of the
    # projection origin (8W 55.5N) → lon ≈ -4..-1, lat ≈ 55..57
    assert -6 < row[0] < row[1] < 0
    assert 54 < row[2] < row[3] < 58


def test_e2e_keep_last_good(spark, out_dir):
    """A failed fetch must leave the previous forecast intact
    (ingestor.py:192-199) while successful parameters are replaced."""
    cfg = IngestConfig(collection="dkss_if", parameters=("p-ok", "p-flaky"))
    res1 = run_ingest(spark, cfg, out_dir, _make_transport_ok())
    assert res1.failed_parameters == []

    def transport_flaky(url: str) -> bytes:
        if "p-flaky" in url:
            raise RuntimeError("HTTP 500 from upstream")
        # new forecast run: shifted time axis, different values
        parameter = url.split("parameter-name=")[1].split("&")[0]
        cube = synthetic_cube(parameter, t0=1_767_312_000)  # +1 day
        cube.values = cube.values + 1.0
        return encode_cube(cube)

    res2 = run_ingest(spark, cfg, out_dir, transport_flaky)
    assert res2.failed_parameters == ["p-flaky"]

    import pyspark.sql.functions as F

    grid = spark.read.parquet(os.path.join(out_dir, "grid"))
    ok_times = [
        r.time_str
        for r in grid.filter(F.col("parameter") == "p-ok")
        .select("time_str")
        .distinct()
        .collect()
    ]
    flaky_times = [
        r.time_str
        for r in grid.filter(F.col("parameter") == "p-flaky")
        .select("time_str")
        .distinct()
        .collect()
    ]
    # p-ok was replaced by the new run (Jan 2); p-flaky kept the old (Jan 1)
    assert all(t.startswith("20260102") for t in ok_times)
    assert all(t.startswith("20260101") for t in flaky_times)
    # and the new manifest only covers the successfully refreshed parameter
    assert res2.manifest_paths and all("p-ok" in p for p in res2.manifest_paths)


def test_e2e_failed_fetch_never_writes_partial(spark, out_dir):
    cfg = IngestConfig(collection="dkss_if", parameters=("gone",))

    def transport_down(url: str) -> bytes:
        raise RuntimeError("connection refused")

    res = run_ingest(spark, cfg, out_dir, transport_down)
    assert res.failed_parameters == ["gone"]
    assert res.n_rows == 0 and res.manifest_paths == []


def test_e2e_decode_failure_keeps_previous_forecast(spark, out_dir):
    """Write-before-delete + decode quarantine: the reference deletes
    the old forecast BEFORE uploading (ingestor.py:199), so a decode
    crash mid-run loses data. Here a corrupt payload QUARANTINES its
    parameter (failed_parameters, round-3 behavior: decode validation
    runs before anything destructive) and the previous forecast stays
    fully readable — no exception, no data loss."""
    cfg = IngestConfig(collection="dkss_if", parameters=("p-ok",))
    res1 = run_ingest(spark, cfg, out_dir, _make_transport_ok())
    assert res1.n_rows > 0

    def transport_corrupt(url: str) -> bytes:
        return b"not-a-cube-payload"  # fetch "succeeds", decode fails

    res2 = run_ingest(spark, cfg, out_dir, transport_corrupt)
    assert res2.failed_parameters == ["p-ok"]
    assert res2.n_partitions_written == 0

    import pyspark.sql.functions as F

    grid = spark.read.parquet(os.path.join(out_dir, "grid"))
    n_after = grid.filter(F.col("parameter") == "p-ok").count()
    assert n_after == res1.n_rows  # old forecast intact, byte for byte


def _make_transport_next(fail: dict[str, str] | None = None):
    """The next forecast run (+1 day, values +1) with per-parameter
    failures: ``"down"`` raises in the fetch, ``"corrupt"`` returns bytes
    that do not decode."""
    fail = fail or {}

    def transport(url: str) -> bytes:
        parameter = url.split("parameter-name=")[1].split("&")[0]
        if fail.get(parameter) == "down":
            raise RuntimeError("HTTP 500 from upstream")
        if fail.get(parameter) == "corrupt":
            return b"not-a-cube-payload"
        cube = synthetic_cube(parameter, t0=1_767_312_000)
        cube.values = cube.values + 1.0
        return encode_cube(cube)

    return transport


def _tree(root: str) -> dict[str, bytes]:
    """Every file under ``root`` (relative path → bytes)."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def test_run_ingest_leaves_session_overwrite_mode(spark, out_dir):
    """Dynamic overwrite is a writer option, not a session config the
    caller's later queries inherit."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    cfg = IngestConfig(collection="dkss_if", parameters=("p-a",))
    run_ingest(spark, cfg, out_dir, _make_transport_ok())
    assert spark.conf.get(key) == "static"


def test_all_failed_run_counts_only_this_run(spark, out_dir):
    cfg = IngestConfig(collection="dkss_if", parameters=("p-a", "p-b"))
    assert run_ingest(spark, cfg, out_dir, _make_transport_ok()).n_rows == 512
    res = run_ingest(
        spark, cfg, out_dir, _make_transport_next({"p-a": "down", "p-b": "down"})
    )
    assert res.n_rows == 0 and res.n_partitions_written == 0
    assert res.failed_parameters == ["p-a", "p-b"]
    assert res.manifest_paths == []


def test_mixed_fetch_and_decode_failures_keep_last_good(spark, out_dir):
    """One run with a decode failure, a good parameter and a fetch
    failure: the failures are listed in config order, their previous
    forecasts (leaves and manifests) survive byte for byte, and only the
    good parameter is replaced and gets a new manifest."""
    cfg = IngestConfig(
        collection="dkss_if", parameters=("p-corrupt", "p-ok", "p-down")
    )
    run_ingest(spark, cfg, out_dir, _make_transport_ok())
    grid = os.path.join(out_dir, "grid", "collection=dkss_if")
    manifests = os.path.join(out_dir, "manifests", "dkss_if")
    before = {
        p: (_tree(f"{grid}/parameter={p}"), _tree(f"{manifests}/{p}"))
        for p in ("p-corrupt", "p-down")
    }

    res = run_ingest(
        spark,
        cfg,
        out_dir,
        _make_transport_next({"p-corrupt": "corrupt", "p-down": "down"}),
    )
    assert res.failed_parameters == ["p-corrupt", "p-down"]
    for p, (leaves, manifest) in before.items():
        assert _tree(f"{grid}/parameter={p}") == leaves
        assert _tree(f"{manifests}/{p}") == manifest
    ok_leaves = sorted(os.listdir(f"{grid}/parameter=p-ok"))
    assert len(ok_leaves) == 4
    assert all(t.startswith("time_str=20260102") for t in ok_leaves)
    assert res.n_rows == 4 * 8 * 8 and res.n_partitions_written == 4
    assert res.manifest_paths == [f"{manifests}/p-ok/forecasts.json"]
    with open(res.manifest_paths[0]) as fh:
        assert sorted(f"time_str={t}" for t in json.load(fh)) == ok_leaves


def _executed_node_names(spark, action) -> list[str]:
    """Node names of the executed plans of every SQL execution ``action()``
    starts, read from the SQL status store after the run (AQE's final
    plans)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def items(seq) -> list:  # a Scala Seq through py4j
        return [seq.apply(i) for i in range(seq.size())]

    def execution_ids() -> set[int]:
        return {e.executionId() for e in items(store.executionsList())}

    before = execution_ids()
    action()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return [
        node.name()
        for eid in sorted(execution_ids() - before)
        for node in items(store.planGraph(eid).allNodes())
    ]


def test_run_ingest_is_one_python_pass_and_no_exchange(spark, out_dir):
    """A forecast crosses into Python in one pass: the executed plan of
    ``run_ingest`` has exactly one Python map node (fetch, decode and
    project together) and no Exchange (``spark.range`` deals the
    requests over the partitions, nothing shuffles them)."""
    cfg = IngestConfig(collection="harmonie_dini_sf", parameters=("t2m", "wind-speed"))
    names = _executed_node_names(
        spark, lambda: run_ingest(spark, cfg, out_dir, _make_transport_ok())
    )
    assert [n for n in names if n.startswith("MapIn")] == ["MapInArrow"], names
    assert not [n for n in names if "Exchange" in n], names


def test_run_ingest_without_parameters_writes_nothing(spark, out_dir):
    """An empty parameter list is a run with no requests: 0 rows, no
    failed parameters, no manifests, and the previous grid untouched."""
    cfg = IngestConfig(collection="dkss_if", parameters=("p-a",))
    run_ingest(spark, cfg, out_dir, _make_transport_ok())
    before = _tree(out_dir)
    res = run_ingest(
        spark, IngestConfig(collection="dkss_if", parameters=()), out_dir, _make_transport_ok()
    )
    assert (res.n_rows, res.n_partitions_written) == (0, 0)
    assert res.failed_parameters == [] and res.manifest_paths == []
    assert _tree(out_dir) == before


def _counted(spark, group: str, action):
    """``action()``'s result and the (jobs, stages, tasks, shuffle write
    bytes) of the Spark work it runs, read from the status store after
    the run."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "run_ingest budget")
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids = [s for j in job_ids for s in tracker.getJobInfo(j).stageIds]
    return result, (
        len(job_ids),
        len(stage_ids),
        sum(tracker.getStageInfo(s).numTasks for s in stage_ids),
        sum(store.lastStageAttempt(s).shuffleWriteBytes() for s in stage_ids),
    )


# (jobs, stages, shuffle write bytes) of one run_ingest over a previous
# forecast; exact, because these counters repeat. Pins may only go down.
# The one stage also runs exactly min(parameters, defaultParallelism)
# tasks: one Python task per core, never one per cube.
_INGEST_BUDGET = {
    "success": (1, 1, 0),
    "all_fetch_failed": (1, 1, 0),
    "corrupt_payload": (1, 1, 0),
}


def _ingest_tasks(spark, cfg: IngestConfig) -> int:
    return min(len(cfg.parameters), spark.sparkContext.defaultParallelism)


@pytest.mark.parametrize(
    "case, fail",
    [
        ("success", {}),
        ("all_fetch_failed", {"t2m": "down", "wind-speed": "down"}),
        ("corrupt_payload", {"t2m": "corrupt", "wind-speed": "corrupt"}),
    ],
)
def test_run_ingest_job_budget(spark, out_dir, case, fail):
    """One forecast is one write: pin the Spark jobs, stages, tasks and
    shuffle write bytes (``_INGEST_BUDGET``) ``run_ingest`` runs on top
    of a previous forecast (deterministic counters, unlike wall time)."""
    cfg = IngestConfig(collection="harmonie_dini_sf", parameters=("t2m", "wind-speed"))
    run_ingest(spark, cfg, out_dir, _make_transport_ok())
    _, counted = _counted(
        spark,
        f"ingest-job-budget-{case}",
        lambda: run_ingest(spark, cfg, out_dir, _make_transport_next(fail)),
    )
    jobs, stages, shuffle_bytes = _INGEST_BUDGET[case]
    assert counted == (jobs, stages, _ingest_tasks(spark, cfg), shuffle_bytes)


def test_quarantine_in_tasks_shared_with_good_cubes(spark, out_dir):
    """With more parameters than cores a Python task fetches several
    cubes: a corrupt cube and a failed fetch quarantine only their own
    parameters, never the good cubes of the same task, and the write
    still runs one task per core."""
    from dmi_ingestor_spark.sources.http_edr import request_rows

    n = spark.sparkContext.defaultParallelism + 2
    params = tuple(f"p{i:02d}" for i in range(n))
    tasks = request_rows(spark, n).rdd.glom().map(lambda rows: [r.id for r in rows])
    shared = [ids for ids in tasks.collect() if len(ids) > 1]
    assert shared, "no task fetches two cubes"
    corrupt, down = params[shared[0][0]], params[shared[-1][-1]]
    cfg = IngestConfig(collection="dkss_if", parameters=params)
    run_ingest(spark, cfg, out_dir, _make_transport_ok())
    grid = os.path.join(out_dir, "grid", "collection=dkss_if")
    manifests = os.path.join(out_dir, "manifests", "dkss_if")
    before = {
        p: (_tree(f"{grid}/parameter={p}"), _tree(f"{manifests}/{p}"))
        for p in (corrupt, down)
    }

    res, counted = _counted(
        spark,
        "ingest-shared-tasks",
        lambda: run_ingest(
            spark, cfg, out_dir, _make_transport_next({corrupt: "corrupt", down: "down"})
        ),
    )
    assert counted == (1, 1, _ingest_tasks(spark, cfg), 0)
    assert res.failed_parameters == [p for p in params if p in (corrupt, down)]
    for p, (leaves, manifest) in before.items():
        assert _tree(f"{grid}/parameter={p}") == leaves
        assert _tree(f"{manifests}/{p}") == manifest
    good = [p for p in params if p not in (corrupt, down)]
    for p in good:
        leaves = sorted(os.listdir(f"{grid}/parameter={p}"))
        assert len(leaves) == 4
        assert all(t.startswith("time_str=20260102") for t in leaves)
    assert res.n_rows == len(good) * 4 * 8 * 8
    assert res.manifest_paths == [f"{manifests}/{p}/forecasts.json" for p in good]


def _crc_files(root: str) -> list[str]:
    return [f for _, _, files in os.walk(root) for f in files if f.endswith(".crc")]


def test_run_ingest_writes_no_crc_and_leaks_no_filesystem_setting(spark, out_dir, tmp_path):
    """The ingest write skips Hadoop's ``.crc`` sidecars through its own
    writer options only: the session conf, the cached ``file://``
    FileSystem and a later plain write in the same session keep the
    checksummed local FS."""
    before = spark.conf.getAll
    cfg = IngestConfig(collection="dkss_if", parameters=("p-a", "p-b"))
    run_ingest(spark, cfg, out_dir, _make_transport_ok())
    run_ingest(spark, cfg, out_dir, _make_transport_next())
    assert _crc_files(os.path.join(out_dir, "grid")) == []
    assert spark.conf.getAll == before

    jvm = spark.sparkContext._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration()
    )
    # an instance, not the class: hive-exec registers its own subclass
    assert jvm.org.apache.hadoop.fs.LocalFileSystem._java_lang_class.isInstance(fs)
    plain = str(tmp_path / "plain")
    spark.range(3).write.parquet(plain)
    assert _crc_files(plain)
