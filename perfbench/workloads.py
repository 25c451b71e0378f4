"""Inputs, operations and correctness checks of the benchmark workloads.

``CubeFileTransport`` is unpickled by Spark's Python workers, so this
module imports only numpy, json and the repository's cube codec.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import datetime, timezone
from urllib.parse import parse_qs, urlsplit

import numpy as np

from dmi_ingestor_spark.sources.cube_format import Cube, encode_cube

# The ``queries`` workload: TPC-H and graph queries (builder, Catalyst and
# scheduling fixed cost, few Python kernels) and LLM data-prep queries
# whose Arrow/numpy kernels run in Python workers, two of them dense-gram
# sites. Every name is in bench.BENCH_QUERIES or in
# ADDED_QUERIES, and every one has a DuckDB oracle.
QUERIES: tuple[str, ...] = (
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "graph_triangle_count",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "ml_knn_classifier_eval",
)
# Names benchmarked here that bench.BENCH_QUERIES does not time.
ADDED_QUERIES: tuple[str, ...] = (
    "graph_triangle_count",
    "dedup_embedding_cosine",
    "ml_knn_classifier_eval",
)

# The table fixture is the same for every seed (the seed orders the
# passes); 42 is tools/gen_full_sf.py's default seed.
FIXTURE_SEED = 42


def make_fixture(sf: float, out_dir: str) -> None:
    """Write the 10-table synthetic fixture at scale factor ``sf``."""
    from tools.gen_full_sf import generate

    generate(sf, out_dir, seed=FIXTURE_SEED)


class OracleChecker:
    """Compares a query's Spark result with its DuckDB oracle, using the
    comparison of ``tools/oracle_check.py``."""

    def __init__(self, sf_dir: str, spill_dir: str):
        from tools import oracle_check

        self._oc = oracle_check
        self.con = oracle_check.duck_connection(sf_dir)
        self.con.execute("SET memory_limit='1GB'")
        self.con.execute("SET threads=2")
        self.con.execute(f"SET temp_directory='{spill_dir}'")

    def problems(self, name: str, oracle_sql: str | None, spark_arrow) -> list[str]:
        oc = self._oc
        if oracle_sql is None:
            return [f"{name}: no oracle"]
        duck_arrow = self.con.execute(oracle_sql).fetch_arrow_table()
        return (
            oc.risky_dtype_problems(name, spark_arrow.schema)
            + oc.dtype_problems(spark_arrow.schema, duck_arrow.schema)
            + oc.compare(
                name,
                oc.normalize(spark_arrow.to_pandas()),
                oc.normalize(duck_arrow.to_pandas()),
            )
        )

    def close(self) -> None:
        self.con.close()


# --- ingest_forecast -------------------------------------------------------

COLLECTION = "harmonie_dini_sf"  # a harmonie_* collection: LCC grid, reprojected
STEP_S = 3600
ADVANCE_STEPS = 6  # each forecast starts 6 h after the previous one
T0 = 1_767_225_600  # 2026-01-01T00:00:00Z
# (parameter, mean, amplitude): magnitudes of real HARMONIE fields
PARAMETERS: tuple[tuple[str, float, float], ...] = (
    ("temperature-2m", 281.0, 9.0),
    ("relative-humidity-2m", 78.0, 18.0),
    ("wind-speed-10m", 7.0, 4.0),
    ("wind-dir-10m", 220.0, 90.0),
    ("pressure-sealevel", 101_300.0, 900.0),
    ("total-cloud-cover", 0.6, 0.35),
    ("visibility", 20_000.0, 9_000.0),
    ("gust-wind-speed-10m", 11.0, 6.0),
)


@dataclass(frozen=True)
class CubeShape:
    n_params: int
    n_times: int
    n_y: int
    n_x: int

    @property
    def cells(self) -> int:
        return self.n_params * self.n_times * self.n_y * self.n_x


@dataclass
class Forecast:
    """One generated forecast run: encoded cubes on disk plus the facts
    the correctness check needs."""

    index: int
    cube_dir: str
    parameters: tuple[str, ...]
    time_strs: tuple[str, ...]
    value_sums: dict[str, float]
    input_bytes: int
    shape: CubeShape


def smooth_field(rng: np.random.Generator, shape: CubeShape, mean: float, amp: float, t_off: int) -> np.ndarray:
    """A spatially smooth, slowly advecting field (a few low-wavenumber
    travelling waves), quantised to 1/64 so every sum of it is exact in
    float64 whatever the summation order."""
    t = (t_off + np.arange(shape.n_times, dtype=np.float64))[:, None, None]
    y = np.linspace(0.0, 1.0, shape.n_y)[None, :, None]
    x = np.linspace(0.0, 1.0, shape.n_x)[None, None, :]
    v = np.full((shape.n_times, shape.n_y, shape.n_x), mean)
    for _ in range(4):
        kx, ky = rng.uniform(1.0, 6.0, 2)
        omega, phase, weight = rng.uniform(0.05, 0.3), rng.uniform(0, 2 * np.pi), rng.uniform(0.2, 1.0)
        v = v + amp * weight * np.sin(kx * x + ky * y - omega * t + phase)
    return np.round(v * 64.0) / 64.0


def time_str(epoch_s: int) -> str:
    return datetime.fromtimestamp(epoch_s, tz=timezone.utc).strftime("%Y%m%dT%H%M%S")


def make_forecast(seed: int, index: int, shape: CubeShape, root: str) -> Forecast:
    """Encode forecast ``index`` of a rolling series: it starts
    ``index * 6`` hours after the first and holds ``shape.n_times`` hourly
    steps on a Lambert grid near the projection origin."""
    rng = np.random.default_rng([seed, index])
    cube_dir = os.path.join(root, f"forecast-{index:04d}")
    os.makedirs(cube_dir, exist_ok=True)
    t_off = index * ADVANCE_STEPS
    times = [T0 + STEP_S * (t_off + t) for t in range(shape.n_times)]
    ys = [float(-300_000 + 2_500 * i) for i in range(shape.n_y)]
    xs = [float(200_000 + 2_500 * i) for i in range(shape.n_x)]
    params = PARAMETERS[: shape.n_params]
    sums: dict[str, float] = {}
    n_bytes = 0
    for name, mean, amp in params:
        values = smooth_field(rng, shape, mean, amp, t_off)
        payload = encode_cube(Cube(parameter=name, times=times, ys=ys, xs=xs, values=values))
        with open(os.path.join(cube_dir, f"{name}.fcube"), "wb") as fh:
            fh.write(payload)
        sums[name] = float(values.sum())
        n_bytes += len(payload)
    return Forecast(
        index=index,
        cube_dir=cube_dir,
        parameters=tuple(p[0] for p in params),
        time_strs=tuple(time_str(t) for t in times),
        value_sums=sums,
        input_bytes=n_bytes,
        shape=shape,
    )


class CubeFileTransport:
    """``run_ingest`` transport that serves a forecast's encoded cubes from
    local files, keyed by the request's ``parameter-name``."""

    def __init__(self, cube_dir: str):
        self.cube_dir = cube_dir

    def __call__(self, url: str) -> bytes:
        (parameter,) = parse_qs(urlsplit(url).query)["parameter-name"]
        with open(os.path.join(self.cube_dir, f"{parameter}.fcube"), "rb") as fh:
            return fh.read()


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _no_duplicate_keys(pairs):
    keys = [k for k, _ in pairs]
    if len(keys) != len(set(keys)):
        raise ValueError(f"duplicate manifest keys: {sorted(keys)}")
    return dict(pairs)


def check_forecast(out_dir: str, fc: Forecast) -> list[str]:
    """Problems with the published forecast ``fc``; [] when it is correct.

    Checks cells = P*T*Y*X, leaves = P*T with no stale leaf of an earlier
    forecast left, one manifest URL per time_str, and per-parameter value
    sums equal to the generated cubes.
    """
    import pyarrow.dataset as ds

    problems: list[str] = []
    shape = fc.shape
    grid = os.path.join(out_dir, "grid", f"collection={COLLECTION}")
    expected_leaves = {f"time_str={t}" for t in fc.time_strs}
    for p in fc.parameters:
        pdir = os.path.join(grid, f"parameter={p}")
        leaves = {e for e in os.listdir(pdir) if e.startswith("time_str=")} if os.path.isdir(pdir) else set()
        if leaves != expected_leaves:
            problems.append(
                f"{p}: {len(leaves)} leaves, {len(leaves - expected_leaves)} stale, "
                f"{len(expected_leaves - leaves)} missing"
            )
        mpath = os.path.join(out_dir, "manifests", COLLECTION, p, "forecasts.json")
        try:
            with open(mpath) as fh:
                manifest = json.load(fh, object_pairs_hook=_no_duplicate_keys)
        except (OSError, ValueError) as err:
            problems.append(f"{p}: manifest unreadable: {err}")
            continue
        urls = list(manifest.values())
        if set(manifest) != set(fc.time_strs) or len(set(urls)) != len(urls):
            problems.append(f"{p}: manifest keys/URLs do not match the forecast's time steps")
        elif any(not u.endswith(f"/{p}/{t}.tif") for t, u in manifest.items()):
            problems.append(f"{p}: manifest URL does not name its own time step")
    table = ds.dataset(grid, format="parquet", partitioning="hive").to_table(
        columns=["parameter", "value"]
    )
    if table.num_rows != shape.cells:
        problems.append(f"cells: {table.num_rows} != {shape.cells}")
    params = table.column("parameter").to_numpy(zero_copy_only=False)
    values = table.column("value").to_numpy()
    for p in fc.parameters:
        mask = params == p
        n, s = int(mask.sum()), float(values[mask].sum())
        if n != shape.n_times * shape.n_y * shape.n_x or s != fc.value_sums[p]:
            problems.append(f"{p}: {n} cells, value sum {s!r} != generated {fc.value_sums[p]!r}")
    return problems


def grid_files(out_dir: str) -> int:
    grid = os.path.join(out_dir, "grid")
    return sum(f.endswith(".parquet") for _, _, files in os.walk(grid) for f in files)
