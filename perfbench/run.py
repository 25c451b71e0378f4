"""The repository's benchmark: one closed-loop client per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each exists):

* ``ingest_forecast`` publishes a rolling series of HARMONIE (LCC)
  forecasts with ``ingest.pipeline.run_ingest``; each forecast starts 6 h
  after the previous one, so every run overwrites, adds and deletes leaves.
* ``queries`` runs passes over a list of registry queries, each built by
  its registry builder and executed with a ``noop`` write, in a seeded
  order per pass.

Set-up (timed as ``setup_s``) starts the session, generates the inputs and
warms up: each query once with its result compared with its DuckDB oracle
(the comparison time is not counted) and one more pass, or two forecasts.
Every forecast is checked after it is published. With ``--trace 1`` the
run alternates untraced operations with traced ones, which record spans
and Spark counters, and prints per-layer metrics; the spans are written to
``.perfbench/trace-<workload>-seed<n>.json``.

The last stdout line is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

DRIVER_MEMORY = "2g"


@dataclass(frozen=True)
class Sizes:
    sf: float  # query fixture scale factor
    n_params: int
    n_times: int
    n_grid: int  # cells per grid side


SIZES = {
    "full": Sizes(sf=0.01, n_params=8, n_times=24, n_grid=64),
    # the self-test's size: same code paths, seconds instead of minutes
    "tiny": Sizes(sf=0.001, n_params=2, n_times=8, n_grid=8),
}
WORKLOADS = ("ingest_forecast", "queries")


def pin_environment(work: str) -> dict:
    """Environment for the session and its Python workers; set before the
    JVM starts. Returns what was pinned, for the run record."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    pythonpath = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            # session.py defaults to 32 task slots; use the host's cores
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            # workers unpickle dmi_ingestor_spark and perfbench closures
            "PYTHONPATH": os.pathsep.join(pythonpath),
            "PYSPARK_PYTHON": sys.executable,
            # no JVM writes its perf-data file to the system /tmp
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": (
                # a fixed, pre-touched heap: the JVM's share of peak_rss_mb
                # stops depending on when G1 grows and touches its heap
                f"--conf spark.driver.extraJavaOptions='-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}' "
                f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
                "--conf spark.ui.showConsoleProgress=false pyspark-shell"
            ),
        }
    )
    tempfile.tempdir = None
    return {"nproc": nproc, "driver_memory": DRIVER_MEMORY}


def host_steal(since: tuple[int, int] | None = None):
    """(steal, total) CPU ticks of the host so far; with ``since``, the share
    of CPU time the hypervisor took from this machine in between."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    now = (ticks[7], sum(ticks))
    if since is None:
        return now
    return (now[0] - since[0]) / max(1, now[1] - since[1])


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


class Run:
    """State of one benchmark run: session, tracer, counts and timings."""

    def __init__(self, args, work: str, sizes: Sizes, rss):
        import numpy as np

        self.args = args
        self.work = work
        self.sizes = sizes
        self.rss = rss
        self.rng = np.random.default_rng(args.seed)
        self.attempted = 0
        self.failures: list[str] = []
        self.op_walls: list[float] = []
        self.calls: list[tuple[str, float]] = []  # (query or forecast, wall)
        self.op_cpu: list[float] = []
        self.traced_ops: list[dict] = []
        self.untraced_op_walls: list[float] = []
        self.traced_op_walls: list[float] = []
        self.excluded_s = 0.0  # oracle comparisons inside set-up
        from perfbench.trace import NullTracer

        self.tracer = NullTracer()

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"FAILED {what}", file=sys.stderr)

    # --- session ---------------------------------------------------------

    def start_session(self, tracer) -> None:
        from dmi_ingestor_spark.session import get_spark

        with tracer.span("session.get_spark"):
            self.spark = get_spark(f"perfbench-{self.args.workload}")
            self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for them."""
        from pyspark import SparkContext

        from perfbench.trace import RssSampler

        spark = getattr(self, "spark", None)
        if spark is None:
            return
        children = set(RssSampler().descendants())
        gateway = SparkContext._gateway
        spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while children and time.monotonic() < deadline:
            children = {p for p in children if os.path.exists(f"/proc/{p}")}
            time.sleep(0.05)
        for pid in children:
            os.kill(pid, 9)

    # --- the timed loop --------------------------------------------------

    def loop(self, op, seconds: float, min_ops: int = 1) -> list[float]:
        """Run ``op`` back to back until ``seconds`` have passed (and at
        least ``min_ops`` times); return each op's wall time and record the
        process tree's CPU time per op in ``op_cpu``."""
        from perfbench.trace import tree_cpu_s

        walls = []
        self.op_cpu = []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(walls) < min_ops:
            cpu0, t0 = tree_cpu_s(), time.perf_counter()
            op()
            walls.append(time.perf_counter() - t0)
            self.op_cpu.append(tree_cpu_s() - cpu0)
        return walls

    def measure(self, workload, traced) -> None:
        """Untraced: operate for ``seconds``, at least twice. Traced:
        alternate untraced and traced operations for ``seconds``, at least
        two of each, so both see the same warm-up state."""
        seconds = self.args.seconds
        if traced is None:
            self.calls.clear()
            self.op_walls = self.loop(lambda: workload.operate(self.tracer), seconds, min_ops=2)
            return
        t_end = time.perf_counter() + seconds
        with traced.span("workload", workload=self.args.workload):
            while time.perf_counter() < t_end or len(self.traced_op_walls) < 2:
                self.untraced_op_walls += self.loop(lambda: workload.operate(self.tracer), 0)
                self.traced_op_walls += self.loop(lambda: workload.operate(traced), 0)


# --- query workloads ---------------------------------------------------------


class QueryWorkload:
    def __init__(self, run: Run, names: tuple[str, ...]):
        self.run = run
        self.names = names

    def setup(self, tracer) -> None:
        import __spark_entry__
        from dmi_ingestor_spark.registry import load_all

        from perfbench.trace import NullTracer
        from perfbench.workloads import OracleChecker, make_fixture

        run = self.run
        self.registry = load_all()
        self.oracles = __spark_entry__.oracle_sql()
        self.sf_dir = os.path.join(run.work, f"sf{run.sizes.sf}")
        with tracer.span("setup.inputs"):
            make_fixture(run.sizes.sf, self.sf_dir)
        checker = OracleChecker(self.sf_dir, os.path.join(run.work, "duckdb"))
        try:
            with tracer.span("setup.warmup"):
                for name in self.names:
                    self.check(name, checker)
                # one more pass: the first pass after the checked one still
                # runs 10-25% slower than later ones on a 4-vCPU host
                self.operate(NullTracer())
        finally:
            checker.close()

    def check(self, name: str, checker) -> None:
        """Run ``name`` once, collecting its result, and compare the result
        with the query's DuckDB oracle."""
        run = self.run
        run.attempted += 1
        try:
            result = self.registry[name].builder(run.spark, self.sf_dir).toArrow()
        except Exception as err:  # noqa: BLE001 - a failing query is a result
            run.fail(f"{name}: {type(err).__name__}: {err}")
            return
        t0 = time.perf_counter()
        problems = checker.problems(name, self.oracles.get(name), result)
        run.excluded_s += time.perf_counter() - t0
        if problems:
            run.fail(f"{name}: {'; '.join(problems)}")

    def call(self, name: str, tracer) -> None:
        run = self.run
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.span(f"query:{name}"):
                with tracer.span("queries.build", spark=True) as build:
                    df = self.registry[name].builder(run.spark, self.sf_dir)
                if tracer.enabled:
                    self.trace_catalyst(df, tracer, build)
                with tracer.span("spark.execute", spark=True):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as err:  # noqa: BLE001
            run.fail(f"{name}: {type(err).__name__}: {err}")
        run.calls.append((name, time.perf_counter() - t0))

    def trace_catalyst(self, df, tracer, build: dict) -> None:
        """Phase times of the returned DataFrame's QueryExecution: analysis
        ran eagerly inside the builder; optimization and planning are forced
        here, in their own span, before the write plans its own copy."""
        qe = df._jdf.queryExecution()
        with tracer.span("catalyst.plan", spark=True) as plan:
            qe.executedPlan()
        phases = qe.tracker().phases()
        ms = {k: phases.apply(k).durationMs() if phases.contains(k) else 0 for k in ("analysis", "optimization", "planning")}
        build["catalyst.analysis_s"] = ms["analysis"] / 1e3
        plan["catalyst.optimization_s"] = ms["optimization"] / 1e3
        plan["catalyst.planning_s"] = ms["planning"] / 1e3
        tracer.derived("catalyst.analysis", build, ms["analysis"] / 1e3)

    def operate(self, tracer) -> None:
        """One pass over the query list, in a seeded order."""
        order = [self.names[i] for i in self.run.rng.permutation(len(self.names))]
        with tracer.span("pass", order=order) as p:
            for name in order:
                self.call(name, tracer)
        if tracer.enabled:
            self.run.traced_ops.append(p)


# --- ingest ------------------------------------------------------------------


class IngestWorkload:
    def __init__(self, run: Run):
        from perfbench.workloads import CubeShape

        self.run = run
        s = run.sizes
        self.shape = CubeShape(s.n_params, s.n_times, s.n_grid, s.n_grid)
        self.out_dir = os.path.join(run.work, "out")
        self.forecasts: list = []
        self.next_index = 0

    def forecast(self, index: int):
        from perfbench.workloads import make_forecast

        while len(self.forecasts) <= index:
            self.forecasts.append(
                make_forecast(self.run.args.seed, len(self.forecasts), self.shape, os.path.join(self.run.work, "cubes"))
            )
        return self.forecasts[index]

    def setup(self, tracer) -> None:
        from perfbench.trace import NullTracer

        # A forecast takes seconds to publish, so this covers every
        # forecast a run publishes; ``forecast`` makes more if one does not.
        n = 3 + math.ceil(self.run.args.seconds / 2)
        with tracer.span("setup.inputs"):
            self.forecast(n)
        # The first forecast is published cold and the second still runs
        # 10-20% slower than later ones on a 4-vCPU host; neither is timed.
        with tracer.span("setup.warmup"):
            self.operate(NullTracer())
            self.operate(NullTracer())

    def operate(self, tracer) -> None:
        """Publish the next forecast of the series and check it."""
        from perfbench.workloads import COLLECTION, CubeFileTransport, check_forecast, grid_files, tree_bytes

        from dmi_ingestor_spark.ingest.pipeline import run_ingest
        from dmi_ingestor_spark.sources.http_edr import IngestConfig

        run = self.run
        fc = self.forecast(self.next_index)
        self.next_index += 1
        cfg = IngestConfig(collection=COLLECTION, parameters=fc.parameters)
        transport = CubeFileTransport(fc.cube_dir)
        run.attempted += 1
        before = self.leaves() if tracer.enabled else set()
        t0 = time.perf_counter()
        try:
            with tracer.span("forecast_run", forecast=fc.index) as op:
                if tracer.enabled:
                    self.trace_sources_and_functions(cfg, transport, fc, tracer)
                with tracer.span("ingest.run_ingest", spark=True) as ing:
                    run_ingest(run.spark, cfg, self.out_dir, transport)
        except Exception as err:  # noqa: BLE001
            run.fail(f"forecast {fc.index}: {type(err).__name__}: {err}")
            return
        run.calls.append((f"forecast-{fc.index}", time.perf_counter() - t0))
        problems = check_forecast(self.out_dir, fc)
        if problems:
            run.fail(f"forecast {fc.index}: {'; '.join(problems)}")
        if tracer.enabled:
            after = self.leaves()
            stored = tree_bytes(self.out_dir)
            cells = fc.shape.cells
            ing.update(
                {
                    "ingest.decoded_cells_per_cell": ing["counters"]["python.decoded_rows"] / cells,
                    "ingest.leaves_written": len(after),
                    "ingest.leaves_deleted": len(before - after),
                    "ingest.files_written": grid_files(self.out_dir),
                    "ingest.bytes_stored": stored,
                    "ingest.stored_bytes_per_input_byte": stored / fc.input_bytes,
                }
            )
            run.traced_ops.append(op)

    def leaves(self) -> set[str]:
        grid = os.path.join(self.out_dir, "grid")
        return {os.path.relpath(d, grid) for d, _, files in os.walk(grid) if os.path.basename(d).startswith("time_str=")}

    def trace_sources_and_functions(self, cfg, transport, fc, tracer) -> None:
        """Time each public function of ``sources`` and ``functions`` alone
        on this forecast's inputs, materializing its whole output."""
        import numpy as np
        from pyspark.sql import functions as F

        from dmi_ingestor_spark.functions.projection import lcc_inverse_np
        from dmi_ingestor_spark.sources.cube_format import decode_cube
        from dmi_ingestor_spark.sources.http_edr import build_request_url, fetch_cubes

        with tracer.span("sources.fetch", spark=True) as fetch:
            row = fetch_cubes(self.run.spark, cfg, transport).agg(
                F.sum(F.length("payload")).alias("bytes"), F.count("error").alias("errors")
            ).collect()[0]
        fetch["sources.fetch_bytes"] = row["bytes"] or 0
        if row["errors"]:
            self.run.fail(f"forecast {fc.index}: {row['errors']} fetch errors")
        payloads = [transport(build_request_url(cfg, p)) for p in cfg.parameters]
        with tracer.span("sources.decode") as decode:
            cubes = [decode_cube(b) for b in payloads]
            sums = [float(np.asarray(c.values).sum()) for c in cubes]
        decode["sources.decode_mb"] = sum(len(b) for b in payloads) / 2**20
        if sums != [fc.value_sums[p] for p in cfg.parameters]:
            self.run.fail(f"forecast {fc.index}: decoded cube sums differ from the generated cubes")
        with tracer.span("functions.projection"):
            for c in cubes:
                nt, ny, nx = c.values.shape
                ys = np.tile(np.repeat(np.asarray(c.ys), nx), nt)
                xs = np.tile(np.asarray(c.xs), nt * ny)
                lcc_inverse_np(xs, ys)


# --- metrics -------------------------------------------------------------------

LAYERS = ("session", "queries", "catalyst", "spark", "python", "sources", "functions", "ingest")
PER_LAYER_UNITS = {
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.peak_execution_memory_bytes": "bytes",
    "spark.counters_repeating": "count",
    "python.start_s": "s",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "python.peak_worker_rss_mb": "MB",
    "sources.fetch_s": "s",
    "sources.fetch_bytes": "bytes",
    "sources.decode_s": "s",
    "sources.decode_mb_per_s": "MB/s",
    "functions.projection_s": "s",
    "ingest.decoded_cells_per_cell": "ratio",
    "ingest.leaves_written": "count",
    "ingest.leaves_deleted": "count",
    "ingest.files_written": "count",
    "ingest.bytes_stored": "bytes",
    "ingest.stored_bytes_per_input_byte": "ratio",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "trace.overhead_s": "s",
}
# spark.* counters compared across traced operations of the same query
REPEAT_COUNTERS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
)


def op_layer_values(op: dict, spans: list[dict]) -> dict[str, float]:
    """Per-layer numbers of one traced operation (a pass or a forecast)."""
    from perfbench.trace import self_times

    out = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    below = descendants_of(op, spans)
    for s in below:
        for key, value in s.get("counters", {}).items():
            if key in out and key != "spark.peak_execution_memory_bytes":
                out[key] += value
        if "counters" in s:
            out["spark.peak_execution_memory_bytes"] = max(
                out["spark.peak_execution_memory_bytes"], s["counters"]["spark.peak_execution_memory_bytes"]
            )
        for key in PER_LAYER_UNITS:
            if key in s:
                out[key] += s[key]
        wall = s["end_s"] - s["start_s"]
        if s["name"] == "queries.build":
            out["queries.build_s"] += wall
            out["queries.build_jobs"] += s["counters"]["spark.jobs"]
        elif s["name"] == "sources.fetch":
            out["sources.fetch_s"] += wall
        elif s["name"] == "sources.decode":
            out["sources.decode_s"] += wall
        elif s["name"] == "functions.projection":
            out["functions.projection_s"] += wall
    if out["sources.decode_s"] > 0:
        decode_mb = sum(s.get("sources.decode_mb", 0.0) for s in below)
        out["sources.decode_mb_per_s"] = decode_mb / out["sources.decode_s"]
    for layer, t in self_times(spans, op["id"]).items():
        if f"{layer}.self_s" in out:
            out[f"{layer}.self_s"] = t
    return out


def descendants_of(root: dict, spans: list[dict]) -> list[dict]:
    ids = {root["id"]}
    out = []
    for s in spans:  # spans are appended parent-first
        if s.get("parent") in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def repeating_counters(run: Run, spans: list[dict]) -> list[str]:
    """spark.* counters that read the same for every traced repetition of
    each query (query workloads) or each forecast (ingest)."""
    per_key: dict[str, list[dict]] = {}
    for op in run.traced_ops:
        for s in descendants_of(op, spans):
            if s["name"].startswith("query:") or s["name"] == "ingest.run_ingest":
                totals = dict.fromkeys(REPEAT_COUNTERS, 0.0)
                for c in [s] + descendants_of(s, spans):
                    for k in REPEAT_COUNTERS:
                        totals[k] += c.get("counters", {}).get(k, 0.0)
                per_key.setdefault(s["name"], []).append(totals)
    reps = [v for v in per_key.values() if len(v) >= 2]
    if not reps:
        return []
    return [k for k in REPEAT_COUNTERS if all(len({r[k] for r in v}) == 1 for v in reps)]


def per_layer_metrics(run: Run, spans: list[dict], session_s: float) -> tuple[dict, list[str]]:
    per_op = [op_layer_values(op, spans) for op in run.traced_ops]
    values = {k: median([v[k] for v in per_op]) for k in PER_LAYER_UNITS}
    values["session.self_s"] = session_s
    values["python.peak_worker_rss_mb"] = run.rss.peak_workers_mb
    repeating = repeating_counters(run, spans)
    values["spark.counters_repeating"] = len(repeating)
    values["trace.overhead_s"] = median(run.traced_op_walls) - median(run.untraced_op_walls)
    return values, repeating


# --- main --------------------------------------------------------------------


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_setup = time.perf_counter()
    state_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state_dir, f"work-{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        pinned = pin_environment(work)
        return execute(args, work, pinned, t_setup, state_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def execute(args, work: str, pinned: dict, t_setup: float, state_dir: str) -> int:
    import numpy
    import pyspark

    from perfbench.trace import RssSampler, SparkCounters, Tracer
    from perfbench.workloads import QUERIES

    with RssSampler() as rss:
        run = Run(args, work, SIZES[args.size], rss)
        setup_tracer = Tracer()
        traced = None
        try:
            with setup_tracer.span("setup"):
                run.start_session(setup_tracer)
                if args.workload == "ingest_forecast":
                    workload = IngestWorkload(run)
                else:
                    workload = QueryWorkload(run, QUERIES)
                workload.setup(setup_tracer)
            setup_s = time.perf_counter() - t_setup - run.excluded_s
            rss.reset_peaks()
            if args.trace:
                # a forecast's fetch node emits one row per cube; larger
                # MapInPandas outputs are decoded grid cells
                cells_floor = workload.shape.n_params if isinstance(workload, IngestWorkload) else 0
                traced = Tracer(SparkCounters(run.spark), cells_floor=cells_floor)
            steal0 = host_steal()
            run.measure(workload, traced)
            steal = host_steal(steal0)
            env = {
                **pinned,
                "python": sys.version.split()[0],
                "numpy": numpy.__version__,
                "pyspark": pyspark.__version__,
                "spark": run.spark.version,
            }
        finally:
            run.stop_session()

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "env": env,
        "setup_phases_s": {s["name"]: s["end_s"] - s["start_s"] for s in setup_tracer.spans},
        "host_steal_share": steal,
        "peak_jvm_rss_mb": rss.peak_jvm_mb,
        "peak_worker_rss_mb": rss.peak_workers_mb,
    }
    if traced is not None:
        traced.add_python_spans()
        session_s = next(s["end_s"] - s["start_s"] for s in setup_tracer.spans if s["name"] == "session.get_spark")
        values, repeating = per_layer_metrics(run, traced.spans, session_s)
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in values.items()}
        path = os.path.join(state_dir, f"trace-{args.workload}-seed{args.seed}.json")
        record.update(
            traced_ops=len(run.traced_op_walls),
            untraced_ops=len(run.untraced_op_walls),
            spark_counters_repeating=repeating,
            trace_file=os.path.relpath(path, ROOT),
        )
        with open(path, "w") as fh:
            json.dump({**record, "setup_spans": setup_tracer.spans, "spans": traced.spans, "per_layer": values}, fh, indent=1)
    else:
        record["op_walls_s"] = run.op_walls
        record["op_cpu_s"] = run.op_cpu
        record["calls"] = run.calls
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_s": {"value": median(run.op_walls), "unit": "s"},
            "op_cpu_s": {"value": median(run.op_cpu), "unit": "s"},
            "peak_rss_mb": {"value": rss.peak_total_mb, "unit": "MB"},
        }
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": not run.failures,
                "attempted": run.attempted,
                "failed": len(run.failures),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
