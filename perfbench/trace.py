"""Spans, Spark status-store counters and a /proc memory sampler.

Everything here reads only in-process state: Spark's AppStatusStore and
SQLAppStatusStore (both live with ``spark.ui.enabled=false``) and the
kernel's ``/proc`` tables. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import threading
import time

# Formatting units of Spark's SQL metric strings (SQLMetrics.stringValue).
_METRIC_UNITS = {
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
    "ns": 1e-9,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}

# SQL metric names of the Python exec nodes (PythonSQLMetrics).
PYTHON_SQL_METRICS = {
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}

STAGE_COUNTERS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.jvm_gc_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
)


def parse_sql_metric(text: str) -> float:
    """Value of one formatted SQL metric.

    Spark renders a metric as ``"874 ms"`` for one task and as
    ``"total (min, med, max (stageId: taskId))\\n1.8 s (...)"`` for many;
    the total is the first number of the last line.
    """
    fields = text.strip().split("\n")[-1].split()
    value = float(fields[0].replace(",", ""))
    if len(fields) > 1 and fields[1] in _METRIC_UNITS:
        value *= _METRIC_UNITS[fields[1]]
    return value


def _iter_java(seq):
    """Iterate a Scala Seq or Java collection returned through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkCounters:
    """Reads job, stage and SQL-execution counters for one job group."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_execution = -1
        self._last_execution = self._newest_execution()

    def _newest_execution(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return self._last_execution
        return max(e.executionId() for e in _iter_java(self._sql.executionsList(n - 1, 1)))

    def begin(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def end(self, group: str, start_ms: float, end_ms: float, cells_floor: int) -> dict:
        """Counters of the jobs and SQL executions started since ``begin``.

        ``cells_floor``: MapInPandas/MapInArrow nodes emitting more rows
        than this are counted as grid decoders (the fetch node emits one
        row per cube, the decoder one row per cell).
        """
        self._jsc.listenerBus().waitUntilEmpty()
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        out = dict.fromkeys(STAGE_COUNTERS, 0.0)
        out["spark.peak_execution_memory_bytes"] = 0.0
        intervals = []
        tracker = self._sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            out["spark.jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in (info.stageIds if info else []):
                d = self._store.lastStageAttempt(stage_id)
                if d.status().toString() != "COMPLETE":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += d.numCompleteTasks()
                out["spark.executor_run_s"] += d.executorRunTime() / 1e3
                out["spark.executor_cpu_s"] += d.executorCpuTime() / 1e9
                out["spark.jvm_gc_s"] += d.jvmGcTime() / 1e3
                out["spark.shuffle_read_bytes"] += d.shuffleReadBytes()
                out["spark.shuffle_write_bytes"] += d.shuffleWriteBytes()
                out["spark.spill_bytes"] += d.diskBytesSpilled()
                out["spark.peak_execution_memory_bytes"] = max(
                    out["spark.peak_execution_memory_bytes"], d.peakExecutionMemory()
                )
                if d.submissionTime().isDefined() and d.completionTime().isDefined():
                    intervals.append(
                        (d.submissionTime().get().getTime(), d.completionTime().get().getTime())
                    )
        out["spark.driver_gap_s"] = max(
            0.0, (end_ms - start_ms - covered_length(intervals, start_ms, end_ms)) / 1e3
        )
        out.update(self._python_metrics(cells_floor))
        return out

    def _python_metrics(self, cells_floor: int) -> dict:
        out = dict.fromkeys(PYTHON_SQL_METRICS.values(), 0.0)
        out["python.decoded_rows"] = 0.0
        newest = self._newest_execution()
        n_new = newest - self._last_execution
        if n_new <= 0:
            return out
        total = self._sql.executionsCount()
        executions = self._sql.executionsList(max(0, total - n_new - 8), n_new + 8)
        for e in _iter_java(executions):
            eid = e.executionId()
            if eid <= self._last_execution:
                continue
            values = self._sql.executionMetrics(eid)
            for node in _iter_java(self._sql.planGraph(eid).allNodes()):
                for m in _iter_java(node.metrics()):
                    key = PYTHON_SQL_METRICS.get(m.name())
                    is_rows = m.name() == "number of output rows" and node.name() in (
                        "MapInPandas",
                        "MapInArrow",
                    )
                    if key is None and not is_rows:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isEmpty():
                        continue
                    value = parse_sql_metric(v.get())
                    if key is not None:
                        out[key] += value
                    elif value > cells_floor:
                        out["python.decoded_rows"] += value
        self._last_execution = newest
        return out


def covered_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    covered, cursor = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, hi)
        if b > a:
            covered += b - a
            cursor = b
    return covered


class Tracer:
    """In-memory span recorder.

    A span has an id, a parent, a name, start and end times and the
    counters read at its boundaries. ``spark=True`` spans run in their
    own Spark job group, so the jobs they start are attributed to them.
    """

    enabled = True

    def __init__(self, counters: SparkCounters | None = None, cells_floor: int = 0):
        self.counters = counters
        self.cells_floor = cells_floor
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, spark: bool = False, **attrs):
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"perfbench-span-{sid}"
        if spark and self.counters is not None:
            self.counters.begin(group)
        wall0 = time.time() * 1e3
        rec["start_s"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end_s"] = time.perf_counter() - self._t0
            self._stack.pop()
            if spark and self.counters is not None:
                rec["counters"] = self.counters.end(
                    group, wall0, time.time() * 1e3, self.cells_floor
                )

    def derived(self, name: str, parent: dict, duration_s: float, **attrs) -> None:
        """A span measured from counters rather than a driver-side clock:
        it ends with its parent and lasts ``duration_s`` (clipped)."""
        duration_s = min(max(duration_s, 0.0), parent["end_s"] - parent["start_s"])
        self.spans.append(
            {
                "id": next(self._ids),
                "parent": parent["id"],
                "name": name,
                "start_s": parent["end_s"] - duration_s,
                "end_s": parent["end_s"],
                "derived": True,
                **attrs,
            }
        )


    def add_python_spans(self) -> None:
        """Attribute part of each Spark span to a derived ``python.workers``
        child: the stage-running part of its wall, times the share of task
        time the Python workers spent processing (their run time over the
        executors' run time). Worker start and init times are not used: a
        reused worker's init time includes its idle wait for the next task."""
        for s in list(self.spans):
            c = s.get("counters")
            if c and c["python.run_s"] > 0 and c["spark.executor_run_s"] > 0:
                running = (s["end_s"] - s["start_s"]) - c["spark.driver_gap_s"]
                share = min(1.0, c["python.run_s"] / c["spark.executor_run_s"])
                self.derived("python.workers", s, running * share)


class NullTracer:
    """Tracing off: spans cost one context-manager entry and record nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, spark: bool = False, **attrs):
        yield {}

    def derived(self, name: str, parent: dict, duration_s: float, **attrs) -> None:
        pass


def layer_of(span_name: str) -> str:
    """``queries.build`` -> ``queries``; harness spans -> ``bench``."""
    head = span_name.split(".", 1)[0]
    return head if "." in span_name else "bench"


def self_times(spans: list[dict], root_id: int) -> dict[str, float]:
    """Per-layer self time under ``root_id``: each span's duration minus
    the part of its interval that its children cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}

    def visit(s: dict) -> None:
        kids = children.get(s["id"], [])
        covered = covered_length(
            [(k["start_s"], k["end_s"]) for k in kids], s["start_s"], s["end_s"]
        )
        layer = layer_of(s["name"])
        out[layer] = out.get(layer, 0.0) + (s["end_s"] - s["start_s"]) - covered
        for k in kids:
            visit(k)

    root = next(s for s in spans if s["id"] == root_id)
    visit(root)
    return out


_CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def _process_tree() -> dict[int, tuple[str, int]]:
    """pid -> (command name, CPU ticks) for this process and every process
    below it. CPU ticks are user+system time including reaped children,
    so the tree's total only grows while its processes start and exit."""
    procs: dict[int, tuple[int, str, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process exited between listdir and open
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2 :].split()
        procs[int(entry)] = (int(fields[1]), comm, sum(int(f) for f in fields[11:15]))
    me = os.getpid()
    tree = {me: (procs[me][1], procs[me][2])}
    frontier = [me]
    while frontier:
        pid = frontier.pop()
        for child, (ppid, comm, ticks) in procs.items():
            if ppid == pid and child not in tree:
                tree[child] = (comm, ticks)
                frontier.append(child)
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree (driver, JVM, workers)."""
    return sum(ticks for _, ticks in _process_tree().values()) / _CLOCK_TICKS


class RssSampler:
    """Samples the memory of this process's tree from ``/proc``.

    ``total`` covers the driver, the JVM and the Python workers. The driver
    and the JVM count their resident set; the Python workers count their
    proportional set (PSS), because the workers Spark's daemon forks share
    its pages. Other processes (a JVM child between fork and exec) are
    transient copies of the JVM and are not counted.
    """

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_total_mb = 0.0
        self.peak_workers_mb = 0.0
        self.peak_jvm_mb = 0.0
        self._page_mb = os.sysconf("SC_PAGE_SIZE") / 2**20
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reset_peaks(self) -> None:
        self.peak_total_mb = self.peak_workers_mb = self.peak_jvm_mb = 0.0

    @staticmethod
    def descendants() -> dict[int, str]:
        """pid -> command name for every process below this one."""
        return {pid: comm for pid, (comm, _) in _process_tree().items() if pid != os.getpid()}

    def _rss_mb(self, pid: int) -> float:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                return int(fh.read().split()[1]) * self._page_mb
        except OSError:  # exited since the tree was listed
            return 0.0

    @staticmethod
    def _pss_mb(pid: int) -> float:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) / 1024
        except OSError:
            pass
        return 0.0

    def sample(self) -> None:
        me = os.getpid()
        driver = jvm = workers = 0.0
        for pid, (comm, _) in _process_tree().items():
            if pid == me:
                driver = self._rss_mb(pid)
            elif comm == "java":
                jvm += self._rss_mb(pid)
            elif comm.startswith("python"):
                workers += self._pss_mb(pid)
        self.peak_total_mb = max(self.peak_total_mb, driver + jvm + workers)
        self.peak_workers_mb = max(self.peak_workers_mb, workers)
        self.peak_jvm_mb = max(self.peak_jvm_mb, jvm)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()
