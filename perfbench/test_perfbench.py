"""Self-test of the benchmark, at the tiny size (sf0.001, 8x8 cubes).

    python3 -m pytest perfbench -q

It runs every workload untraced and traced, and checks that each metric
BENCHMARK.json declares is printed, that outputs are correct, and that the
traced runs emit a span for every layer.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.trace import covered_length, parse_sql_metric, self_times
from perfbench.workloads import ADDED_QUERIES, QUERIES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
LAYERS = {"session", "queries", "catalyst", "spark", "python", "sources", "functions", "ingest"}


def bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.fixture(scope="module")
def runs():
    out = {}
    for w in WORKLOADS:
        for trace in (0, 1):
            r = bench(w, trace)
            assert r.returncode == 0, r.stderr[-3000:]
            lines = r.stdout.strip().splitlines()
            out[w, trace] = (json.loads(lines[-2]), json.loads(lines[-1]))
    return out


def test_every_declared_metric_is_printed(runs):
    for (w, trace), (_, result) in runs.items():
        declared = SPEC["per_layer" if trace else "end_to_end"]
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, (w, trace)
        assert set(result["metrics"]) == {m["name"] for m in declared}, (w, trace)
        for m in declared:
            printed = result["metrics"][m["name"]]
            assert printed["unit"] == m["unit"] and isinstance(printed["value"], (int, float)), (w, m)
        if not trace:
            assert all(v["value"] > 0 for v in result["metrics"].values()), w


def test_traced_runs_emit_a_span_for_every_layer(runs):
    seen = set()
    for w in WORKLOADS:
        record, _ = runs[w, 1]
        doc = json.load(open(os.path.join(ROOT, record["trace_file"])))
        names = {s["name"] for s in doc["spans"] + doc["setup_spans"]}
        seen |= {n.split(".", 1)[0] for n in names if "." in n}
        assert {"workload", "session.get_spark"} <= names, w
        if w == "ingest_forecast":
            assert {"forecast_run", "sources.fetch", "sources.decode",
                    "functions.projection", "ingest.run_ingest"} <= names
            assert doc["per_layer"]["ingest.decoded_cells_per_cell"] >= 1
        else:
            assert {"pass", "queries.build", "catalyst.plan", "spark.execute"} <= names
            assert {f"query:{q}" for q in QUERIES} <= names
    assert LAYERS <= seen


def test_queries_are_bench_or_added_names_with_oracles():
    from bench import BENCH_QUERIES
    from dmi_ingestor_spark.registry import load_all

    registry = load_all()
    assert len(QUERIES) == len(set(QUERIES))
    assert set(QUERIES) - set(BENCH_QUERIES) == set(ADDED_QUERIES)
    assert all(registry[q].oracle for q in QUERIES)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = bench(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert r.returncode != 0
    assert '"correct"' not in r.stdout


def test_parse_sql_metric():
    assert parse_sql_metric("874 ms") == pytest.approx(0.874)
    assert parse_sql_metric("5.0 KiB") == 5 * 1024
    assert parse_sql_metric("1,234") == 1234
    many = "total (min, med, max (stageId: taskId))\n1.8 s (1 ms, 2 ms, 3 ms (stage 3.0: task 5))"
    assert parse_sql_metric(many) == pytest.approx(1.8)


def test_self_time_subtracts_covered_child_time():
    assert covered_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    spans = [
        {"id": 0, "parent": None, "name": "pass", "start_s": 0.0, "end_s": 10.0},
        {"id": 1, "parent": 0, "name": "queries.build", "start_s": 0.0, "end_s": 4.0},
        {"id": 2, "parent": 1, "name": "catalyst.analysis", "start_s": 3.0, "end_s": 4.0},
        {"id": 3, "parent": 0, "name": "spark.execute", "start_s": 4.0, "end_s": 9.0},
    ]
    assert self_times(spans, 0) == {"bench": 1.0, "queries": 3.0, "catalyst": 1.0, "spark": 5.0}
