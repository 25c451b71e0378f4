"""The driver consumes bench.py's stdout as ONE JSON line — a syntax
error or a stray print would void the round's BENCH artifact. Run the
real CLI at sf0.001 and validate the contract."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time


def test_bench_emits_one_json_line():
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001")
    # timeout: 420s was calibrated on the r2-r8 hosts; the r9-opt host
    # ran Spark stages ~10x slower and blew 420s with UNCHANGED code,
    # so r9 raised it to a flat 2400s. Round 10 (ADVICE r9): calibrate
    # per host instead of a fixed worst-case constant, so a genuine
    # 5-10x engine slowdown still fails here on a healthy host — one
    # tiny reference Spark job is timed and the budget scales with it,
    # clamped to [420s, 2400s]. SPARK_GRAFT_BENCH_TIMEOUT overrides.
    override = os.environ.get("SPARK_GRAFT_BENCH_TIMEOUT")
    if override:
        budget = float(override)
    else:
        t0 = time.perf_counter()
        probe = subprocess.run(
            [
                sys.executable,
                "-c",
                "from dmi_ingestor_spark.session import get_spark;"
                "s = get_spark('bench-timeout-probe');"
                "s.sparkContext.setLogLevel('ERROR');"
                "s.range(10**6).selectExpr('sum(id)').collect()",
            ],
            capture_output=True,
            text=True,
            timeout=600,
            env=env,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        assert probe.returncode == 0, probe.stderr[-1000:]
        ref = time.perf_counter() - t0
        # ~10s session+job on the r2-r8 hosts -> 420s budget (42x);
        # a 10x-slower host calibrates to the old 2400s ceiling
        budget = min(max(42.0 * ref, 420.0), 2400.0)
    r = subprocess.run(
        [sys.executable, "bench.py"],
        capture_output=True,
        text=True,
        timeout=budget,
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    line = r.stdout.strip().splitlines()[-1]
    doc = json.loads(line)
    assert doc["unit"] == "sec" and doc["sf"] == 0.001
    assert doc["value"] > 0
    from bench import BENCH_QUERIES

    assert set(doc["queries"]) == set(BENCH_QUERIES)
    assert all(v >= 0 for v in doc["queries"].values())


def test_oracle_check_cli_contract():
    """tools/oracle_check.py is the local replica of the driver's t2
    gate — its CLI (arg parsing, per-query PASS lines, exit code) must
    keep working, including --vanilla."""
    r = subprocess.run(
        [
            sys.executable,
            "tools/oracle_check.py",
            "--sf-dir",
            "/root/testdata/sf0.001",
            "q1_pricing_summary",
            "agg_approx_distinct",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.returncode == 0, r.stdout[-1500:] + r.stderr[-500:]
    assert "PASS q1_pricing_summary" in r.stdout
    assert "ROWS-ONLY agg_approx_distinct" in r.stdout
    assert "1 pass, 0 fail, 1 rows-only of 2" in r.stdout


def test_oracle_duck_memory_limit_within_physical_memory(duck):
    """The oracle's DuckDB memory limit is derived from the host: a limit
    above physical memory lets DuckDB grow until the kernel OOM-kills the
    checker instead of spilling."""
    value, unit = duck.execute(
        "SELECT current_setting('memory_limit')"
    ).fetchone()[0].split()
    scale = {"bytes": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < float(value) * scale[unit] <= phys


def test_entry_kernels_run_from_another_directory(tmp_path, sf_dir):
    """A driver started outside the repo, with no ``PYTHONPATH``, runs
    Python kernels that call module-level helpers of
    ``dmi_ingestor_spark``, so its workers must import the package too:

    - ``run_ingest``, with the package imported through ``sys.path``, on
      a one-cube transport defined in the script (its ``fetch_grid``
      kernel ships ``decode_cube``/``cube_grid`` by import path);
    - a builder of ``__spark_entry__`` loaded by path, whose kernel calls
      ``aggregates._tdiv``.
    """
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = (
        "import importlib.util, sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from pyspark.sql import SparkSession\n"
        "from dmi_ingestor_spark.ingest.pipeline import run_ingest\n"
        "from dmi_ingestor_spark.sources.cube_format import encode_cube, synthetic_cube\n"
        "from dmi_ingestor_spark.sources.http_edr import IngestConfig\n"
        "spark = SparkSession.builder.master('local[2]').config('spark.ui.enabled', 'false').getOrCreate()\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "res = run_ingest(spark, IngestConfig(parameters=('p',)), 'bucket', "
        "lambda url: encode_cube(synthetic_cube('p')))\n"
        "print(res.n_rows, len(res.failed_parameters))\n"
        # back to the session's starting environment, so the entry
        # builder below has to put the repo on the worker path itself
        "spark.sparkContext.environment.pop('PYTHONPATH')\n"
        f"spec = importlib.util.spec_from_file_location('__spark_entry__', {repo!r} + '/__spark_entry__.py')\n"
        "E = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(E)\n"
        f"rows = E.queries()['ts_holt_linear_smoothing'](spark, {sf_dir!r}).collect()\n"
        "print(len(rows))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", child],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    ingested, holt = r.stdout.strip().splitlines()[-2:]
    assert ingested == "256 0"  # 4 timesteps x 8 x 8 cells, no failed parameter
    assert int(holt) > 0
