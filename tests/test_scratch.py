"""Builders leave the disk as they found it.

Every directory or table the engine writes for its own use comes from
``ingest/fs.py::scratch_dir``: one ``spark-graft-*`` root per process,
removed at exit. These tests pin that contract from three sides: the
source (no other temp-path scheme exists), a child process (the root
goes when it exits), and a Spark session (six writing builders add
nothing to ``TMPDIR`` or the warehouse beyond the root). The last test
is the regression for a materialized view that was reused across runs
after its fact table changed.
"""

from __future__ import annotations

import ast
import json
import os
import pathlib
import shutil
import subprocess
import sys
import tempfile

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq

from dmi_ingestor_spark.registry import load_all
from tools.oracle_check import compare, normalize

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = REPO / "dmi_ingestor_spark"
HELPER = PKG / "ingest" / "fs.py"


def _sources():
    for path in sorted(PKG.rglob("*.py")):
        yield path, path.read_text()


def test_temp_paths_come_from_one_helper():
    offenders = [
        f"{path.relative_to(REPO)}:{n}"
        for path, src in _sources()
        if path != HELPER
        for n, line in enumerate(src.splitlines(), 1)
        if "mkdtemp(" in line or "gettempdir(" in line
    ]
    assert not offenders, offenders


def test_every_saved_table_has_an_explicit_path():
    """A ``saveAsTable`` without ``option("path", ...)`` is a managed
    table, whose files land in ``spark.sql.warehouse.dir`` (by default
    the caller's working directory) and outlive the process."""
    offenders = []
    for path, src in _sources():
        for fn in ast.walk(ast.parse(src)):
            if not isinstance(fn, ast.FunctionDef):
                continue
            calls = [c for c in ast.walk(fn) if isinstance(c, ast.Call)]
            saves = [
                c for c in calls
                if isinstance(c.func, ast.Attribute) and c.func.attr == "saveAsTable"
            ]
            has_path = any(
                isinstance(c.func, ast.Attribute)
                and c.func.attr == "option"
                and c.args
                and isinstance(c.args[0], ast.Constant)
                and c.args[0].value == "path"
                for c in calls
            )
            if saves and not has_path:
                offenders.append(f"{path.relative_to(REPO)}::{fn.name}")
    assert not offenders, offenders


def test_scratch_root_is_one_per_process_and_removed_at_exit(tmp_path):
    child = (
        "import json, os\n"
        "from dmi_ingestor_spark.ingest.fs import scratch_dir\n"
        "a, b = scratch_dir('t'), scratch_dir('t')\n"
        "print(json.dumps([a, b, os.path.isdir(a), os.path.isdir(b)]))\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=str(REPO))
    out = subprocess.run(
        [sys.executable, "-c", child],
        env=env, cwd=tmp_path, capture_output=True, text=True, check=True,
    )
    a, b, a_made, b_made = json.loads(out.stdout.strip().splitlines()[-1])
    assert a != b and a_made and b_made
    root = os.path.dirname(a)
    assert os.path.dirname(b) == root
    assert os.path.dirname(root) == str(tmp_path)
    assert os.path.basename(root).startswith("spark-graft-")
    assert not os.path.exists(root)
    assert os.listdir(tmp_path) == []


_WRITERS = (
    "lake_time_travel_read",
    "ingest_sized_file_split",
    "raster_overview_stats",
    "join_dpp_partition_prune",
    "bucketed_colocated_join",
    "lake_mv_rollup_rewrite",
)


def _listing(path: str) -> set[str]:
    return set(os.listdir(path)) if os.path.isdir(path) else set()


def test_writing_builders_leave_nothing_outside_the_scratch_root(spark, sf_dir):
    registry = load_all()
    tmp = tempfile.gettempdir()
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    before_tmp, before_wh = _listing(tmp), _listing(warehouse)
    for name in _WRITERS:
        registry[name].builder(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    new_tmp = sorted(_listing(tmp) - before_tmp)
    assert len(new_tmp) <= 1, new_tmp
    assert all(e.startswith("spark-graft-") for e in new_tmp), new_tmp
    assert sorted(_listing(warehouse) - before_wh) == []


def test_mv_rollup_reads_the_fact_as_it_is_now(spark, sf_dir, tmp_path):
    """The view is rebuilt on each call: after the fact table loses
    every ``N`` row, the rollup must match the oracle over what is left,
    not the view built from the first version."""
    spec = load_all()["lake_mv_rollup_rewrite"]
    sf = tmp_path / "sf"
    sf.mkdir()
    li = sf / "lineitem.parquet"
    shutil.copyfile(f"{sf_dir}/lineitem.parquet", li)
    first = spec.builder(spark, str(sf)).toPandas()
    assert "N" in set(first["l_returnflag"])

    full = pq.read_table(li)
    pq.write_table(full.filter(pc.not_equal(full["l_returnflag"], "N")), li)
    second = spec.builder(spark, str(sf)).toPandas()

    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{li}'")
    expect = con.execute(spec.oracle).fetchdf()
    assert "N" not in set(expect["l_returnflag"])
    problems = compare(spec.name, normalize(second), normalize(expect))
    assert not problems, problems
