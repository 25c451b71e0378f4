"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``dmi_ingestor_spark``; this module only adapts
the registry to the driver's interface.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from dmi_ingestor_spark.registry import load_all  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _with_worker_path(
    builder: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """``builder``, first appending the repo to the Python workers'
    ``PYTHONPATH`` (an existing value is kept).

    Kernels that call module-level helpers of ``dmi_ingestor_spark`` are
    unpickled by import path, and a worker finds the package only through
    its working directory or ``PYTHONPATH``, so a driver started outside
    the repo would fail them with ``ModuleNotFoundError``. The session's
    worker environment is read when a Python function is created, so it
    is set before the builder runs.
    """

    @functools.wraps(builder)
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        env = spark.sparkContext.environment
        paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
        if _REPO_DIR not in paths:
            env["PYTHONPATH"] = os.pathsep.join([*paths, _REPO_DIR])
        return builder(spark, sf_dir)

    return build


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-shaped pricing summary) on sf0.001."""
    registry = load_all()
    return _with_worker_path(registry["q1_pricing_summary"].builder)(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _with_worker_path(spec.builder) for name, spec in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL twins; omitted for non-SQL-expressible ops."""
    return {
        name: spec.oracle for name, spec in load_all().items() if spec.oracle is not None
    }
