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
from dmi_ingestor_spark.session import add_package_to_worker_path  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _with_worker_path(
    builder: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """``builder``, first putting the repo on the Python workers'
    ``PYTHONPATH`` (``session.add_package_to_worker_path``)."""

    @functools.wraps(builder)
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        add_package_to_worker_path(spark)
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
