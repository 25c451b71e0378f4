"""SparkSession factory for tests/bench.

The driver supplies its own session to ``entry``/``queries`` — engine code
must therefore never *require* these configs for correctness; they are
pure performance tuning. Settings chosen for local[32] at sf<=0.1 while
staying sane on a real cluster (AQE coalesces the small-scale shuffles;
at 100 TB the same configs let AQE pick partition counts from stats).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "dmi-ingestor-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # the oracle-parity harness collects full results to compare;
        # output-bound queries (radius join: 62M pairs at sf0.75, ~110M
        # extrapolated at sf1) top the 1g default — a harness ceiling,
        # not a plan property; env-overridable for big-scale sweeps
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "4g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


# the directory that holds the dmi_ingestor_spark package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def add_package_to_worker_path(spark: SparkSession) -> None:
    """Append the package's root to the Python workers' ``PYTHONPATH``
    (an existing value is kept).

    Kernels that call module-level helpers of ``dmi_ingestor_spark`` are
    unpickled by import path, and a worker finds the package only through
    its working directory or ``PYTHONPATH``, so a driver started outside
    the repo would fail them with ``ModuleNotFoundError``. The session's
    worker environment is read when a Python function is created, so
    call this before creating one. It changes the environment once per
    session, so the first kernel after it may start a new worker daemon.
    """
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([*paths, _PACKAGE_ROOT])
