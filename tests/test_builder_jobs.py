"""Builder-time Spark job budget.

A query builder may run Spark jobs before it returns its DataFrame:
iterations, checkpoints, plan-time reads. This counts the jobs one
builder call runs at sf0.001, from the status tracker under a job group.
Jobs are a far steadier counter than wall time, but not an exact one:
AQE runs independent query stages concurrently and re-plans as each one
finishes, so a count moves by a few jobs from run to run. Each pin is the
largest count seen in seven fresh sessions, plus 2. A warm session (tables
already read) runs fewer jobs, so a pin holds in any test order.

Pins may only go down: a change that removes jobs lowers its pin (and
says so in CHANGES.md); a change that adds jobs fails here.

A builder that only reads tables through ``catalog.table`` runs no
builder-time job, since the catalog declares the schemas (no footer
inference). Its pin is exact, 0: with no job, AQE has nothing to vary.
"""

from __future__ import annotations

import pytest

from bench import _CANARY_REF_SF01
from dmi_ingestor_spark.registry import load_all
from perfbench.workloads import QUERIES

# the four callers of operators/components.py::connected_components;
# before its one-checkpoint-per-round rewrite they ran 47, 47, 45 and 54,
# and before the catalog declared its schemas the pins were 30, 31, 25, 42
BUILDER_JOB_PINS = {
    "dedup_components": 29,
    "dedup_cluster_select": 29,
    "analytics_identity_stitching": 25,
    "cluster_dbscan_labels": 38,
}


# the benchmark's queries and the bench's drift canaries
ZERO_JOB_BUILDERS = sorted({*QUERIES, *_CANARY_REF_SF01})


def _builder_jobs(spark, sf_dir, name: str) -> int:
    sc = spark.sparkContext
    group = f"builder-jobs-{name}"
    sc.setJobGroup(group, f"{name} builder job budget")
    try:
        load_all()[name].builder(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(BUILDER_JOB_PINS))
def test_builder_jobs_within_pin(spark, sf_dir, name):
    jobs = _builder_jobs(spark, sf_dir, name)
    assert jobs <= BUILDER_JOB_PINS[name], (name, jobs)


@pytest.mark.parametrize("name", ZERO_JOB_BUILDERS)
def test_builder_runs_no_jobs(spark, sf_dir, name):
    assert _builder_jobs(spark, sf_dir, name) == 0
