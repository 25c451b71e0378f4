"""Registry-wide physical-plan hygiene audit.

Scans every registered query's plan for scale antipatterns:

- ``BatchEvalPython``   — row-at-a-time Python UDF (the slow path; every
                          Python hop in this engine must be Arrow-batched:
                          ArrowEvalPython / MapInPandas / MapInArrow /
                          FlatMapGroupsInPandas)
- ``CartesianProduct``  — an unbroadcast cross join (O(n*m) shuffle work);
                          intentional cross shapes must broadcast one side
                          (BroadcastNestedLoopJoin)
- ``Exchange SinglePartition`` — a stage that funnels ALL rows through one
                          task; legitimate only when the funneled relation
                          is provably tiny (already-aggregated/bounded), so
                          every use must be allowlisted with a reason

Run as a script for a report; ``audit()`` powers the pytest gate
(tests/test_plan_audit.py) so a regression in ANY of the 280+ queries
fails CI, not a code review.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

# Queries allowed an Exchange SinglePartition, with the bounded relation
# that makes it safe. A global ORDER BY / window over an ALREADY-REDUCED
# relation (group counts, score grain, month spine...) is O(groups), not
# O(rows) — the funnel carries a summary, never the input.
SINGLE_PARTITION_OK: dict[str, str] = {
    # global sort of an aggregated/bounded output (rows = groups)
    "agg_rollup_region_nation": "sorted rollup output, O(groups) rows",
    "agg_cube_status_priority": "sorted cube output, O(groups) rows",
    "agg_grouping_sets": "sorted grouping-sets output, O(groups) rows",
    "ml_auc_exact": "rank window over the SCORE-GRAIN relation (distinct scores)",
    "ml_propensity_caliper_matching": (
        "prev/next-control windows over the SCORE-GRAIN union "
        "(distinct cent scores, bounded by the acctbal domain ~1.1e6)"
    ),
    "ml_chi2_feature_selection": "final top-k sort of token-grain chi2 rows",
    "recursive_month_spine": "84-row generated month spine",
    "ts_gapfill_interpolate": "spine join output, O(series x buckets)",
    "profile_table_stats": "3-row profile reshape",
    "ts_cusum_changepoint": "prefix window over the O(months) summary series",
    "ml_poisson_bootstrap_ci": "order statistics over the 20 replicate means",
    "ts_obv_indicator": "lag/prefix windows over the O(months) summary series",
    "ts_control_chart_nelson": "lag/rolling windows over the O(days) summary series",
    "ts_runs_test": "median selection + lag over the O(months) summary series",
    "ts_max_drawdown": "prefix windows over the O(months) summary series",
    "pivot_status_by_flag": "sorted pivot output, O(status x flag)",
    "unpivot_part_measures": "sorted unpivot of a bounded projection",
    # entries below were surfaced when the detector learned to read
    # formatted-mode plans (round 3); each funnel is a 1-row / k-row
    # already-aggregated relation
    "cluster_kmeans_embeddings": "k centroid rows collapsed to one array row per round",
    "dedup_semantic_cluster": "same k-row centroid collapse as cluster_kmeans_embeddings",
    "ml_logreg_gradient_step": "1-row global gradient sufficient-statistics aggregate",
    "analytics_basket_lift": "1-row basket-count aggregate broadcast into the lift join",
    "dedup_lsh_recall_eval": "three 1-row count aggregates crossJoined into the summary row",
    "analytics_mom_growth": "lag window over the O(months) monthly summary series",
    "analytics_rfm_segments": "collect_list of partition counts inside sharded_row_number (#parts rows)",
    "analytics_revenue_concentration": "sharded_row_number partition-count aggregate (#parts rows)",
    "agg_histogram_equifreq": "sharded_row_number partition-count aggregate (#parts rows)",
    "skyline_pareto_parts": "phase-2 window over the union of 32 per-bucket skylines (skyline-sized)",
    "sql_api_correlated_subqueries": "uncorrelated scalar AVG subquery: 1-row broadcast",
    "ts_bollinger_bands": "trailing window over the O(months) summary series",
    "ts_longest_growth_streak": "lag/prefix windows over the O(months) summary series",
    "ml_ks_drift_binned": "CDF window over the O(price-domain/100) bin summary",
    "ml_wasserstein_drift_binned": "CDF prefix window over the O(price-bins) summary (~60 rows)",
    "ml_decision_stump_exact": (
        "prefix-sum + total window and best-split min over the "
        "per-threshold aggregate (O(distinct feature values) rows; real "
        "split-finders bin to <=256)"
    ),
    "ml_gbdt_second_order_gain": (
        "prefix-sum + total g/h window + top-1 sort over the O(bins) "
        "histogram summary (~20 price bins; hist-mode GBDTs bin to <=256)"
    ),
    "analytics_survival_kaplan_meier": "cum windows + ordered fold over the O(months) summary series",
    "text_heaps_law_fit": "cum windows + OLS fold over the 50-row checkpoint summary",
    "ml_isotonic_calibration": (
        "prefix-sum + interval-mean windows over the O(price-bins) "
        "summary (~50 rows; real calibrators bin to <=1k)"
    ),
    "ml_lift_gain_deciles": (
        "cumulative-gain window over the 10-row per-decile aggregate; "
        "the fact-scale ranking itself is sharded_row_number"
    ),
    "ts_seasonal_decompose": "moving-sum window over the 30-row daily summary spine",
    "dq_anomaly_rolling_zscore": "trailing window over the 30-row daily summary spine",
    "ml_error_slice_finder": (
        "worst-k rank window over the O(segments x years) cell "
        "aggregate (~35 rows after the support floor)"
    ),
    "ts_period_detect_argmax": (
        "phase-index rank window + top-1 sort over the O(months) "
        "summary series"
    ),
    "ts_changepoint_binseg": (
        "prefix/rank windows + pairwise argmax over the O(months) "
        "summary series (~79 rows)"
    ),
    "dq_sequence_gap_audit": (
        "boundary-stitch lead window over the O(key-range/1024) bucket "
        "summary (min,max per bucket) — the row-grain LAG is bucket-"
        "partitioned; only the bucket-grain stitch funnels"
    ),
    "sample_neyman_allocation": (
        "largest-remainder rank window over the O(strata) summary "
        "(~5 event-type rows; the corpus-scale pass is the one "
        "sufficient-statistics groupBy above it)"
    ),
}


def _has_bad_single_partition(plan: str) -> bool:
    """True when the plan has an Exchange SinglePartition that is NOT the
    canonical global-aggregate funnel.

    A global aggregate always plans ``Aggregate(final) <- Exchange
    SinglePartition <- Aggregate(partial)``: the map-side partial reduces
    every partition to one row, so the funnel carries #partitions rows —
    scale-safe by construction at any input size. Anything else funneling
    through one task (global Sort/Window over row-grain data, a
    single-partition write) needs an explicit allowlist reason.
    """
    if "Exchange SinglePartition" in plan:
        return True  # simple-mode rendering: no child context, stay strict
    lines = plan.splitlines()
    # node ids whose detail section says SinglePartition
    sp_ids: set[str] = set()
    current = None
    for ln in lines:
        if ln.startswith("(") and ")" in ln:
            current = ln[1 : ln.index(")")]
        elif "Arguments: SinglePartition" in ln and current is not None:
            sp_ids.add(current)
    if not sp_ids:
        return False
    # in the tree section, check each flagged exchange's neighbours
    tree_end = next(
        (i for i, l in enumerate(lines) if l.startswith("(1)")), len(lines)
    )
    # AQE interposes bookkeeping nodes between the aggregate pair and
    # the exchange (HashAggregate <- ShuffleQueryStage <- Exchange <-
    # HashAggregate, plus "== Final Plan ==" banners inside reused
    # InMemoryRelation subplans) — skip them when looking for the
    # partial+final sandwich.
    _WRAPPERS = (
        "ShuffleQueryStage",
        "TableCacheQueryStage",
        "ResultQueryStage",
        "BroadcastQueryStage",
        "AQEShuffleRead",
        "== Final Plan ==",
        "== Initial Plan ==",
        "Statistics(",
    )

    def _neighbor(i: int, step: int) -> str:
        j = i + step
        while 0 <= j < len(lines):
            l = lines[j]
            if l.strip() and not any(w in l for w in _WRAPPERS):
                return l
            j += step
        return ""

    for nid in sp_ids:
        needle = f"Exchange ({nid})"
        pos = [i for i, l in enumerate(lines) if needle in l]
        if not pos:
            return True  # unmatched id: stay strict
        ok = True
        for i in pos:
            parent = _neighbor(i, -1)
            child = _neighbor(i, +1)
            if not ("Aggregate" in parent and "Aggregate" in child):
                ok = False
                break
        if ok:
            continue  # every occurrence is a partial+final sandwich
        return True
    return False


# Formatted-plan string size cap (bytes). An unrolled iterative builder
# whose rounds compound lineage produces plans that grow multiplicatively
# — at some round count AQE's plan *stringification alone* OOMs the
# driver (observed: graph_kcore_decomposition pre-r4, InMemoryRelation
# x21, java.lang.OutOfMemoryError in TreeNode.generateTreeString during
# a long-lived-session sweep). The fix is per-round localCheckpoint;
# this cap turns the hazard into a CI failure instead of a driver crash.
PLAN_SIZE_CAP = 1_000_000


def audit(plans: dict[str, str]) -> dict[str, list[str]]:
    """plans: name -> formatted physical plan. Returns name -> violations."""
    bad: dict[str, list[str]] = {}
    for name, plan in plans.items():
        problems = []
        if plan.startswith("PLAN-ERROR"):
            # builder-time failure IS a finding: without this, a crashing
            # builder silently passes the standalone audit (ADVICE r2 #5)
            bad[name] = [plan.splitlines()[0]]
            continue
        if "BatchEvalPython" in plan:
            problems.append("row-at-a-time Python UDF (BatchEvalPython)")
        if "CartesianProduct" in plan:
            problems.append("unbroadcast cross join (CartesianProduct)")
        # formatted-mode plans render the exchange as "Exchange (n)" with
        # "Arguments: SinglePartition, ..." on a separate line; simple-mode
        # renders "Exchange SinglePartition". Match either (round-3 fix:
        # the old substring was blind to formatted plans).
        if _has_bad_single_partition(plan) and name not in SINGLE_PARTITION_OK:
            problems.append("unjustified Exchange SinglePartition")
        if len(plan) > PLAN_SIZE_CAP:
            problems.append(
                f"formatted plan is {len(plan) / 1e6:.2f} MB "
                f"(cap {PLAN_SIZE_CAP / 1e6:.0f} MB): unrolled-iteration "
                "lineage blowup — localCheckpoint each round"
            )
        if problems:
            bad[name] = problems
    return bad


# Source-level rule (VERDICT r5 #4): no query module may materialize a
# fact-table relation to the driver unbounded. A ``.collect()`` /
# ``.toPandas()`` call is safe when its receiver chain is provably
# bounded — an aggregate (``.agg(`` / grouped), an explicit ``.limit(``,
# a ``.distinct()`` over a low-cardinality projection, a ``first/head``,
# or a dimension table (nation/region are 25/5 rows at every sf).
# Anything else is O(table) on the driver and silently grows with sf —
# exactly the fixture-builder failure mode flagged in VERDICT r5.
_COLLECT_SAFE_MARKERS = (
    ".limit(",
    ".agg(",
    ".head(",
    ".first(",
    ".distinct()",
    '"nation"',
    "'nation'",
    '"region"',
    "'region'",
)

# file:line -> reason, for call sites whose bound lives outside the
# receiver chain (e.g. a variable limited earlier). Keep EMPTY unless
# a reviewed site genuinely needs it.
COLLECT_OK: dict[str, str] = {}


def audit_collect_sources(queries_dir: str | None = None) -> dict[str, list[str]]:
    """Scan query-module SOURCE for unbounded driver materializations.
    Returns ``file.py:line -> [violation]`` (empty when clean)."""
    import ast
    import glob

    bad: dict[str, list[str]] = {}
    qdir = queries_dir or os.path.join(REPO, "dmi_ingestor_spark", "queries")
    for path in sorted(glob.glob(os.path.join(qdir, "*.py"))):
        with open(path, encoding="utf-8") as fh:
            src = fh.read()
        for node in ast.walk(ast.parse(src)):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("collect", "toPandas")
            ):
                continue
            seg = ast.get_source_segment(src, node) or ""
            if any(m in seg for m in _COLLECT_SAFE_MARKERS):
                continue
            key = f"{os.path.basename(path)}:{node.lineno}"
            if key in COLLECT_OK:
                continue
            bad.setdefault(key, []).append(
                f"unbounded driver materialization: .{node.func.attr}() "
                f"with no .limit()/aggregate on its chain: {seg[:100]!r}"
            )
    return bad


def collect_plans(
    spark, sf_dir: str, only: list[str] | None = None
) -> dict[str, str]:
    from dmi_ingestor_spark.registry import load_all

    plans = {}
    for name, spec in load_all().items():
        if only and name not in only:
            continue
        try:
            df = spec.builder(spark, sf_dir)
            plans[name] = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # builder-time failure is its own finding
            plans[name] = f"PLAN-ERROR: {exc}"
    return plans


def main() -> int:
    from dmi_ingestor_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:] or None
    src_bad = audit_collect_sources()
    for key, problems in sorted(src_bad.items()):
        print(f"{key}: {'; '.join(problems)}")
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    plans = collect_plans(spark, sf_dir, only)
    bad = audit(plans)
    for name, problems in sorted(bad.items()):
        print(f"{name}: {'; '.join(problems)}")
    print(
        f"{len(bad)} of {len(plans)} queries flagged; "
        f"{len(src_bad)} unbounded-collect source sites"
    )
    return 1 if (bad or src_bad) else 0


if __name__ == "__main__":
    raise SystemExit(main())
