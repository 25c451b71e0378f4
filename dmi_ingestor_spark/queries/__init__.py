"""Query modules. Importing this package populates the registry.

The driver's per-round CORRECTNESS check covers the FIRST 50 registry
entries in insertion order, so ``_DRIVER_PRIORITY`` below explicitly
front-loads the queries that most need a fresh driver row this round.
Queries not in the priority list keep their import-order position
after it, so nothing is ever dropped — only rotated.

Round-8+ note (repeat each round until the backlog drains): the
never-driver-checked set is the registry minus the keys of all
``CORRECTNESS_r*.json`` files; rows-only-by-design names (streaming
execution, text_compression_ratio) are excluded from the hash rotation.
Start of the round-11 session: 536 registered, 523 oracle-bearing;
the ten ``CORRECTNESS_r*.json`` files name 489 distinct queries, so the
oracle-bearing never-checked backlog is 38. The round-11 rotation below
takes all 38 in registry order, then the seven tree-learner and
bootstrap builders rewritten onto the shared split sweep in
``queries/mllib.py``, then five recurrence builders rewritten onto
``operators/rowmap.fold_series``; the rewritten ones need a fresh
CORRECTNESS row. Compute the next rotation directly::

    set(REGISTRY) - set().union(*(json.load(open(f)) for f in
                                  glob.glob("CORRECTNESS_r*.json")))

oracle-bearing first (``name in oracle_sql()``), oldest families first.
"""

from dmi_ingestor_spark.queries import (  # noqa: F401
    aggregates,
    bucketing,
    clustering,
    dedup,
    graph,
    ingestion,
    joins,
    mllib,
    multimodal,
    pipeline_ops,
    raster,
    relational,
    scd,
    reshape,
    scalars,
    setops,
    similarity,
    spatial,
    streaming,
    textops,
    tpch,
    udaf,
    windows,
)
from dmi_ingestor_spark.registry import REGISTRY

# Round-11 rotation: the whole never-driver-checked oracle-bearing
# backlog (38 = 523 oracle-bearing - the 489 names across
# CORRECTNESS_r01..r10), in registry insertion order, then the seven
# mllib split-sweep builders, then five of the recurrence builders
# ported onto fold_series (analytics_survival_kaplan_meier, also
# ported, is already in the backlog); at most 50 names, the entries
# checked.
# NO rows-only-by-design names. Recompute each round with the recipe
# in the module docstring.
_DRIVER_PRIORITY = [
    "ts_gapfill_interpolate",
    "window_null_ordering",
    "analytics_top_paths",
    "ts_time_weighted_avg",
    "window_running_distinct",
    "analytics_cep_pattern",
    "analytics_mom_growth",
    "analytics_rfm_segments",
    "analytics_copurchase_pairs",
    "analytics_revenue_concentration",
    "sort_limit_offset_page",
    "ts_seasonal_naive_mae",
    "analytics_ab_test_z",
    "analytics_markov_transitions",
    "analytics_price_trend_ols",
    "analytics_item_item_cosine",
    "analytics_cohort_ltv_curve",
    "window_alert_debounce",
    "window_median_rolling",
    "analytics_max_concurrency",
    "analytics_heatmap_hour_type",
    "analytics_ratio_of_sums_pin",
    "window_forward_fill",
    "analytics_new_vs_returning",
    "analytics_basket_lift",
    "analytics_welch_t_test",
    "analytics_time_decay_engagement",
    "analytics_attribution_linear",
    "analytics_survival_kaplan_meier",
    "analytics_logrank_test",
    "window_regex_sequence_detect",
    "analytics_uplift_eval",
    "analytics_mix_shift_decomposition",
    "analytics_diff_in_diff",
    "analytics_shapley_attribution",
    "analytics_price_index_fisher",
    "analytics_identity_stitching",
    "analytics_qini_auuc",
    # rewritten onto the shared split sweep / Poisson weight
    "ml_decision_stump_exact",
    "ml_random_forest_stumps",
    "ml_oob_error_estimate",
    "ml_tree_depth2_exact",
    "ml_adaboost_round_exact",
    "ml_poisson_bootstrap_ci",
    "ml_gbdt_second_order_gain",
    # rewritten onto the one series fold (operators/rowmap.fold_series)
    "ts_holt_winters",
    "ts_holt_linear_smoothing",
    "ts_holt_winters_seasonal",
    "ml_viterbi_decode",
    "ts_dtw_distance",
]


def _reorder() -> None:
    ordered = {n: REGISTRY[n] for n in _DRIVER_PRIORITY if n in REGISTRY}
    for name, spec in REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder()
