"""Dump a compact physical-plan summary for every registered query → PLANS.md.

The 100 TB contract in reviewable form: per query, the physical operator
tree (one line per node), scan pushdown lines, and shuffle/broadcast
counts. `tests/test_plan_quality.py` asserts the load-bearing properties;
this artifact makes all of them inspectable at once.

With ``--tag``, it instead writes each query's full formatted plan to
``plans/<tag>/<name>.txt`` and prints the output schema — run it with
``--tag before`` and ``--tag after`` around a change, then
``diff -r plans/before plans/after``.

Usage::

    python tools/dump_plans.py [--sf-dir ...] [--out PLANS.md] [--names NAME ...]
    python tools/dump_plans.py --tag before --names q1_pricing_summary ...
"""

from __future__ import annotations

import argparse
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dmi_ingestor_spark.registry import load_all  # noqa: E402
from dmi_ingestor_spark.session import get_spark  # noqa: E402

NODE_RE = re.compile(r"^\(\d+\) ([A-Za-z0-9_.]+)")


def summarize(plan: str) -> tuple[list[str], list[str]]:
    nodes = [m.group(1) for ln in plan.splitlines() if (m := NODE_RE.match(ln))]
    pushed = [
        ln.strip()
        for ln in plan.splitlines()
        if "PushedFilters" in ln and "PushedFilters: []" not in ln
    ]
    return nodes, pushed


def formatted_plan(spark, df) -> str:
    return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def build(spark, registry, name: str, sf_dir: str):
    """Build one query on an empty cache, so its plan does not depend on
    what earlier builders in the session cached (a materialized cache
    turns a subtree into a cached scan and can drop an exchange)."""
    spark.catalog.clearCache()
    return registry[name].builder(spark, sf_dir)


def dump_tagged(spark, registry, names, sf_dir: str, tag: str) -> None:
    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = build(spark, registry, name, sf_dir)
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(formatted_plan(spark, df))
        print(f"{name}\t{df.schema.simpleString()}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=os.path.join(REPO, "PLANS.md"))
    ap.add_argument("--names", nargs="+", help="only these queries (default: all)")
    ap.add_argument("--tag", help="write full plans to plans/<tag>/ instead of the summary")
    args = ap.parse_args()

    registry = load_all()
    names = args.names or sorted(registry)
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    if args.tag:
        dump_tagged(spark, registry, names, args.sf_dir, args.tag)
        return 0

    lines = [
        "# Physical plans (generated by tools/dump_plans.py)",
        "",
        f"One summary per registered query at `{args.sf_dir}`: physical node",
        "counts, shuffle (`Exchange`) / broadcast occurrences, and non-empty",
        "parquet pushdown entries. Regenerate after plan-affecting changes.",
        "",
    ]
    for name in names:
        try:
            plan = formatted_plan(spark, build(spark, registry, name, args.sf_dir))
        except Exception as e:  # noqa: BLE001
            lines += [f"## {name}", "", f"(plan unavailable: {type(e).__name__}: {e})", ""]
            continue
        nodes, pushed = summarize(plan)
        counts: dict[str, int] = {}
        for n in nodes:
            counts[n] = counts.get(n, 0) + 1
        n_shuffle = counts.get("Exchange", 0)
        n_bcast = sum(v for k, v in counts.items() if k.startswith("Broadcast"))
        node_str = ", ".join(f"{k}×{v}" if v > 1 else k for k, v in sorted(counts.items()))
        lines += [
            f"## {name}",
            "",
            f"- shuffles (Exchange): **{n_shuffle}**, broadcast nodes: **{n_bcast}**",
            f"- nodes: {node_str}",
        ]
        lines += [f"- {p}" for p in pushed[:4]]
        lines.append("")

    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {args.out} ({len(names)} queries)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
