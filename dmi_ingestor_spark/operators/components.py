"""Connected components over a pair graph (dedup clustering).

Near-dup detection (``queries/dedup.py``) emits PAIRS; a pipeline that
drops duplicates needs CLUSTERS — the transitive closure of the pair
graph, each doc labeled with its component (min doc_id by convention).

Algorithm: min-label propagation with hooking and pointer doubling (the
round body of FastSV, Zhang, Azad & Hu, SIAM PP 2020). Every node holds
a label: a node of its own component, no larger than itself. A round

1. gives every node the minimum label among itself and its neighbors;
2. hooks: the node a label names also takes the lowest label that any
   neighbor of its holders carries;
3. shortcuts: every node follows its label one more hop, which hands a
   hooked label to every holder of the hooked node.

Without step 2 a local-minimum label spreads one hop per round: a path
with randomly permuted ids needs thousands of rounds at 10⁴ nodes. With
it, paths in any id order converge in about log2(n) rounds.

A round that changes no label ends the loop. At that fixed point every
label is its own label and both ends of every edge share one, so each
component carries a single label: its minimum. Reaching ``MAX_ROUNDS``
raises instead of returning unconverged labels.

Cost: the symmetric edge set is checkpointed once. Each round is one lazy
plan over the EDGE set — never the corpus — ending in one eager
``localCheckpoint`` that also cuts the lineage; the round's changed-label
count is observed on that checkpoint, so a round runs exactly one action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

MAX_ROUNDS = 64


def connected_components(edges: DataFrame, src: str = "a", dst: str = "b") -> DataFrame:
    """(node, component) for every node in `edges`; component = min node
    id reachable. Edges are treated as undirected."""
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # step 1 of the first round, folded into the initial labels
    labels = sym.groupBy(F.col("u").alias("node")).agg(
        F.least(F.col("node"), F.min("v")).alias("component")
    )
    for _ in range(MAX_ROUNDS):
        # steps 1 and 2: every edge (u, v) offers v's label to u and to
        # the node u's label names; each node keeps its old label as `prev`
        lu = labels.select(F.col("node").alias("u"), F.col("component").alias("lu"))
        lv = labels.select(F.col("node").alias("v"), F.col("component").alias("lv"))
        offers = sym.join(lu, "u").join(lv, "v").select(
            F.explode(F.array("u", "lu")).alias("node"),
            F.col("lv").alias("component"),
            F.lit(None).alias("prev"),
        )
        hooked = (
            labels.withColumn("prev", F.col("component"))
            .unionByName(offers)
            .groupBy("node")
            .agg(F.min("component").alias("component"), F.max("prev").alias("prev"))
        )
        # step 3: shortcut
        lk = hooked.select(
            F.col("node").alias("lk_node"), F.col("component").alias("lk_comp")
        )
        changed = Observation()
        labels = (
            hooked.join(lk, hooked.component == lk.lk_node, "left")
            .select("node", "prev", F.least("component", "lk_comp").alias("component"))
            .observe(
                changed, F.count_if(F.col("component") != F.col("prev")).alias("n")
            )
            .drop("prev")
            .localCheckpoint(eager=True)
        )
        if changed.get["n"] == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {MAX_ROUNDS} rounds"
    )
