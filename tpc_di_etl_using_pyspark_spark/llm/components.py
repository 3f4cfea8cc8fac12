"""Connected components over a pair/edge list — the clustering step of
a dedup pipeline (near-dup *pairs* → dup *clusters* → keep-one).

Pregel-style driver-coordinated min-label propagation: each node starts
with the smallest id among itself and its neighbours (the first
propagation step, folded into the label init); each superstep pushes
the smaller label across every edge (both directions) and keeps the
per-node min. The loop is the one place this engine runs an action per
iteration — the standard shape for iterative graph algorithms on Spark
(GraphX/GraphFrames do the same under the hood), converging in
O(component diameter) supersteps. Dedup graphs have tiny diameters
(dup clusters are stars or near-cliques), so one or two supersteps is
typical; ``max_iter`` bounds the worst case.

Scale posture: each superstep is one shuffle join (edges ⋈ labels on
node id) plus one keyed min-aggregation — no driver-side data beyond
the single convergence count. Every superstep's labels are
``localCheckpoint``ed: cached, and cut from the previous superstep's
lineage, so the label plan does not grow by one join per superstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 15,
) -> DataFrame:
    """(node, component) for every node in the edge list; component =
    min node id reachable. Nodes absent from ``edges`` are absent from
    the result (callers union in singletons if needed)."""
    both = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    # Materialize once: every superstep re-reads the edge relation, and
    # without truncation each iteration would re-run the whole upstream
    # lineage (and the label plan would grow by one join per superstep —
    # exponential analysis cost). localCheckpoint = cached + lineage cut;
    # lazy, so the label-init job below fills it instead of a job of its
    # own.
    both = both.localCheckpoint(eager=False)
    # init = one propagation step from the identity labelling: the
    # grouped node set is exactly the distinct ``a`` set, and
    # least(a, min(b)) is what the first superstep would produce, so
    # the fixpoint is unchanged and star graphs start converged
    labels = (
        both.groupBy(F.col("a").alias("node"))
        .agg(F.least(F.col("a"), F.min("b")).alias("component"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        msgs = both.join(labels, both.a == labels.node).select(
            F.col("b").alias("node"), F.col("component")
        )
        # convergence flag FUSED into the label aggregation: the old
        # row rides the union with an _old marker, so min(component)
        # and the node's previous component come out of the SAME
        # groupBy — the probe is a filter-scan of the already
        # checkpointed result, not a second shuffle job joining both
        # label sets. Every node has exactly one old row, so _prev is
        # never NULL and "changed" is exactly new≠old.
        new_labels = (
            labels.select("node", "component", F.lit(True).alias("_old"))
            .unionByName(msgs.withColumn("_old", F.lit(False)))
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("_old"), F.col("component"))).alias(
                    "_prev"
                ),
            )
            .withColumn("_chg", F.col("component") != F.col("_prev"))
            .drop("_prev")
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter("_chg").limit(1).count()
        labels = new_labels.select("node", "component")
        if changed == 0:
            converged = True
            break
    if not converged:
        # propagation distance = component diameter; silently returning
        # partial labels would be wrong-but-plausible output
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} supersteps "
            "(component diameter exceeds max_iter — raise max_iter or reduce "
            "graph diameter, e.g. star-shaped edges per cluster)"
        )
    return labels
