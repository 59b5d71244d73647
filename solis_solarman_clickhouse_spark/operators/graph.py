"""Connected components over a pair list — the clustering step that turns
near-dup PAIRS into dedup GROUPS (keep one doc per component, drop the
rest). Spark has no native graph operator; this is min-label propagation
expressed as DataFrame joins:

    label(v) <- min(label(v), min over neighbors u of label(u))

iterated to fixpoint. Each round relays every node's label along the
undirected edge list and takes one per-node MIN (one relay join + one
map-side-combinable aggregation); rounds needed = graph diameter, and
near-dup graphs are overwhelmingly tiny cliques (diameter 1-2), so 3-5
rounds close real corpora. The driver loop only checks a per-round
convergence COUNT — the data never leaves the cluster (no collect of
nodes/edges), which is what makes this shape survive 100 TB where a
driver-side union-find cannot.

The loop runs on caching.fixpoint, whose docstring carries the
checkpoint-per-round rationale and the release contract; the same
:func:`min_label_round` drives the fixed-unroll graph_connected_components
and graph_modularity in queries/graph.py. In-loop exchanges are sized
from the measured node count (session.loop_partitions) instead of the
caller's shuffle conf — the first convergence probe returns the count for
free. AQE stays ON here, unlike the affinity-graph loops: near-dup
components have hot nodes (a 10^4-copy boilerplate doc is one giant
star), so the skew-join safety net is load-bearing at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import fixpoint, tracked_checkpoint, unchanged


def min_label_round(edges: DataFrame):
    """One min-label round as a :func:`caching.fixpoint` step over the
    undirected edge list ``edges(s, t)`` and a ``(node, lbl)`` label
    state: each edge relays its ``t`` end's label to ``s``, the relayed
    labels UNION the nodes' own, and one per-node MIN closes the round.
    Equal to label <- least(label, min neighbor label) round for round."""

    def step(labels: DataFrame, _r: int) -> DataFrame:
        relayed = edges.join(
            labels.select(F.col("node").alias("t"), "lbl"), "t"
        ).select(F.col("s").alias("node"), "lbl")
        return labels.unionAll(relayed).groupBy("node").agg(F.min("lbl").alias("lbl"))

    return step


def connected_components(
    pairs: DataFrame, *, src: str = "doc_a", dst: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Min-label connected components from an undirected pair list.
    Returns (node, component) where component = min node id reachable.
    Deterministic: min-label is order-independent."""
    from ..session import loop_partitions, pinned_shuffle

    spark = pairs.sparkSession
    edges = pairs.select(F.col(src).alias("s"), F.col(dst).alias("t"))
    edges = edges.union(edges.select(F.col("t").alias("s"), F.col("s").alias("t")))
    edges = edges.distinct().transform(tracked_checkpoint)

    labels = (
        edges.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .transform(tracked_checkpoint)
    )

    # Convergence test: labels only ever DECREASE under min-propagation, so
    # sum(label) is strictly monotone while any node changes — an unchanged
    # sum IS the fixpoint. One scalar aggregate over the (checkpointed)
    # label table per round, instead of a self-join + count. Decimal(38,0)
    # accumulation so 64-bit ids at corpus scale can't overflow the probe.
    # The first probe also returns the node count, which sizes the loop's
    # exchanges (undirected edges ≈ a few x nodes for near-dup graphs; the
    # conservative x8 keeps the estimate an overcount, never an undercount).
    def probe(df: DataFrame):
        row = df.agg(
            F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        return row["s"], row["n"]

    label_sum, n_nodes = probe(labels)
    with pinned_shuffle(spark, loop_partitions(spark, (n_nodes or 0) * 8)):
        labels, _ = fixpoint(
            labels, min_label_round(edges), max_iter,
            until=unchanged(lambda df: probe(df)[0], label_sum),
        )
    return labels.select(F.col("node"), F.col("lbl").alias("component"))
