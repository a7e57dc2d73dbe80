"""Duplicate-cluster resolution: connected components over a
candidate-pair edge list (the step after LSH/fuzzy matching — groups of
mutual near-duplicates collapse to one canonical id).

Iterative min-label propagation (the simple variant of the
small-star/large-star map-reduce algorithm): every node repeatedly
adopts the smallest component id among itself and its neighbors;
converges in O(component diameter) rounds. Spark can't express the
fixpoint declaratively, so this is a driver-side loop of joins —
each round checkpoints to truncate lineage (without that, iteration N
replays rounds 1..N-1), and convergence is an exact changed-label
count, so termination is data-driven, not guessed. The count comes
from the labeling pass itself: a label changes exactly when its
neighbors' minimum is below it, and an ``Observation`` on the frame
being checkpointed counts those rows, so a round is one Spark action.

At 100 TB: per-round cost is one join + one groupBy on (node) — both
partitioned by node id; rounds ≈ diameter of the LARGEST near-dup
cluster, which for dedup workloads is small (dup clusters are dense).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .scale import durable_checkpoint as _durable


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(src, dst) undirected edges → (node, component) with component =
    min node id of the connected component. Isolated endpoints appear
    with component = themselves; nodes absent from ``edges`` are
    unknown to this function (join the full population afterwards).

    If min-label propagation has not reached a fixpoint after
    ``max_iter`` rounds (component diameter > max_iter — long
    chain-shaped clusters), labels would be silently wrong, so it
    raises instead; a ``max_iter`` below 1 is rejected before any Spark
    work. Per-round lineage truncation is executor-local unless
    ``SPARK_GRAFT_CHECKPOINT_DIR`` names a reliable directory."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    sym = _durable(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    labels = _durable(
        sym.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        round_changes = Observation()
        labels = _durable(
            labels.join(neighbor_min, "node", "left")
            .observe(
                round_changes,
                F.count(F.when(F.col("nbr_component") < F.col("component"), 1)).alias("changed"),
            )
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("component"),
            )
        )
        changed = round_changes.get["changed"]
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter (component "
            "diameter exceeds it)"
        )
    return labels
