"""Label propagation (community detection) — mode-label, deterministic.

Not shipped by the reference; required by the north_rule
(BASELINE.json:6) and specified to share CC's gather-scatter skeleton
with the combine step being the **most frequent neighbor label** with a
deterministic tie-break (higher count wins, then the LOWEST label id),
synchronous updates (every vertex recomputes from all neighbors' current
labels each superstep) until no label changes or ``max_supersteps``.

The mode aggregate is two hash aggregations instead of a window sort:
``groupBy(id, lbl).count`` (partial+final, map-side combined) followed by
``groupBy(id).max(struct(cnt, -lbl))`` — an order-free max-by that
avoids materializing a per-vertex sorted window at scale. Both shuffles
are on the vertex id, so they collapse into the existing co-partitioning.

Synchronous LPA can 2-cycle on bipartite-ish structures; the superstep
cap is therefore a semantic parameter, not just a safety net. Results
are exactly reproducible (integer counts, deterministic tie-break).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointManager
from ..partitioning import build_adjacency, symmetrize
from ..superstep import LoopResult, iterate, loop_scope


def label_propagation(
    edges: DataFrame,
    max_supersteps: int = 20,
    symmetrize_edges: bool = True,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    chunk_size: int = 4096,
    ckpt: CheckpointManager | None = None,
    resume: bool = True,
) -> tuple[DataFrame, LoopResult]:
    """Returns (DF(id, label), LoopResult)."""
    scale = 2 if symmetrize_edges else 1
    e = symmetrize(edges) if symmetrize_edges else edges.select("src", "dst")
    with loop_scope(edges, num_partitions, scale) as scope:
        p = scope.p
        verts = scope.vertices(vertices)
        adj = scope.cache(build_adjacency(e, num_partitions=p, chunk_size=chunk_size))

        init = verts.withColumn("label", F.col("id"))

        def superstep(state: DataFrame, k: int) -> DataFrame:
            labels = state.select("id", "label")
            # scatter current labels to all neighbors (synchronous LPA)
            msgs = (
                adj.join(labels, adj["src"] == labels["id"])
                .select(F.explode("dsts").alias("id"), F.col("label").alias("nlbl"))
                .groupBy("id", "nlbl")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            # deterministic mode: max by (count, -label) == count DESC, label ASC
            mode = (
                msgs.groupBy("id")
                .agg(F.max(F.struct(F.col("cnt"), (-F.col("nlbl")).alias("neg"))).alias("m"))
                .select("id", (-F.col("m.neg")).alias("mode_lbl"))
            )
            return (
                labels.withColumnRenamed("label", "_old")
                .join(mode, "id", "left_outer")
                .select(
                    "id",
                    F.coalesce(F.col("mode_lbl"), F.col("_old")).alias("label"),
                    F.col("_old"),
                    F.col("mode_lbl").isNotNull().cast("long").alias("_msgs"),
                )
                .withColumn("_changed", F.col("label") != F.col("_old"))
                .drop("_old")
            )

        result = iterate(
            init,
            superstep,
            converged=lambda s: s.changed == 0,
            max_supersteps=max_supersteps,
            ckpt=ckpt,
            resume=resume,
            num_partitions=p,
        )
    return result.state.select("id", "label"), result
