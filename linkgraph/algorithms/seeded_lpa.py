"""Seeded (semi-supervised) label propagation — classify unlabeled
vertices from a small labeled seed set.

The community-detection LPA (algorithms/lpa.py, north_rule) starts every
vertex in its own label and resamples all of them each round; the
semi-supervised variant the reference's vertex API equally expresses
(compute() over neighbor messages, Vertex.java:57-100 — any label-valued
message fold) instead CLAMPS the seeds and FREEZES each vertex the round
it first acquires a label: an unlabeled vertex adopts the most frequent
label among its labeled neighbors (count DESC, then LOWEST label id),
synchronously, until no vertex changes. This is multi-source BFS layered
by majority vote — the standard "spread the trusted topic/spam labels
over the link graph" primitive.

Delta plan (and why it is exact, not an approximation): a vertex still
unlabeled after round i-1 cannot have a neighbor labeled at round
j <= i-2 — that neighbor would have messaged it at round j+1 <= i-1 and
labeled it then. So every labeled neighbor of a still-unlabeled vertex
belongs to the PREVIOUS ROUND'S FRONTIER exactly, and scattering from
newly-labeled vertices only (the same frontier messaging as
sssp.py/reachability.py) computes the identical mode a full rescan
would. Per-superstep work is therefore proportional to the frontier's
out-edges, not the graph: the 100 TB cost profile of multi-source BFS,
one co-partitioned join + one (id, label) count aggregate per round,
every shuffle on the vertex id already held by the cached adjacency.

Unreached vertices (no path from any seed) keep no label and are
reported as -1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointManager
from ..partitioning import build_adjacency, symmetrize
from ..superstep import LoopResult, iterate, loop_scope


def seeded_label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    max_supersteps: int = 100,
    symmetrize_edges: bool = True,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    chunk_size: int = 4096,
    ckpt: CheckpointManager | None = None,
    resume: bool = True,
) -> tuple[DataFrame, LoopResult]:
    """Returns (DF(id, label), LoopResult) — ``seeds`` is DF(id, label
    BIGINT); label is -1 for vertices unreachable from every seed."""
    scale = 2 if symmetrize_edges else 1
    e = symmetrize(edges) if symmetrize_edges else edges.select("src", "dst")
    with loop_scope(edges, num_partitions, scale) as scope:
        p = scope.p
        verts = scope.vertices(vertices)
        adj = scope.cache(build_adjacency(e, num_partitions=p, chunk_size=chunk_size))

        init = verts.join(
            seeds.select("id", F.col("label").cast("long").alias("label")),
            "id",
            "left_outer",
        ).withColumn("changed", F.col("label").isNotNull())

        def superstep(state: DataFrame, k: int) -> DataFrame:
            cur = state.select("id", "label", "changed")
            senders = cur.filter(F.col("changed"))
            msgs = (
                adj.join(senders, adj["src"] == senders["id"])
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
                cur.drop("changed")
                .join(mode, "id", "left_outer")
                .select(
                    "id",
                    F.coalesce(F.col("label"), F.col("mode_lbl")).alias("nlabel"),
                    (F.col("label").isNull() & F.col("mode_lbl").isNotNull()).alias(
                        "changed"
                    ),
                    F.col("mode_lbl").isNotNull().cast("long").alias("_msgs"),
                )
                .select("id", F.col("nlabel").alias("label"), "changed", "_msgs")
                .withColumn("_changed", F.col("changed").cast("long"))
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
    out = result.state.select(
        "id", F.coalesce(F.col("label"), F.lit(-1).cast("long")).alias("label")
    )
    return out, result
