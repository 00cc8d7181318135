"""Landmark distance labeling — multi-source BFS from pivot vertices.

The standard web-scale answer to "how far apart are these two pages?":
exact all-pairs distances are quadratic and single-pair BFS is too slow
online, so pick L high-coverage LANDMARK vertices, precompute every
vertex's distance to each landmark (L BFS sweeps batched into ONE
frontier loop), and answer queries from the label vectors —
``est(u, v) = min_l d(u, l) + d(l, v)`` is an exact-triangle-inequality
upper bound that is tight whenever a shortest path passes a landmark
(Potamias et al., CIKM'09 — landmark selection by highest degree is
their strongest cheap heuristic). The labels are also the building
block for distance-bounded crawling and geo-balanced sharding.

Execution shape: the L sources run as ONE composite-key BFS — state
rows (landmark, v, dist) — so superstep k costs one frontier⋈adjacency
join + one anti-join against the visited set regardless of L. This is
the reference's vertex-program message shape with a struct key
(SURVEY.md §3.10); the same frame layout the betweenness forward pass
uses (betweenness.py), minus the path counting.

Scale notes:
- state is at most L·V rows of three BIGINTs, hash-partitioned on v;
  L is a small constant (16-64 in practice) chosen by degree, so the
  label table is a constant factor of the vertex relation.
- per-level work is frontier-proportional: the visited anti-join keys
  on (landmark, v) and the frontier shrinks once the BFS wavefronts
  cover the graph; ``max_depth`` hop-bounds pathological diameters.
- landmark selection (top-L by degree, id tiebreak) is one aggregate +
  TakeOrdered(L) — O(L) rows at the driver, nothing else collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..partitioning import symmetrize
from ..superstep import (
    iteration_conf,
    local_checkpoint_fresh_stats,
    loop_scope,
    release_local_checkpoint,
)


def select_landmarks(
    edges: DataFrame, num_landmarks: int, symmetrize_edges: bool = True
) -> list[int]:
    """Top-``num_landmarks`` vertex ids by (degree DESC, id ASC) of the
    (by default symmetrized) edge set — deterministic, O(L) driver rows."""
    e = symmetrize(edges) if symmetrize_edges else edges.select("src", "dst")
    rows = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("dg"))
        .orderBy(F.col("dg").desc(), F.col("src"))
        .limit(num_landmarks)
        .collect()
    )
    return [int(r["src"]) for r in rows]


def landmark_distances(
    edges: DataFrame,
    num_landmarks: int = 4,
    max_depth: int = 16,
    symmetrize_edges: bool = True,
    landmarks: list[int] | None = None,
    num_partitions: int | None = None,
) -> tuple[DataFrame, list[int]]:
    """Returns (DF(id BIGINT, landmark BIGINT, dist INT), landmarks):
    hop distances from every vertex to each landmark, REACHED pairs
    only, hop-bounded at ``max_depth``. ``landmarks=None`` selects the
    top-``num_landmarks`` by degree (id tiebreak)."""
    spark = edges.sparkSession
    if landmarks is None:
        landmarks = select_landmarks(edges, num_landmarks, symmetrize_edges)

    with loop_scope(edges, num_partitions) as scope, iteration_conf(spark, scope.p):
        p = scope.p
        adj = scope.cache(
            (symmetrize(edges) if symmetrize_edges else edges.select("src", "dst"))
            .repartition(p, "src")
        )

        # retained FRONTIER-sized level frames (the walks.py lesson):
        # each level checkpoints only its NEW (landmark, id) rows; the
        # visited set for the anti-join is the lazy union of the
        # retained frames — scanned, never re-materialized, so total
        # checkpoint writes are O(L*V) across the whole run instead of
        # O(L*V*depth) from rewriting the accumulated label set per level
        frontier = local_checkpoint_fresh_stats(
            spark.createDataFrame(
                [(int(l),) for l in landmarks], "landmark long"
            )
            .select(
                "landmark",
                F.col("landmark").alias("id"),
                F.lit(0).cast("int").alias("dist"),
            )
            .repartition(p, "id")
        )
        level_frames = [frontier]
        try:
            for d in range(1, max_depth + 1):
                visited = level_frames[0].select("landmark", "id")
                for fr in level_frames[1:]:
                    visited = visited.unionAll(fr.select("landmark", "id"))
                nxt = (
                    frontier.alias("f")
                    .join(adj.alias("e"), F.col("f.id") == F.col("e.src"))
                    .select("f.landmark", F.col("e.dst").alias("id"))
                    .distinct()
                    .join(visited, ["landmark", "id"], "left_anti")
                    .select("landmark", "id", F.lit(d).cast("int").alias("dist"))
                )
                frontier = local_checkpoint_fresh_stats(nxt)
                level_frames.append(frontier)
                if frontier.isEmpty():
                    release_local_checkpoint(level_frames.pop())
                    break
        except BaseException:
            # on success the level frames are the result
            for fr in level_frames:
                release_local_checkpoint(fr)
            raise

        lab = level_frames[0]
        for fr in level_frames[1:]:
            lab = lab.unionAll(fr)
    return lab.select("id", "landmark", "dist"), landmarks
