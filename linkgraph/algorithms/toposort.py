"""Dependency levels — iterative source peeling (distributed Kahn).

For a DIRECTED dependency graph (code imports: edge u->v means u
imports v — the derive.py north-star shape), assign every vertex the
round at which it becomes a SOURCE (in-degree 0 among not-yet-peeled
vertices): ``level`` 0 = no un-peeled importer, 1 = importers all at
level 0, and so on — a topological layering usable directly as a
parallel build/processing schedule (everything in one level is
independent of the rest of the level). Vertices never peeled sit on or
downstream of a directed cycle and report level -1 (the cyclic
residue) — making this simultaneously the standard "trim" phase of
distributed SCC (Slota et al. 2014; the forward trimming FW-BW starts
with) and a cycle detector: the graph is a DAG iff no -1 remains.

The reference ships no topological-sort job, but the loop is exactly
its compute()/voteToHalt superstep shape (SURVEY.md §3.10) with set
semantics like the reachability job: state is (id, level), the live
frontier is the un-peeled set, and each round is one keyed
anti-join — no coins, fully deterministic, so the driver oracle can
replay the rounds exactly (unrolled SQL).

Distributed shape (the 100 TB design): the directed edge relation is
persisted hash-partitioned by ``dst`` once; each round builds the
incoming-live-edge set with two frontier-sized semi-joins and peels by
LEFT ANTI join — work per round proportional to the LIVE edge set,
which drains in depth(DAG) rounds and freezes on the cyclic core. The
level relation stays id-partitioned; nothing is collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointManager

UNPEELED = -1


def dependency_levels(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    max_supersteps: int = 100,
    ckpt: CheckpointManager | None = None,
    resume: bool = True,
) -> tuple[DataFrame, "LoopResult"]:
    """Returns (DF(id BIGINT, level BIGINT), LoopResult): ``level`` is
    the Kahn peel round (0-based), or -1 for vertices on or downstream
    of a directed cycle (never peelable). Self-loops make their vertex
    permanently cyclic, matching the dependency reading."""
    from ..superstep import LoopResult, iterate, loop_scope

    with loop_scope(edges, num_partitions) as scope:
        p = scope.p
        de = scope.cache(edges.select("src", "dst").distinct().repartition(p, "dst"))

        init = scope.vertices(vertices).withColumn("level", F.lit(UNPEELED).cast("long"))

        def superstep(state: DataFrame, k: int) -> DataFrame:
            live = state.filter(F.col("level") == UNPEELED).select("id")
            # vertices that still have an incoming edge from a live vertex
            hasin = (
                de.join(live.select(F.col("id").alias("src")), "src")
                .join(live.select(F.col("id").alias("dst")), "dst")
                .select(F.col("dst").alias("id"))
                .distinct()
            )
            newly = live.join(hasin, "id", "left_anti").withColumn(
                "_new", F.lit(True)
            )
            return (
                state.join(newly, "id", "left_outer")
                .select(
                    "id",
                    F.when(F.col("_new").isNotNull(), F.lit(k - 1).cast("long"))
                    .otherwise(F.col("level"))
                    .alias("level"),
                    F.col("_new").isNotNull().alias("_changed"),
                )
                .withColumn("_msgs", F.lit(0))
            )

        result = iterate(
            init.withColumn("_changed", F.lit(False)),
            superstep,
            # fixpoint: a round that peels nothing leaves only the cyclic
            # residue (peelability is monotone), so stop on changed == 0
            converged=lambda s: s.changed == 0,
            max_supersteps=max_supersteps,
            ckpt=ckpt,
            resume=resume,
            num_partitions=p,
        )
    return result.state.select("id", "level"), result
