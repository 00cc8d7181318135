"""Single-source shortest paths — parity feature.

Reference contract (ShortestPathsVertex.java:125-145, SURVEY.md SS4.5):
min-distance relaxation with SimpleMinCombiner; edge weight defaults to
1.0 (the text fixtures carry no weights); source vertex from job conf;
message-driven fixpoint (only vertices whose distance improved
re-broadcast), every vertex votes to halt each superstep.

Written as a :class:`~linkgraph.vertex_program.VertexProgram`
(:func:`sssp_program`) and run by ``run_vertex_program`` on the delta
plan over a row-per-edge adjacency (the scatter needs per-edge weights,
so array packing buys nothing). Unreached vertices report distance NULL
(the reference leaves them at +inf / untouched).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointManager
from ..superstep import LoopResult
from ..vertex_program import VertexProgram, run_vertex_program

_INF = float("inf")


def sssp_program(source: int, weight_col: str | None = None) -> VertexProgram:
    """Single-source shortest paths as a declarative vertex program:
    min-distance relaxation with a min combiner, delta messaging (only
    improved vertices re-send), default edge weight 1.0 (the program
    then reads the constant column ``_w1``, which
    :func:`shortest_paths` adds)."""
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    return VertexProgram(
        init_expr=F.when(F.col("id") == source, F.lit(0.0)).otherwise(F.lit(_INF)),
        message_expr=F.col("value") + w,
        combine_agg=F.min("msg"),
        update_expr=F.least(F.col("value"), F.coalesce(F.col("msg"), F.col("value"))),
        changed_expr=F.col("_new") < F.col("value"),
        plan="delta",
        initial_active_expr=F.col("id") == source,
        weight_col=weight_col or "_w1",
    )


def shortest_paths(
    edges: DataFrame,
    source: int,
    weight_col: str | None = None,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    max_supersteps: int = 200,
    ckpt: CheckpointManager | None = None,
    resume: bool = True,
) -> tuple[DataFrame, LoopResult]:
    """Returns (DF(id, distance), LoopResult); distance NULL if unreachable."""
    e = edges if weight_col else edges.withColumn("_w1", F.lit(1.0))
    state, res = run_vertex_program(
        e,
        sssp_program(source, weight_col),
        vertices=vertices,
        num_partitions=num_partitions,
        max_supersteps=max_supersteps,
        ckpt=ckpt,
        resume=resume,
    )
    out = state.select(
        "id",
        F.when(F.col("value") == _INF, F.lit(None))
        .otherwise(F.col("value"))
        .alias("distance"),
    )
    return out, res
