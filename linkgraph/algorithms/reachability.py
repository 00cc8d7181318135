"""Source-dest reachability — bidirectional mark propagation.

Reference contract (ReachabilityVertex.java:135-191, SURVEY.md §4.5):

- vertex state is a 2-bit mask: bit 1 = marked from ``source``, bit 2 =
  marked from ``dest``; superstep 1 marks the two roots and scatters
  their state along out-edges;
- messages combine with bitwise OR (SimpleReachibilityCombiner,
  ReachabilityVertex.java:52-97); a vertex ORs the combined message into
  its state and re-scatters only when the state changed — a monotone
  message-driven fixpoint (delta messaging is exact);
- when some vertex reaches state 3 the two searches met:
  ``reachable=True`` and the job force-terminates (terminateJob via the
  signal file, ReachabilityVertex.java:196-211) — messages produced in
  the meeting superstep are never delivered. ``early_terminate=True``
  reproduces that timeline exactly (golden ReachibilityRealComplex);
  ``early_terminate=False`` runs the propagation to its fixpoint, where
  ``state(v) = 1*[v in Reach(source)] | 2*[v in Reach(dest)]`` over
  out-edges — the SQL-expressible closure the oracle gate checks
  (and what the reference itself produces when the searches never meet,
  golden ReachibilityRealComplexNoConnectivity).

Written as a ``plan="delta"`` :class:`~linkgraph.vertex_program.
VertexProgram` (value = the mask, ``bit_or`` combiner) run by
``run_vertex_program``; the meet signal is its ``delta_expr``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointManager
from ..graph import vertices_from_edges
from ..superstep import LoopResult
from ..vertex_program import VertexProgram, run_vertex_program


def reachability(
    edges: DataFrame,
    source: int,
    dest: int,
    early_terminate: bool = True,
    symmetrize_edges: bool = False,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    max_supersteps: int = 200,
    ckpt: CheckpointManager | None = None,
    resume: bool = True,
) -> tuple[DataFrame, bool, LoopResult]:
    """Returns (DF(id, state), reachable, LoopResult).

    ``state``: 0 unmarked, 1 reached-from-source, 2 reached-from-dest,
    3 both (the searches met through this vertex).
    """
    if source == dest:
        # reference: the vertex is set to 1 then overwritten to 2, and
        # the job terminates immediately (ReachabilityVertex.java:141-153)
        if vertices is None:
            vertices = vertices_from_edges(edges)
        states = vertices.select(
            "id",
            F.when(F.col("id") == source, F.lit(2)).otherwise(F.lit(0)).alias("state"),
        )
        return states, True, LoopResult(states, 0, [], True)

    program = VertexProgram(
        init_expr=F.when(F.col("id") == source, F.lit(1)).otherwise(F.lit(0))
        + F.when(F.col("id") == dest, F.lit(2)).otherwise(F.lit(0)),
        message_expr=F.col("value"),
        combine_agg=F.expr("bit_or(msg)"),
        update_expr=F.col("value").bitwiseOR(F.coalesce(F.col("msg"), F.lit(0))),
        plan="delta",
        initial_active_expr=(F.col("id") == source) | (F.col("id") == dest),
        # _delta carries the meet signal: >0 iff some vertex is now
        # marked from both sides
        delta_expr=F.when(F.col("_new") == 3, F.lit(1.0)).otherwise(F.lit(0.0)),
        symmetrize_edges=symmetrize_edges,
    )

    def done(s) -> bool:
        met = (s.delta or 0.0) > 0
        return s.changed == 0 or (early_terminate and met)

    state, result = run_vertex_program(
        edges.select("src", "dst"),
        program,
        vertices=vertices,
        num_partitions=num_partitions,
        max_supersteps=max_supersteps,
        stop_when=done,
        ckpt=ckpt,
        resume=resume,
    )
    states = state.select("id", F.col("value").alias("state"))
    met = bool(result.history and (result.history[-1].delta or 0.0) > 0)
    return states, met, result
