"""PageRank — exact reference semantics, Spark-first execution.

Reference contract (PageRankVertex.java:124-145, SURVEY.md SS4.1):

- superstep 1: every vertex's rank is 1/N and it sends rank/outdeg to
  each out-neighbor;
- supersteps 2..: ``rank = 0.15/N + 0.85 * sum(messages)`` (damping 0.85
  and uniform teleport are the reference's hard-coded constants; we
  expose ``damping`` but default identically);
- dangling vertices send nothing — their mass is NOT redistributed
  (the reference only emits via sendMsgToAllEdges);
- the reference stops after a fixed iteration count where
  ``maxIter = m`` means m-1 rank updates (the last superstep updates
  then halts without sending). ``fixed_updates=m-1`` reproduces its
  golden outputs bit-for-bit within 1e-6; the north_rule's default mode
  instead iterates to L1 convergence ``sum(abs(r_k - r_{k-1})) <= tol``.

Prologue: the vertex frame (``vertices``, default every src/dst id of
the edges) is hash-partitioned on ``id``, cached and counted once — N
and the initial state ``rank = 1/N`` (or the ``init_ranks`` seed) both
read that cache — and the adjacency is built in one shuffle and cached
(``partitioning.build_adjacency``).

Execution shape per superstep (one Spark job): cached chunked CSR
adjacency ``(src, salt, dsts, outdeg)`` joins the current ranks on the
co-partitioned id, scatters via ``explode`` (array unpack, no per-edge
pre-shuffle), and message combining is ``groupBy(dst).sum`` — Spark's
partial+final hash aggregate is exactly the reference's
local-combine -> MToN shuffle -> final-combine (JobGen.java:1124-1215)
with SimpleSumCombiner (PageRankVertex.java:64-116).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointManager
from ..partitioning import build_adjacency
from ..superstep import LoopResult, iterate, loop_scope


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_supersteps: int = 100,
    fixed_updates: int | None = None,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    chunk_size: int = 4096,
    ckpt: CheckpointManager | None = None,
    resume: bool = True,
    num_vertices: int | None = None,
    global_aggs: dict | None = None,
    init_ranks: DataFrame | None = None,
) -> tuple[DataFrame, LoopResult]:
    """Returns (ranks DF(id, rank), LoopResult with per-superstep metrics).

    ``fixed_updates=k``: run exactly k rank updates (reference parity
    mode; reference maxIter=m == fixed_updates=m-1). Otherwise iterate
    until the L1 delta <= tol.

    ``init_ranks`` — warm restart (the incremental-analytics path a
    growing corpus needs): seed ranks from a PREVIOUS run's output or
    checkpoint snapshot instead of the uniform 1/N start; vertices
    absent from the seed (newly ingested) start at 1/N. The PageRank
    fixpoint is unique and power iteration contracts from ANY start, so
    the warm run converges to the same ranks — in O(log(seed error))
    supersteps instead of O(log(cold error)): after a small edge delta
    the seed is already near the fixpoint and the run finishes in a few
    supersteps (tests/test_resume_more.py asserts fewer supersteps with
    matching ranks).
    """
    with loop_scope(edges, num_partitions) as scope:
        p = scope.p
        # cached once: the count for N and superstep 1's initial state
        # read the same materialization instead of each recomputing the
        # vertex distinct
        verts = scope.cache(scope.vertices(vertices))
        # num_vertices overrides the teleport/init denominator — the
        # reference takes N from job conf (PregelixJob.NUM_VERTICE), which
        # counts only input vertices even when message targets materialize
        # extra ones (PageRankRealComplex: N=23, 29 output vertices). Also
        # skips the count job at scale when N is known.
        n = num_vertices if num_vertices is not None else verts.count()
        if n == 0:
            empty = verts.withColumn("rank", F.lit(0.0))
            return empty, LoopResult(empty, 0, [], True)

        # reused every superstep
        adj = scope.cache(build_adjacency(edges, num_partitions=p, chunk_size=chunk_size))

        teleport = (1.0 - damping) / n
        if init_ranks is not None:
            prev = init_ranks.select("id", F.col("rank").alias("_prev"))
            init = verts.join(prev, "id", "left_outer").select(
                "id", F.coalesce(F.col("_prev"), F.lit(1.0 / n)).alias("rank")
            )
        else:
            init = verts.withColumn("rank", F.lit(1.0 / n))

        # Superstep plan construction uses whole-SQL-snippet expressions
        # (selectExpr / F.expr) instead of ~50 fine-grained Column calls:
        # the logical plan — and therefore the physical plan, float
        # summation order, and results — is identical, but the py4j
        # round-trip cost of BUILDING it drops ~0.17s -> ~0.07s per
        # superstep, which is 25% of the per-superstep floor on small
        # graphs where fixed overhead (not data volume) dominates. Plain
        # plan construction only, so the superstep stays exactly ONE SQL
        # execution (temp-view or spark.sql({df}) parameter binding would
        # each add view-command executions per superstep — asserted in
        # tests/test_superstep_jobs.py). repr() keeps the constants exact
        # (shortest round-trip decimal -> same double bits).
        rank_expr = f"{teleport!r}D + {damping!r}D * COALESCE(msum, 0.0D)"
        step_exprs = [
            "id",
            f"{rank_expr} AS rank",
            f"ABS(({rank_expr}) - rank) AS _delta",
            "CAST(msum IS NOT NULL AS BIGINT) AS _msgs",
        ]

        def _messages(state: DataFrame) -> DataFrame:
            return (
                adj.join(state, F.expr("src = id"))
                .selectExpr("explode(dsts) AS id", "rank / outdeg AS w")
                .groupBy("id")
                .agg(F.expr("SUM(w) AS msum"))
            )

        def superstep(state: DataFrame, k: int) -> DataFrame:
            msgs = _messages(state)
            return state.join(msgs, "id", "left_outer").selectExpr(*step_exprs)

        if fixed_updates is not None:
            max_iter = fixed_updates
            def done(stats):
                return False
        else:
            max_iter = max_supersteps
            def done(stats):
                return stats.delta is not None and stats.delta <= tol

        result = iterate(
            init,
            superstep,
            converged=done,
            max_supersteps=max_iter,
            ckpt=ckpt,
            resume=resume,
            num_partitions=p,
            global_aggs=global_aggs,
        )
    return result.state.select("id", "rank"), result
