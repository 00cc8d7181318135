"""Katz centrality — the attenuation-series cousin of PageRank.

Not in the reference's shipped algorithm set, but a direct instance of
its vertex-program contract (SURVEY.md §3.10, Vertex.java compute()):
PageRankVertex.java:124-145's scatter/sum/update shape with the
per-edge normalization removed and an additive base term, i.e.

    x_{k+1}(v) = beta + alpha * sum_{u -> v} x_k(u),   x_0(v) = beta

which after K updates equals the truncated Katz series
``beta * sum_{j<=K} alpha^j (A^T)^j 1``. ``alpha`` must be below
1/lambda_max(A) for the infinite series to converge; the truncated
fixed-update mode used by the driver gate is exact for any alpha.

Both centralities here are ``plan="outer"``
:class:`~linkgraph.vertex_program.VertexProgram` specs (message =
value, SUM combiner) run by ``run_vertex_program``; this module keeps
only the specs, the stop rule and eigenvector's final max-normalisation.
Execution shape is the pagerank.py plan (audited there): the salted CSR
adjacency is cached once, each superstep is ONE SQL execution —
co-partitioned join on src, explode scatter, partial+final hash-agg
combine on dst, left-outer update join. Cost per superstep is
O(E) scatter + one exchange on dst; at 100 TB the adjacency build is
the one-time cost and the loop reuses its partitioning, exactly the
PageRank plan, so the scaling-ladder evidence for PageRank covers this
operator's shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointManager
from ..superstep import LoopResult
from ..vertex_program import VertexProgram, run_vertex_program


def eigenvector_centrality(
    edges: DataFrame,
    updates: int = 6,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    chunk_size: int = 4096,
    ckpt: CheckpointManager | None = None,
    resume: bool = True,
) -> tuple[DataFrame, LoopResult]:
    """Truncated power-iteration eigenvector centrality — the last
    member of the centrality family (PageRank normalizes by out-degree,
    Katz attenuates and adds a base; eigenvector is the bare
    ``x <- A^T x`` power step, max-normalized at the end).

    EXACT INTEGER formulation: with x_0 = 1, every update keeps
    x_k(v) = number of length-k walks ENDING at v — a BIGINT the whole
    way (normalization commutes with the linear map, so one final
    ``x / max(x)`` equals per-step normalization exactly). That makes
    the loop bit-exact across engines and partitionings with no float
    summation order anywhere; the only float op is the single final
    division, rounded to 6dp. Overflow bound: walk counts grow as
    lambda_max^k, so BIGINT caps updates at ~63/log2(lambda_max)
    (~18 updates at lambda ~ 10) — raise to DOUBLE beyond that, where
    the estimate no longer needs exactness.

    Execution shape: identical to :func:`katz_centrality`.

    Returns (DF(id, walks BIGINT, eig DOUBLE), LoopResult); ``eig`` is
    NULL when the graph has no walks of the final length (max = 0).
    """
    program = VertexProgram(
        init_expr=F.lit(1).cast("long"),
        message_expr=F.col("value"),
        combine_agg=F.sum("msg").cast("long"),
        update_expr=F.coalesce(F.col("msg"), F.lit(0).cast("long")),
        plan="outer",
    )
    walks, result = run_vertex_program(
        edges,
        program,
        vertices=vertices,
        num_partitions=num_partitions,
        max_supersteps=updates,
        stop_when=lambda s: False,
        chunk_size=chunk_size,
        ckpt=ckpt,
        resume=resume,
    )
    walks = walks.select("id", F.col("value").alias("walks"))
    mx = walks.agg(F.max("walks").alias("_mx"))
    out = walks.crossJoin(F.broadcast(mx)).select(
        "id",
        "walks",
        F.when(F.col("_mx") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(F.col("walks").cast("double") / F.col("_mx").cast("double"), 6)
        )
        .alias("eig"),
    )
    return out, result


def katz_centrality(
    edges: DataFrame,
    alpha: float = 0.05,
    beta: float = 1.0,
    tol: float = 1e-6,
    max_supersteps: int = 100,
    fixed_updates: int | None = None,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    chunk_size: int = 4096,
    ckpt: CheckpointManager | None = None,
    resume: bool = True,
) -> tuple[DataFrame, LoopResult]:
    """Returns (DF(id, katz), LoopResult).

    ``fixed_updates=k`` runs exactly k updates (the oracle-parity mode:
    the truncated series is SQL-unrollable, so the driver gate compares
    it hash-exactly). Otherwise iterates until the L1 step delta is
    <= tol — safe only when alpha < 1/lambda_max, which the caller
    owns (the default 0.05 is conservative for web-ish degree
    distributions; at alpha >= 1/lambda_max the loop stops on
    max_supersteps with diverging values, as the series itself does).
    """
    program = VertexProgram(
        init_expr=F.lit(float(beta)),
        message_expr=F.col("value"),
        combine_agg=F.sum("msg"),
        update_expr=F.lit(float(beta))
        + F.lit(float(alpha)) * F.coalesce(F.col("msg"), F.lit(0.0)),
        delta_expr=F.abs(F.col("_new") - F.col("value")),
        plan="outer",
    )
    if fixed_updates is not None:
        max_iter = fixed_updates
        def done(stats):
            return False
    else:
        max_iter = max_supersteps
        def done(stats):
            return stats.delta is not None and stats.delta <= tol

    katz, result = run_vertex_program(
        edges,
        program,
        vertices=vertices,
        num_partitions=num_partitions,
        max_supersteps=max_iter,
        stop_when=done,
        chunk_size=chunk_size,
        ckpt=ckpt,
        resume=resume,
    )
    return katz.select("id", F.col("value").alias("katz")), result
