"""k-truss: iterative triangle-support peeling of the edge relation.

The k-truss is the maximal subgraph in which EVERY edge participates in
at least k-2 triangles (edge-level cohesion, one notch stronger than
k-core's vertex-level degree rule). The reference ships vertex-centric
cohesion (maximal cliques, TriangleCountingVertex.java); k-truss
composes the same two primitives this repo already has — the id-ordered
wedge join (algorithms/triangles.py) and fixpoint peeling
(algorithms/.../kcore in examples.py) — but the ITERATION STATE is the
edge relation, like `connected_components_hashmin`.

Per round (one :func:`~linkgraph.superstep.iterate` superstep, so one
SQL execution: triangle enumeration + support count + filter compose
lazily into the round's checkpoint):

    wedges  = E(x,y) JOIN E(y,z)           -- shuffle on the shared endpoint
    closed  = wedges SEMI-JOIN E ON (x,z)  -- triangles x<y<z, each found once
    support = closed exploded to its 3 edges, counted per edge
    E'      = E where support >= k-2

Monotone-decreasing edge set, so count-stable = fixpoint (exact, no
checksum needed). Round count is the peel depth (cascade length), the
same bound k-core peeling has.

100 TB shape: the wedge join shuffles on the center vertex — the
standard hub-quadratic term of all triangle work (AQE skew-split /
degree-ordering halves it exactly as in triangles.py); the support
aggregate and filter are linear in triangles and edges. No vertex
state, no driver-side data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import choose_partitions
from ..partitioning import symmetrize
from ..superstep import LoopResult, iterate


def ktruss(
    edges: DataFrame,
    k: int,
    num_partitions: int | None = None,
    max_rounds: int = 50,
) -> tuple[DataFrame, LoopResult]:
    """Returns (DF(src, dst, support), LoopResult) — the k-truss edge
    set of the undirected simple graph (src < dst canonical), with each
    surviving edge's triangle support WITHIN the truss.

    ``LoopResult.history`` rows carry the per-round surviving edge
    count in ``rows``; ``supersteps`` is the number of peel rounds
    (including the final no-drop round that proves the fixpoint).
    """
    if k < 2:
        raise ValueError(f"k-truss needs k >= 2, got {k}")
    need = k - 2
    p = choose_partitions(edges, lambda: 2 * edges.count(), num_partitions)
    init = (
        symmetrize(edges)
        .filter("src <> dst AND src < dst")
        .selectExpr("src AS a", "dst AS b", "CAST(0 AS BIGINT) AS support")
    )

    def superstep(kept: DataFrame, r: int) -> DataFrame:
        e = kept.select("a", "b")
        tri = (
            e.selectExpr("a AS x", "b AS y")
            .join(e.selectExpr("a AS y", "b AS z"), "y")
            .join(e.selectExpr("a AS x", "b AS z"), ["x", "z"], "left_semi")
        )
        sup = (
            tri.select(
                F.explode(
                    F.expr(
                        "array(struct(x AS a, y AS b),"
                        " struct(y AS a, z AS b),"
                        " struct(x AS a, z AS b))"
                    )
                ).alias("ed")
            )
            .selectExpr("ed.a AS a", "ed.b AS b")
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("support"))
        )
        return (
            e.join(sup, ["a", "b"], "left_outer")
            .selectExpr("a", "b", "COALESCE(support, 0L) AS support")
            .filter(F.col("support") >= need)
        )

    prev_n = None

    def stable(stats) -> bool:
        # monotone-decreasing edge set: count-stable is the fixpoint
        nonlocal prev_n
        done = stats.rows in (prev_n, 0)
        prev_n = stats.rows
        return done

    res = iterate(init, superstep, stable, max_supersteps=max_rounds, num_partitions=p)
    out = res.state.selectExpr("a AS src", "b AS dst", "support")
    return out, LoopResult(out, res.supersteps, res.history, res.converged)
