"""Full k-core decomposition (per-vertex coreness) via the h-index
fixpoint iteration.

``kcore_membership`` answers "is v in the k-core" for ONE k; coreness
answers it for every k at once — core number c(v) = the largest k such
that v survives k-core peeling. It is the standard graph-ML vertex
feature and the summary from which any k-core query is a filter.

Sequential peeling is inherently ordered (remove the current minimum
degree vertex), which distributes badly. The scalable formulation is
Lü-Chen-Ren-Zhang-Zhou ("The H-index of a network node", 2016):
iterate

    c_0(v)   = deg(v)
    c_t+1(v) = H( c_t(u) : u in N(v) )

where H is the h-index (the largest h such that at least h neighbors
have value >= h). The sequence is monotonically non-increasing and
converges to the exact coreness — a pure vertex-centric superstep with
no global ordering.

Superstep shape: scatter neighbor values (one equi-join), then the
h-index per vertex as max(least(value, row_number)) over the values
sorted descending — H = max_i min(v_i, i), an identity that makes the
whole update a window + aggregate, all JVM-side integer ops. Two
exchanges per superstep (message scatter, window repartition by
vertex). The h-index is tie-order invariant, so the result is exact
and engine-independent: the unrolled DuckDB oracle matches bit for
bit. Each round is one :func:`~linkgraph.superstep.iterate` superstep
(one SQL execution); the state keeps its ``chg`` flag for the next
round's frontier and exposes it as ``_changed`` for the stop rule.

Convergence: typically O(sqrt(n)) worst case but ~10-20 supersteps on
real web graphs; the loop stops at the first superstep where no value
changes (monotonicity makes that the exact fixpoint).

100 TB shape: state is one long per vertex; per-superstep work is one
message row per directed edge. The window sorts each vertex's
neighbor-value list — bounded by max degree per partition group; hubs
are large but the sort is distributed per vertex id, not global.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..graph import vertices_from_edges
from ..partitioning import symmetrize
from ..superstep import LoopResult, iterate, loop_scope


def core_decomposition(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iters: int = 64,
    num_partitions: int | None = None,
    symmetrize_edges: bool = True,
) -> tuple[DataFrame, LoopResult]:
    """Per-vertex core numbers. Returns (DF(id, coreness BIGINT),
    LoopResult); isolated vertices get coreness 0. ``converged`` is
    True iff the fixpoint was reached within ``max_iters``."""
    scale = 2 if symmetrize_edges else 1
    if vertices is None:
        vertices = vertices_from_edges(edges)
    # coreness is defined on the simple graph: self-loops would inflate
    # both the degree init and every h-index
    e = (
        symmetrize(edges)
        if symmetrize_edges
        else edges.select("src", "dst").distinct()
    ).filter(F.col("src") != F.col("dst"))

    with loop_scope(edges, num_partitions, scale) as scope:
        p = scope.p
        # DELTA PLAN: a vertex's h-index can only change if a
        # neighbor's value dropped, so each round recomputes H only for
        # the AFFECTED set (dsts of edges out of last round's changed
        # vertices) — exact, since an unchanged neighborhood reproduces
        # the same H. Two persisted adjacency copies keyed by src and
        # dst keep every per-round join co-partitioned: the full edge
        # relation is probed but never re-shuffled, and all exchanges
        # are frontier-neighborhood-sized. The frontier collapses
        # geometrically (degree-init overshoots only around dense
        # cores), which is what makes late rounds cheap.
        adj = scope.cache(e.repartition(p, "src"))
        radj = scope.cache(e.repartition(p, "dst"))

        deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("c"))
        init = (
            vertices.select("id")
            .join(deg, F.col("id") == F.col("src"), "left_outer")
            # round 0 counts as changed everywhere: the first round
            # must evaluate every vertex once
            .selectExpr(
                "id",
                "COALESCE(c, CAST(0 AS BIGINT)) AS c",
                "CAST(1 AS BIGINT) AS chg",
            )
            .repartition(p, "id")
        )

        w = Window.partitionBy("dst").orderBy(F.desc("c"))

        def superstep(state: DataFrame, it: int) -> DataFrame:
            if it == 1:
                # round 1 evaluates every vertex (init marks all
                # changed): the full gather IS the affected set, so
                # skip the distinct/semi-join machinery — the same
                # OUTER->delta switch shape as VertexProgram plan=auto
                gather = radj.join(
                    state.selectExpr("id AS src", "c"), "src"
                ).select("dst", "c")
            else:
                changed_ids = state.filter(F.col("chg") == 1).select("id")
                affected = (
                    adj.join(changed_ids, F.col("src") == F.col("id"))
                    .select("dst")
                    .distinct()
                )
                gather = (
                    radj.join(affected, "dst", "left_semi")
                    .join(state.selectExpr("id AS src", "c"), "src")
                    .select("dst", "c")
                )
            # H = max_i min(v_i, i) over values sorted descending
            hidx = (
                gather.withColumn("rn", F.row_number().over(w))
                .groupBy("dst")
                .agg(F.max(F.least("c", "rn")).alias("h"))
            )
            return (
                state.join(hidx, state.id == hidx.dst, "left_outer")
                .selectExpr(
                    "id",
                    "LEAST(c, COALESCE(h, c)) AS c",
                    "CAST(c > LEAST(c, COALESCE(h, c)) AS BIGINT) AS chg",
                )
                .withColumn("_changed", F.col("chg") == 1)
            )

        res = iterate(
            init,
            superstep,
            converged=lambda s: s.changed == 0,
            max_supersteps=max_iters,
            num_partitions=p,
        )

    out = res.state.selectExpr("id", "c AS coreness")
    return out, LoopResult(out, res.supersteps, res.history, res.converged)
