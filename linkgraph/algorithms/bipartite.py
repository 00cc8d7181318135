"""Bipartiteness test + 2-coloring via parity-mask propagation.

A component is bipartite iff it contains no odd cycle — the classic
two-sidedness test (user/item splits, conflict graphs, checking that a
dependency layer graph is levelable). The distributed formulation is
parity reachability over the double cover: from each component's
representative (its minimum id, exactly the label
:func:`linkgraph.algorithms.cc.connected_components` assigns), walks
of even parity reach bit 0 and odd parity bit 1. Masks accumulate by
bitwise OR, so propagation is monotone over a 2-bit lattice and the
fixpoint arrives in O(diameter) supersteps with the same delta plan as
min-label CC (only vertices whose mask grew scatter; a message shifts
the sender's mask: even-reachable makes the neighbor odd-reachable and
vice versa).

At the fixpoint: in a bipartite component every vertex holds exactly
one parity bit (walks preserve path parity), which IS its side of the
unique 2-coloring anchored at the representative; in a non-bipartite
component every vertex eventually holds both bits (route through the
odd cycle and parity flips), so sides are undefined and emitted NULL.
This makes the output a pure function of the graph — no coin, no tie
order — verifiable against a recursive parity-closure oracle in
DuckDB.

Distributed shape (the 100 TB story): phase 1 is plain CC; phase 2
rides the identical adjacency (one explode-join + one bit_or combine
per superstep, exactly one exchange), and the finalize is one
component-keyed aggregate joined back — two shuffles total beyond the
loop. Mask state is 2 bits per vertex; nothing grows with iteration.

Reference parity: the reference ships no bipartiteness test; this is
ConnectedComponentsVertex's min-label machinery (SURVEY.md §4.2)
upgraded from a min lattice to a bitmask lattice — same plan shape,
same convergence argument.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..partitioning import build_adjacency, symmetrize
from ..superstep import LoopResult, iterate, loop_scope
from .cc import connected_components


def bipartite_check(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    chunk_size: int = 4096,
    max_supersteps: int = 200,
) -> tuple[DataFrame, LoopResult]:
    """Returns (DF(id, component, side, is_bipartite), LoopResult).

    ``component`` is the min-id CC label; ``is_bipartite`` (0/1 INT)
    is component-wide; ``side`` is 0 for the representative's part and
    1 for the other part when the component is bipartite, NULL
    otherwise. Isolated vertices are bipartite with side 0.
    ``LoopResult`` covers the parity loop; its ``supersteps`` adds the
    CC phase's count so the total reflects both fixpoints.
    """
    with loop_scope(edges, num_partitions, scale=2) as scope:
        p = scope.p
        comp, res_cc = connected_components(
            edges, vertices=vertices, num_partitions=p, chunk_size=chunk_size,
            max_supersteps=max_supersteps,
        )

        adj = scope.cache(
            build_adjacency(symmetrize(edges), num_partitions=p, chunk_size=chunk_size)
        )

        init = comp.select(
            "id",
            "component",
            F.when(F.col("id") == F.col("component"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("mask"),
            (F.col("id") == F.col("component")).alias("changed"),
        ).repartition(p, "id")

        # a sender's even bit makes the receiver odd-reachable and vice
        # versa: message = swap the two bits, combine = bit_or
        step_exprs = [
            "id",
            "component",
            "(mask | COALESCE(cand, 0)) AS mask",
            "((mask | COALESCE(cand, 0)) != mask) AS changed",
            "((mask | COALESCE(cand, 0)) != mask) AS _changed",
            "CAST(cand IS NOT NULL AS BIGINT) AS _msgs",
        ]

        def superstep(state: DataFrame, k: int) -> DataFrame:
            msgs = (
                adj.join(state.filter("changed"), F.expr("src = id"))
                .selectExpr(
                    "explode(dsts) AS id",
                    "((mask & 1) << 1) | ((mask >> 1) & 1) AS m",
                )
                .groupBy("id")
                .agg(F.expr("bit_or(m) AS cand"))
            )
            return (
                state.select("id", "component", "mask")
                .join(msgs, "id", "left_outer")
                .selectExpr(*step_exprs)
            )

        res = iterate(
            init.withColumn("_changed", F.col("changed")).withColumn(
                "_msgs", F.lit(0).cast("bigint")
            ),
            superstep,
            converged=lambda s: s.changed == 0,
            max_supersteps=max_supersteps,
            num_partitions=p,
        )

    st = res.state
    grp = st.groupBy("component").agg(F.max("mask").alias("_mx"))
    out = (
        st.join(grp, "component")
        .select(
            "id",
            "component",
            F.when(F.col("_mx") < 3, (F.col("mask") == 2).cast("int")).alias(
                "side"
            ),
            (F.col("_mx") < 3).cast("int").alias("is_bipartite"),
        )
    )
    merged = LoopResult(
        state=res.state,
        supersteps=res_cc.supersteps + res.supersteps,
        history=list(res_cc.history) + list(res.history),
        converged=res_cc.converged and res.converged,
    )
    return out, merged
