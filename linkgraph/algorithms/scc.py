"""Strongly connected components — forward/backward min-label
intersection with block refinement.

The reference ships only undirected analytics (ConnectedComponentsVertex
treats the adjacency as symmetric); a link graph of code imports is
DIRECTED, and mutual-dependency clusters (cyclic import groups, vendored
packages that re-import their vendorer) are exactly its strongly
connected components. This is the standard dataflow-friendly SCC used on
Pregel-style systems (the FW-BW/label-partitioning family of
Fleischer-Hendrickson-Pinar, SPAA'00, adapted to label propagation as in
Slota/Rajamanickam/Madduri, IPDPS'14):

outer round r (on the live subgraph, edges restricted to endpoints in
the same partition block):

- ``f(v)`` = min id over {v} ∪ {ancestors of v within the block}
  (min-label propagation ALONG edge direction, to fixpoint);
- ``b(v)`` = min id over {v} ∪ {descendants of v within the block}
  (min-label propagation AGAINST edge direction, to fixpoint);
- every vertex with ``f(v) == b(v) == c`` is finalized with SCC label
  ``c``: c reaches v and v reaches c, so v ∈ SCC(c) — and conversely
  all of SCC(c) shares (f, b), so whole SCCs finalize together;
- survivors are re-blocked by the pair ``(f, b)``: members of one SCC
  share their in-block ancestor and descendant sets, hence their
  (f, b) pair, so blocks refine SCCs and dropping cross-block edges
  never cuts an SCC edge.

Each round finalizes at least the SCC of every block's minimum id (the
block min m has f(m) = b(m) = m), so the outer loop terminates; a DAG
region collapses in one round (every vertex gets a distinct (f, b)
pair → singleton blocks → finalized next round), which is what kills
the chain-graph worst case of plain coloring-based SCC.

Dataflow shape (the 100 TB story): both inner propagations run in the
SAME superstep loop — forward messages scatter over the out-adjacency,
backward messages over the in-adjacency, and both ride ONE shuffle per
superstep (a single groupBy(recipient) with two min columns). Delta
messaging throughout: only vertices whose f (resp. b) changed last
superstep scatter, monotone min makes that exact. The per-round edge
restriction is two co-partitioned hash joins against the live vertex
frame, and the live subgraph shrinks monotonically round over round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import choose_partitions, vertices_from_edges
from ..partitioning import build_adjacency
from ..superstep import (
    LoopResult,
    _release,
    iterate,
    iteration_conf,
    local_checkpoint_fresh_stats,
)


def strongly_connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    chunk_size: int = 4096,
    max_rounds: int = 40,
    max_supersteps: int = 200,
) -> tuple[DataFrame, LoopResult]:
    """Returns (DF(id, scc), LoopResult) — ``scc`` is the minimum vertex
    id of the strongly connected component (singletons label themselves).

    ``LoopResult.history`` concatenates the inner superstep metrics of
    every round; ``LoopResult.supersteps`` is the total inner superstep
    count across rounds and ``converged`` reports whether every vertex
    was finalized within ``max_rounds``.
    """
    spark = edges.sparkSession
    p = choose_partitions(edges, lambda: 2 * edges.count(), num_partitions)
    if vertices is None:
        vertices = vertices_from_edges(edges)
    verts = vertices.select("id").repartition(p, "id")

    history = []
    total_steps = 0
    all_done = False

    with iteration_conf(spark, p):
        e = (
            edges.selectExpr("CAST(src AS LONG) AS src", "CAST(dst AS LONG) AS dst")
            .filter("src != dst")
            .distinct()
            .localCheckpoint(eager=True)
        )
        live = verts.localCheckpoint(eager=True)
        # finalized (id, scc) accumulator — grown and lineage-cut per round
        done = spark.createDataFrame([], "id LONG, scc LONG").localCheckpoint(
            eager=True
        )
        # every frame a round holds, freed when the round ends — or when
        # it raises, together with the loop's e/live/done
        held: list[DataFrame] = []

        try:
            for _round in range(1, max_rounds + 1):
                adj_out = build_adjacency(e, num_partitions=p, chunk_size=chunk_size)
                adj_in = build_adjacency(
                    e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
                    num_partitions=p,
                    chunk_size=chunk_size,
                )
                for adj in (adj_out, adj_in):
                    held.append(adj.persist())
                    adj.count()

                init = live.selectExpr(
                    "id",
                    "id AS f",
                    "id AS b",
                    "TRUE AS fch",
                    "TRUE AS bch",
                    "TRUE AS _changed",
                )

                step_exprs = [
                    "id",
                    "LEAST(f, COALESCE(mf, f)) AS f",
                    "LEAST(b, COALESCE(mb, b)) AS b",
                    "(COALESCE(mf, f) < f) AS fch",
                    "(COALESCE(mb, b) < b) AS bch",
                    "(COALESCE(mf, f) < f OR COALESCE(mb, b) < b) AS _changed",
                    "CAST(mf IS NOT NULL AS BIGINT) + CAST(mb IS NOT NULL AS BIGINT)"
                    " AS _msgs",
                ]

                def superstep(state: DataFrame, k: int) -> DataFrame:
                    fm = (
                        adj_out.join(state.filter("fch"), F.expr("src = id"))
                        .selectExpr(
                            "explode(dsts) AS rid", "f AS fv", "CAST(NULL AS LONG) AS bv"
                        )
                    )
                    bm = (
                        adj_in.join(state.filter("bch"), F.expr("src = id"))
                        .selectExpr(
                            "explode(dsts) AS rid", "CAST(NULL AS LONG) AS fv", "b AS bv"
                        )
                    )
                    msgs = (
                        fm.unionAll(bm)
                        .groupBy("rid")
                        .agg(F.expr("MIN(fv) AS mf"), F.expr("MIN(bv) AS mb"))
                        .withColumnRenamed("rid", "id")
                    )
                    return (
                        state.select("id", "f", "b")
                        .join(msgs, "id", "left_outer")
                        .selectExpr(*step_exprs)
                    )

                res = iterate(
                    init,
                    superstep,
                    converged=lambda s: s.changed == 0,
                    max_supersteps=max_supersteps,
                    num_partitions=p,
                )
                history.extend(res.history)
                total_steps += res.supersteps

                st = res.state  # id, f, b, fch, bch (localCheckpoint'ed)
                held.append(st)
                new_done = local_checkpoint_fresh_stats(
                    done.unionAll(st.filter("f = b").selectExpr("id", "f AS scc"))
                )
                held.append(new_done)
                new_live = st.filter("f != b").select("id", "f", "b")
                # restrict edges to survivors in the SAME (f, b) block — two
                # co-partitioned joins (e, live both hash-partitioned by the
                # join keys' side); cross-block edges can never sit inside an
                # SCC, so dropping them is exact
                s_lbl = new_live.selectExpr("id AS src", "f AS sf", "b AS sb")
                d_lbl = new_live.selectExpr("id AS dst", "f AS df", "b AS db")
                new_e = local_checkpoint_fresh_stats(
                    e.join(s_lbl, "src")
                    .join(d_lbl, "dst")
                    .filter("sf = df AND sb = db")
                    .select("src", "dst")
                )
                held.append(new_e)
                next_live = local_checkpoint_fresh_stats(new_live.select("id"))
                held.append(next_live)
                n_live = next_live.count()

                # the round's survivors become the loop's frames; the rest go
                for df in (adj_out, adj_in, st, e, live, done):
                    _release(df)
                e, live, done = new_e, next_live, new_done
                held.clear()

                if n_live == 0:
                    all_done = True
                    break
        except BaseException:
            for df in held + [e, live, done]:
                _release(df)
            raise

        _release(e)
        if all_done:
            _release(live)
        elif live.count() > 0:
            # max_rounds exhausted: label survivors by their own id so the
            # output is total (documented partial result, converged=False)
            done = done.unionAll(live.selectExpr("id", "id AS scc"))

    return done, LoopResult(done, total_steps, history, all_done)
