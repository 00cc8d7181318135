"""Connected components — min-label propagation to fixpoint.

Reference contract (ConnectedComponentsVertex.java:108-154):

- superstep 1: each vertex lowers its label to the min of its own id and
  its out-neighbor ids; ONLY vertices whose label changed broadcast it
  (to out-neighbors with larger ids) — a vertex that is already the
  local minimum never originates its own id;
- supersteps 2..: take the min of incoming messages; if smaller than the
  current label, update and re-broadcast to all out-edges; always
  voteToHalt — a pure message-driven fixpoint with SimpleMinCombiner.

On an undirected graph (both edge directions present — the reference's
convention for its clique fixtures) this computes true connected
components; ``symmetrize=True`` (default) gives that. With
``symmetrize=False`` the directed semantics above are reproduced exactly
(including the superstep-1 quirk), matching the reference's golden
ConnectedComponentsReal output on the directed webmap where e.g. the
chain 0->1 does NOT merge 0's label into 1 because vertex 0 never
changes and therefore never sends.

Prologue: the adjacency is built in one shuffle and cached
(``partitioning.build_adjacency``). On symmetrized edges with the
default vertex set, the vertex frame and the superstep-1 labels are
read off that cache — ``min(id, min over dsts)`` per ``src``, with no
exchange since the cache is hash-partitioned on ``src`` — instead of
re-scanning the edges; this is exact because every vertex of a
symmetrized edge set is a source. Directed edges, or a caller's
``vertices``, take the vertex frame from ``vertices`` (default: every
src/dst id) and the neighbor minimum from the edges.

Execution: delta messaging (the reference's INNER_JOIN plan,
JobGenInnerJoin.java:330-375) — only vertices whose label changed last
superstep scatter; monotone min makes this exact. Messages combine via
``groupBy(id).min`` (partial+final, map-side combine before shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointManager
from ..graph import choose_partitions, vertices_from_edges
from ..partitioning import build_adjacency, symmetrize
from ..superstep import (
    LoopResult,
    iterate,
    iteration_conf,
    loop_scope,
    release_local_checkpoint,
)


def connected_components(
    edges: DataFrame,
    symmetrize_edges: bool = True,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    chunk_size: int = 4096,
    max_supersteps: int = 200,
    ckpt: CheckpointManager | None = None,
    resume: bool = True,
    init_labels: DataFrame | None = None,
    initial_active: DataFrame | None = None,
) -> tuple[DataFrame, LoopResult]:
    """Returns (DF(id, component), LoopResult).

    Warm restart (the incremental-analytics path a growing corpus
    needs): ``init_labels`` — a (id, component) frame from a PREVIOUS
    run (e.g. the last checkpoint snapshot) — seeds the labels instead
    of the cold superstep-1 scan; vertices absent from it (newly
    arrived) start at their own id. ``initial_active`` optionally
    restricts the superstep-1 senders to the given (id) set — pass the
    endpoints of the newly ingested edges: old labels are already a
    fixpoint along old edges, so label inconsistencies can only sit on
    new edges, and min-propagation seeded there converges in
    O(changed region) supersteps instead of O(graph diameter). Exact
    regardless of the seed set's size: min-label propagation from any
    per-vertex upper bound that names a same-component vertex reaches
    the component minimum. Without ``initial_active`` every warm vertex
    re-sends once (one full scatter, still correct).
    """
    scale = 2 if symmetrize_edges else 1
    e = symmetrize(edges) if symmetrize_edges else edges.select("src", "dst")
    with loop_scope(edges, num_partitions, scale) as scope:
        p = scope.p
        adj = scope.cache(build_adjacency(e, num_partitions=p, chunk_size=chunk_size))
        if symmetrize_edges and vertices is None:
            # every vertex of a symmetrized edge set is a source, so the
            # cached adjacency (hash-partitioned on src) holds all of
            # them: the vertex frame and the neighbor minimum are one
            # exchange-free aggregate over it
            vert_min = (
                adj.groupBy("src")
                .agg(F.min(F.array_min("dsts")).alias("nmin"))
                .withColumnRenamed("src", "id")
            )
            verts = vert_min.select("id")
        else:
            verts = scope.vertices(vertices)
            nbr_min = e.groupBy("src").agg(F.min("dst").alias("nmin"))
            vert_min = verts.join(
                nbr_min.withColumnRenamed("src", "id"), "id", "left_outer"
            )

        if init_labels is not None:
            prev = init_labels.select("id", F.col("component").alias("_prev"))
            init = verts.join(prev, "id", "left_outer").select(
                "id", F.coalesce(F.col("_prev"), F.col("id")).alias("component")
            )
            if initial_active is not None:
                act = initial_active.select("id").distinct().withColumn(
                    "_act", F.lit(True)
                )
                init = init.join(act, "id", "left_outer").select(
                    "id",
                    "component",
                    F.coalesce(F.col("_act"), F.lit(False)).alias("changed"),
                )
            else:
                init = init.withColumn("changed", F.lit(True))
        else:
            # Superstep 1 (reference): label = min(id, out-neighbors); a
            # vertex is "changed" (and will broadcast) only if that lowered
            # its label.
            init = (
                vert_min.select(
                    "id",
                    F.least(F.col("id"), F.coalesce(F.col("nmin"), F.col("id"))).alias("component"),
                )
                .withColumn("changed", F.col("component") < F.col("id"))
            )

        # Whole-SQL-snippet plan construction (selectExpr / F.expr) — the
        # identical logical plan the fine-grained Column calls produced, but
        # ~8 py4j round trips per superstep instead of ~40 (see pagerank.py;
        # measured ~25% off the per-superstep floor at small scale, where
        # fixed overhead dominates). Still exactly one SQL execution per
        # superstep (tests/test_superstep_jobs.py).
        comp_expr = "LEAST(component, COALESCE(cand, component))"
        step_exprs = [
            "id",
            f"{comp_expr} AS component",
            f"({comp_expr} < component) AS changed",
            f"({comp_expr} < component) AS _changed",
            "CAST(cand IS NOT NULL AS BIGINT) AS _msgs",
        ]

        def _messages(state: DataFrame) -> DataFrame:
            return (
                adj.join(state.filter("changed"), F.expr("src = id"))
                .selectExpr("explode(dsts) AS id", "component AS cand")
                .groupBy("id")
                .agg(F.expr("MIN(cand) AS cand"))
            )

        def superstep(state: DataFrame, k: int) -> DataFrame:
            msgs = _messages(state)
            return (
                state.drop("changed")
                .join(msgs, "id", "left_outer")
                .selectExpr(*step_exprs)
            )

        result = iterate(
            init.withColumn("_changed", F.col("changed")),
            superstep,
            converged=lambda s: s.changed == 0,
            max_supersteps=max_supersteps,
            ckpt=ckpt,
            resume=resume,
            num_partitions=p,
        )
    return result.state.select("id", "component"), result


def connected_components_hashmin(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    max_rounds: int = 60,
) -> tuple[DataFrame, LoopResult]:
    """Alternating large-star / small-star connected components.

    The diameter-independent CC of Kiveris et al., "Connected Components
    in MapReduce and Beyond" (SoCC'14): the iteration state is the EDGE
    relation itself, repeatedly contracted toward star graphs rooted at
    each component's minimum id. Round count is O(log^2 n) proven,
    O(log n) observed — versus O(graph diameter) supersteps for
    min-label propagation (``connected_components``). On a web-scale
    repo graph whose diameter can run to hundreds (dependency chains),
    that is ~10 shuffle rounds instead of ~hundreds of supersteps; the
    per-round cost is two groupBy+join phases over a never-growing edge
    relation, all JVM-side.

    Semantics: true undirected components (direction ignored), i.e.
    equivalent to ``connected_components(symmetrize_edges=True)`` — the
    component label is the minimum vertex id, so the two engines are
    mutually checking and share one oracle.

    Each round is one :func:`~linkgraph.superstep.iterate` superstep,
    so ONE SQL execution (both phases compose lazily into the round's
    checkpoint; the edge count and two independent bit_xor(xxhash64)
    set-checksums ride it as global aggregates, kept in
    ``history[j].extras``).
    Fixpoint detection = (count, checksum, checksum') stable across a
    round; the edge relation at fixpoint is exactly the star set, from
    which labels read off with one groupBy(min).

    Returns (DF(id, component), LoopResult) — LoopResult.history rows
    carry the per-round edge-relation size in ``rows``.
    """
    p = choose_partitions(edges, lambda: 2 * edges.count(), num_partitions)
    if vertices is None:
        vertices = vertices_from_edges(edges)
    verts = vertices.select("id").repartition(p, "id")

    init = (
        edges.select(
            F.col("src").cast("long").alias("a"),
            F.col("dst").cast("long").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo"))
        .distinct()
    )
    large_held: list[DataFrame] = []

    def superstep(e: DataFrame, k: int) -> DataFrame:
        # last round's large-star edges are dead once its state exists
        while large_held:
            large_held.pop().unpersist()
        # ---- large-star: every neighbor above u links to u's min ----
        nbrs = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionAll(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        lmins = nbrs.groupBy("u").agg(F.min("v").alias("nmin"))
        lmins = lmins.select("u", F.least("u", "nmin").alias("m"))
        large = (
            nbrs.join(lmins, "u")
            .filter(F.col("v") > F.col("u"))
            # v > u >= m, so (v, m) is already in canonical hi > lo form
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
            # the small-star phase references large TWICE (its own
            # min aggregate + the join back); without a cache the
            # whole large-star subtree (two exchanges) re-executes
            # per reference — AQE is off in-loop, so there is no
            # ReusedExchange to rescue it
            .persist()
        )
        large_held.append(large)
        # ---- small-star: smaller neighbors (and u) link to the min ----
        smins = large.groupBy("hi").agg(F.min("lo").alias("m"))
        joined = large.join(smins, "hi")
        return (
            joined.filter(F.col("lo") != F.col("m"))
            # m = min over hi's smaller neighbors, so m < lo here
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .unionAll(smins.select("hi", F.col("m").alias("lo")))
            .distinct()
        )

    prev_sig = None

    def stable(stats) -> bool:
        nonlocal prev_sig
        sig = (stats.rows, stats.extras["sig1"], stats.extras["sig2"])
        done = sig == prev_sig or stats.rows == 0
        prev_sig = sig
        return done

    try:
        res = iterate(
            init,
            superstep,
            stable,
            max_supersteps=max_rounds,
            num_partitions=p,
            # bit_xor: order-independent set checksums with no ANSI
            # overflow (sum(xxhash64) throws under ansi.enabled)
            global_aggs={
                "sig1": F.expr("bit_xor(xxhash64(hi, lo))"),
                "sig2": F.expr("bit_xor(xxhash64(lo, hi, 7L))"),
            },
        )
    finally:
        for large in large_held:
            large.unpersist()

    # At fixpoint e is the star set (member, root): a vertex's label
    # is its minimum neighbor if smaller than itself, else its own id
    # (roots and isolated vertices).
    e = res.state
    nbr_min = (
        e.select(F.col("hi").alias("id"), F.col("lo").alias("n"))
        .unionAll(e.select(F.col("lo").alias("id"), F.col("hi").alias("n")))
        .groupBy("id")
        .agg(F.min("n").alias("nmin"))
    )
    labels = verts.join(nbr_min, "id", "left_outer").select(
        "id",
        F.least(F.col("id"), F.coalesce(F.col("nmin"), F.col("id"))).alias(
            "component"
        ),
    )
    with iteration_conf(edges.sparkSession, p):
        labels = labels.localCheckpoint(eager=True)
    # a round's checkpoint, or the persisted input if none ran
    e.unpersist()
    release_local_checkpoint(e)

    return labels, LoopResult(labels, res.supersteps, res.history, res.converged)
