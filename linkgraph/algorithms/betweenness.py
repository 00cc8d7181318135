"""Source-sampled betweenness centrality (Brandes' algorithm over a
fixed source set), DataFrame-native.

Betweenness asks "how much shortest-path traffic crosses this vertex"
— the standard bridge/broker detector on link graphs. Exact betweenness
is all-pairs (O(nm), hopeless at web scale); the standard scalable
estimator (Brandes-Pich) runs Brandes' two phases from a SAMPLE of
sources and sums the per-source dependencies. That is what this
module implements, with every source advanced simultaneously in one
keyed frame — k sources cost one BFS-shaped loop, not k loops.

Phases (Brandes 2001, "A Faster Algorithm for Betweenness Centrality"):

1. FORWARD (one frontier superstep per depth): grow the shortest-path
   DAG as rows ``(s, v, dist, sigma)`` where sigma = number of
   shortest s->v paths. The frontier join emits candidate
   ``(s, w, sigma)`` over out-edges, an anti-join against the
   accumulated DAG keeps first-time vertices, and a groupBy sums sigma
   over parallel predecessors — exactly the message/combine shape of
   every other superstep in this engine.
2. BACKWARD (one superstep per depth, deepest first): dependency
   delta(v) = sum over DAG successors w of sigma(v)/sigma(w) *
   (1 + delta(w)). Each level joins the current level's deltas to its
   predecessor level through the edge relation and sums per (s, v).

Both passes run on :func:`~linkgraph.superstep.iterate` (one SQL
execution per level) inside one loop scope, so the backward levels
join the same cached adjacency as the forward ones. ``history``
numbers the backward levels after the forward rounds.

Integer-exact accumulation (the oracle contract): deltas are kept in
micro-units (BIGINT, 1.0 == 1_000_000). Each backward TERM is rounded
to integer units before summing, so every SUM in both phases is an
integer sum — order-independent, hence bit-identical between Spark and
the unrolled DuckDB oracle regardless of aggregation order. The
per-term quantization error is <= 0.5e-6 per DAG edge, negligible
against the sampling error of source-sampled betweenness itself.

100 TB shape: the DAG is the inherent Brandes footprint — O(k * n)
rows of four longs for k sources, hash-partitioned by vertex; each
forward/backward superstep is one equi-join + one partial/final
aggregate exchange, frontier-proportional. sigma is capped by BIGINT:
on graphs whose shortest-path counts overflow int64 (explosive
lattice-like graphs), sample fewer/more peripheral sources or shorten
``max_depth``.

Reference parity: the reference ships no betweenness; this extends its
centrality family (PageRank/HITS) with the standard shortest-path
centrality, reusing its superstep machinery (SURVEY.md §3.3 message
join + §3.4 combine shapes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..partitioning import symmetrize
from ..superstep import (
    LoopResult,
    iterate,
    loop_scope,
    release_local_checkpoint,
)

UNIT = 1_000_000


def betweenness_centrality(
    edges: DataFrame,
    sources: list[int],
    max_depth: int = 12,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    symmetrize_edges: bool = True,
) -> tuple[DataFrame, LoopResult]:
    """Brandes betweenness from ``sources``, all sources in one frame.

    Returns (DF(id, betweenness_units BIGINT, betweenness_est DOUBLE),
    LoopResult). ``betweenness_units`` is the integer micro-unit sum of
    per-source dependencies delta_s(v) over v != s (unreached vertices
    get 0); ``betweenness_est`` = units / 1e6 (one IEEE division).
    On a symmetrized graph each unordered pair contributes from both
    endpoints when both are sources — the usual source-sampled
    convention (scale by n/k/2 outside if an absolute undirected
    estimate is wanted).

    ``converged`` is True iff every source's BFS exhausted its
    component within ``max_depth`` levels (so the DAG — and the
    centrality — is complete for this source set; a deeper graph
    truncates and reports converged=False).
    """
    if not sources:
        raise ValueError("sources must be non-empty")
    scale = 2 if symmetrize_edges else 1
    e = (
        symmetrize(edges)
        if symmetrize_edges
        else edges.select("src", "dst").distinct()
    )

    with loop_scope(edges, num_partitions, scale) as scope:
        p = scope.p
        adj = scope.cache(e.repartition(p, "src"))

        # ---- forward: grow the shortest-path DAG level by level ----
        def forward(dag: DataFrame, d: int) -> DataFrame:
            frontier = dag.filter(F.col("dist") == d - 1)
            cand = (
                frontier.alias("f")
                .join(adj.alias("e"), F.col("f.v") == F.col("e.src"))
                .groupBy(F.col("f.s").alias("s"), F.col("e.dst").alias("v"))
                .agg(F.sum("f.sigma").alias("sigma"))
            )
            lvl = (
                cand.alias("c")
                .join(dag.alias("g"), ["s", "v"], "left_anti")
                .selectExpr("s", "v", f"CAST({d} AS INT) AS dist", "sigma")
            )
            return dag.unionByName(lvl).withColumn("_changed", F.col("dist") == d)

        src_df = edges.sparkSession.createDataFrame([(int(s),) for s in sources], "s long")
        fwd = iterate(
            src_df.selectExpr(
                "s", "s AS v", "CAST(0 AS INT) AS dist", "CAST(1 AS BIGINT) AS sigma"
            ).repartition(p, "v"),
            forward,
            converged=lambda s: s.changed == 0,
            max_supersteps=max_depth,
            num_partitions=p,
        )
        dag = fwd.state
        # the level that added nothing is not a DAG level
        depth = fwd.supersteps - int(fwd.converged)

        # ---- backward: dependency accumulation, deepest level first ----
        # delta rows: (s, v, du BIGINT micro-units); deepest level = 0.
        # Each term ROUNDs to integer units before the SUM, keeping every
        # aggregate integer-exact (order-independent).
        def backward(deltas: DataFrame, k: int) -> DataFrame:
            d = depth - k + 1
            cur = deltas.filter(F.col("dist") == d).alias("w")
            prev = dag.filter(F.col("dist") == d - 1).alias("u")
            contrib = (
                prev.join(adj.alias("e"), F.col("u.v") == F.col("e.src"))
                .join(
                    cur,
                    (F.col("e.dst") == F.col("w.v"))
                    & (F.col("u.s") == F.col("w.s")),
                )
                .groupBy(F.col("u.s").alias("s"), F.col("u.v").alias("v"))
                .agg(
                    F.sum(
                        F.expr(
                            "CAST(ROUND(CAST(u.sigma AS DOUBLE)"
                            f" * CAST({UNIT} + w.du AS DOUBLE)"
                            " / CAST(w.sigma AS DOUBLE), 0) AS BIGINT)"
                        )
                    ).alias("c")
                )
            )
            lvl = (
                dag.filter(F.col("dist") == d - 1)
                .join(contrib, ["s", "v"], "left_outer")
                .selectExpr(
                    "s",
                    "v",
                    "dist",
                    "sigma",
                    "COALESCE(c, CAST(0 AS BIGINT)) AS du",
                )
            )
            return deltas.unionByName(lvl)

        bwd = None
        try:
            bwd = iterate(
                dag.filter(F.col("dist") == depth).selectExpr(
                    "s", "v", "dist", "sigma", "CAST(0 AS BIGINT) AS du"
                ),
                backward,
                converged=lambda s: False,
                max_supersteps=depth,
                num_partitions=p,
            )
        finally:
            # the DAG is dead once a backward level has materialized (or
            # the pass failed); with depth 0 the result still reads it
            if bwd is None or bwd.history:
                release_local_checkpoint(dag)

    bc = bwd.state.filter(F.col("dist") >= 1).groupBy(
        F.col("v").alias("id")
    ).agg(F.sum("du").alias("bc"))
    if vertices is not None:
        bc = (
            vertices.select("id")
            .join(bc, "id", "left_outer")
            .selectExpr("id", "COALESCE(bc, CAST(0 AS BIGINT)) AS bc")
        )
    out = bc.selectExpr(
        "id",
        "bc AS betweenness_units",
        f"CAST(bc AS DOUBLE) / {UNIT}.0 AS betweenness_est",
    )
    # backward levels are numbered after the forward ones
    for stats in bwd.history:
        stats.superstep += fwd.supersteps
    history = fwd.history + bwd.history
    return out, LoopResult(out, len(history), history, fwd.converged)
