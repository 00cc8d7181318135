"""K-hop neighborhood feature aggregation — GNN-style feature
propagation over the link graph, in exact integer arithmetic.

GraphSAGE-mean / SGC-style pre-propagation is the standard way to turn
a graph plus per-vertex features into training features for downstream
models: hop k+1's feature is a combine of the vertex's own hop-k value
and the mean over its in-neighbors' hop-k values. The reference engine
has no such operator (its compute() could express it); ours runs it as
K rounds of the engine's gather shape — one co-partitioned
edge-join + groupBy SUM per hop — entirely JVM-side.

Exactness: features stay BIGINT throughout. The neighbor mean is the
FLOOR mean (``sum DIV count``, non-negative operands), and the combine
is ``(own + floor_mean) DIV 2`` — so every hop is a pure integer
function of the input and the whole K-hop propagation is verifiable by
an external SQL oracle (unrolled joins), the house micro-unit style.
Callers wanting fractional precision scale features up first
(e.g. ``value * 2^16``) — floor error is then 2^-16 per hop.

100 TB shape: per hop exactly one shuffle (the groupBy on dst for the
neighbor sums; the join against the persisted, src-partitioned edge
relation is co-located), partial aggregation map-side, feature width
fixed. K is small (2-3 hops — deeper smooths features into uselessness,
the standard GNN observation), so the whole propagation is K narrow
dataflows, not an iterate-to-convergence loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import choose_partitions


def khop_features(
    edges: DataFrame,
    features: DataFrame,
    hops: int = 2,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Propagate an integer vertex feature ``hops`` rounds.

    ``features``: DF(id BIGINT, f BIGINT) — one row per vertex (vertices
    missing from ``features`` default to f = 0; vertices with no
    in-neighbors keep their own value through the combine).

    Returns DF(id, f0, f1, ..., f{hops}) — the feature at every hop,
    f0 = input. Hop rule (all integer, all non-negative if the input
    is):

        nbr_mean_k(v) = floor( sum_{u -> v} f_k(u) / indeg(v) )
        f_{k+1}(v)    = floor( (f_k(v) + nbr_mean_k(v)) / 2 )

    Vertices with indeg 0 use nbr_mean = f_k(v) (self-fallback), so
    isolated vertices are fixed points.
    """
    if hops < 1:
        raise ValueError("hops must be >= 1")
    if features.filter(F.col("f") < 0).limit(1).count() > 0:
        raise ValueError(
            "khop_features requires non-negative integer features "
            "(DIV floor semantics differ between engines for negatives)"
        )
    p = choose_partitions(edges, lambda: edges.count(), num_partitions)
    e = edges.select("src", "dst").distinct().repartition(p, "src")
    verts = (
        vertices.select("id")
        if vertices is not None
        else (
            e.select(F.col("src").alias("id"))
            .union(e.select(F.col("dst").alias("id")))
            .distinct()
        )
    )
    state = (
        verts.join(features.select("id", F.col("f").cast("long").alias("f")), "id", "left")
        .select("id", F.coalesce("f", F.lit(0)).alias("f0"))
        .repartition(p, "id")
    )
    cur = "f0"
    for k in range(1, hops + 1):
        sums = (
            e.join(state.select(F.col("id").alias("src"), F.col(cur).alias("_fv")), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(
                F.sum("_fv").alias("_sum"),
                F.count(F.lit(1)).alias("_deg"),
            )
        )
        nxt = f"f{k}"
        state = (
            state.join(sums, "id", "left")
            .withColumn(
                "_mean",
                F.when(
                    F.col("_deg").isNotNull(),
                    F.expr("_sum DIV _deg"),
                ).otherwise(F.col(cur)),
            )
            .withColumn(nxt, F.expr(f"({cur} + _mean) DIV 2"))
            .drop("_sum", "_deg", "_mean")
        )
        cur = nxt
    return state
