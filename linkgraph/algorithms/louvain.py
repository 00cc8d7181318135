"""Louvain — synchronous greedy modularity moves, one level or the
full multi-level contraction hierarchy.

Completes the community-detection story next to label propagation
(frequency-greedy) and Newman modularity scoring (stats.modularity):
Louvain (Blondel et al. 2008), the quality function the web-graph
community literature actually optimizes. Each move round, every vertex
evaluates moving to each NEIGHBORING community and takes the move with
the largest modularity gain; all moves apply synchronously. Classic
Louvain is sequential (one vertex at a time); the synchronous variant
is the standard distributed re-expression (e.g. Spark/GraphX
"Louvain-style" implementations) and is what a BSP engine can honestly
compute — we run FIXED round counts, making the output a pure function
of the input.

The move phase runs on a WEIGHTED symmetric relation that may carry
self-loop rows — exactly what graph contraction produces — so the same
core serves both levels: level 1 sees the simple graph with w = 1;
after contraction each community becomes a super-vertex, inter-
community weights sum, and intra-community weight lands on a (c, c)
self row counting fully toward the super-vertex volume (each intra
edge appears in both symmetric directions, so the self row holds twice
the undirected intra weight — the standard convention that keeps
vol and 2m invariant under contraction). Self rows are EXCLUDED from
edge-to-community gathers (a self-loop moves with its vertex, so it
cancels in every gain).

Exact arithmetic: for v in community a, moving to community c changes
modularity by

    dQ = (e_vc - e_va') / m  -  k_v * (vol_c - vol_a') / (2 m^2)

with e_vX = v's edge weight into X (v excluded), k_v = v's weighted
degree (self rows included), vol_a' = vol_a - k_v. Multiplying by the
positive constant 2m^2 gives the INTEGER score

    score(c) = 2m * (e_vc - e_va') - k_v * (vol_c - vol_a')

so every comparison (argmax over candidate communities, the move/stay
test score > 0, and the id tie-break) is exact integer arithmetic — no
float summation order, no ROUND ties — evaluated in DECIMAL(38,0)
(Spark) / HUGEINT arithmetic (DuckDB) because k_v * vol_c exceeds
int64 on 10^11-edge graphs (the collocations convention).

Pure synchronous moves oscillate (two singletons that each pick the
other swap labels forever — the textbook pathology). We use the
standard distributed-Louvain mitigation (Sotera's DGA implementation
popularized it): EVEN rounds only accept moves to a LOWER community
id, ODD rounds only to a HIGHER one — any swap pair is broken because
the two directions can never fire in the same round, while every
profitable merge stays reachable on alternating rounds. Direction
filtering happens BEFORE the argmax so a blocked best candidate never
shadows an eligible one; ties break to the smallest (even) / largest
(odd) candidate id. Rounds are therefore deterministic and the fixed
round counts keep the oracle an exact unrolled replay across BOTH
levels (the contraction is one aggregate CTE).

Distributed shape per round: one weight-weighted community-volume
aggregate, one edge⋈labels join + per-(v, community) weight sum, one
struct-max argmax per vertex — three partial/final exchanges, all
keyed, nothing collected; labels checkpoint with fresh stats
(superstep.local_checkpoint_fresh_stats). Contraction is one
two-sided label join + groupBy — after it the graph is COMMUNITY-
sized, so every later level costs a vanishing fraction of level 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import choose_partitions, vertices_from_edges
from ..partitioning import symmetrize
from ..superstep import (
    iteration_conf,
    local_checkpoint_fresh_stats,
    loop_scope,
    release_local_checkpoint,
)

DEC = "decimal(38,0)"


def _weighted_sym(edges: DataFrame, weight_col: str) -> DataFrame:
    """Symmetrize a weighted directed relation: undirected weight =
    sum over both orientations (the standard directed->undirected
    convention), emitted as both symmetric rows. Self loops dropped.

    Integer-weight contract: modularity gains are exact only under
    integer weights, so fractional values are REJECTED (not silently
    truncated) — pre-scale e.g. DOUBLE weights to integers upstream.
    """
    dtype = dict(edges.dtypes)[weight_col]
    if not (dtype in ("bigint", "int", "smallint", "tinyint")
            or (dtype.startswith("decimal") and dtype.endswith(",0)"))):
        n_frac = edges.filter(
            F.col(weight_col) != F.col(weight_col).cast("long")
        ).limit(1).count()
        if n_frac:
            raise ValueError(
                f"louvain requires integer edge weights (exact-gain "
                f"contract); column {weight_col!r} of type {dtype} holds "
                "fractional values — round or rescale it upstream"
            )
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
    )
    return und.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "w"
    ).unionByName(
        und.select(F.col("v").alias("src"), F.col("u").alias("dst"), "w")
    )


def _move_rounds(
    wsym: DataFrame,
    lab: DataFrame,
    two_m: int,
    rounds: int,
    p: int,
) -> DataFrame:
    """``rounds`` synchronous greedy moves over the weighted symmetric
    relation ``wsym(src, dst, w)`` (self rows allowed), starting from
    ``lab(id, community)``. Returns the updated labels.

    Takes ownership of the checkpointed ``lab``: each round's labels are
    freed once the next round's exist, and the current ones when a
    round raises."""
    try:
        # weighted degree k_v: self rows count fully (they carry 2x the
        # undirected intra weight by construction)
        deg = wsym.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("deg"))
        nonself = wsym.filter(F.col("src") != F.col("dst"))

        for _r in range(rounds):
            vol = (
                lab.join(deg, "id")
                .groupBy("community")
                .agg(F.sum("deg").alias("vol"))
            )
            # v's edge weight into each adjacent community (self rows out)
            evc = (
                nonself.join(
                    lab.select(
                        F.col("id").alias("dst"), F.col("community").alias("c2")
                    ),
                    "dst",
                )
                .groupBy(F.col("src").alias("id"), "c2")
                .agg(F.sum("w").alias("e"))
            )
            cur = (
                lab.join(deg, "id", "left_outer")
                .join(
                    vol.select(F.col("community"), F.col("vol").alias("vol_a")),
                    "community",
                    "left_outer",
                )
                .join(
                    evc.select(
                        "id", F.col("c2").alias("community"), F.col("e").alias("e_a")
                    ),
                    ["id", "community"],
                    "left_outer",
                )
                .select(
                    "id",
                    F.col("community").alias("a"),
                    F.coalesce("deg", F.lit(0)).alias("deg_v"),
                    (
                        F.coalesce("vol_a", F.lit(0)) - F.coalesce("deg", F.lit(0))
                    ).alias("vol_rest"),
                    F.coalesce("e_a", F.lit(0)).alias("e_a"),
                )
            )
            direction = (
                (F.col("c2") < F.col("a"))
                if _r % 2 == 0
                else (F.col("c2") > F.col("a"))
            )
            cand = (
                evc.join(cur, "id")
                .filter(direction)
                .join(vol.select(F.col("community").alias("c2"), "vol"), "c2")
                .select(
                    "id",
                    "a",
                    "c2",
                    (
                        F.lit(two_m).cast(DEC)
                        * (F.col("e") - F.col("e_a")).cast(DEC)
                        - F.col("deg_v").cast(DEC)
                        * (F.col("vol") - F.col("vol_rest")).cast(DEC)
                    ).alias("score"),
                )
            )
            tiekey = (-F.col("c2")) if _r % 2 == 0 else F.col("c2")
            sign = -1 if _r % 2 == 0 else 1
            best = (
                cand.groupBy("id")
                .agg(F.max(F.struct(F.col("score"), tiekey.alias("tk"))).alias("b"))
                .select(
                    "id",
                    F.col("b.score").alias("score"),
                    (F.lit(sign) * F.col("b.tk")).alias("c_new"),
                )
            )
            nxt = local_checkpoint_fresh_stats(
                lab.join(best, "id", "left_outer")
                .select(
                    "id",
                    F.when(F.col("score") > 0, F.col("c_new"))
                    .otherwise(F.col("community"))
                    .alias("community"),
                )
                .repartition(p, "id")
            )
            release_local_checkpoint(lab)
            lab = nxt
    except BaseException:
        release_local_checkpoint(lab)
        raise
    return lab


def greedy_modularity_communities(
    edges: DataFrame,
    rounds: int = 3,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Returns DF(id BIGINT, community BIGINT): labels after ``rounds``
    synchronous greedy-modularity move rounds over the symmetrized
    graph, initialized to singleton communities. Isolated vertices keep
    their singleton label.

    ``weight_col`` selects weighted modularity: the undirected weight
    of a pair is the SUM over both directed orientations (standard
    directed->undirected convention — e.g. the repo rollup's
    reference-count weights), and every gain is exact-integer under
    2m = total symmetric weight. Default (None) is the simple-graph
    contract (each present direction contributes 1)."""
    spark = edges.sparkSession
    with loop_scope(edges, num_partitions) as scope, iteration_conf(spark, scope.p):
        p = scope.p
        base = (
            _weighted_sym(edges, weight_col)
            if weight_col is not None
            # input self-loops dropped in BOTH paths: the 2x-self-row
            # weight convention only applies to contraction-produced
            # intra rows, never raw input loops
            else symmetrize(edges.filter(F.col("src") != F.col("dst")))
            .withColumn("w", F.lit(1).cast("long"))
        )
        wsym = scope.cache(base.repartition(p, "src"))
        two_m = wsym.agg(F.sum("w")).collect()[0][0] or 0
        lab = local_checkpoint_fresh_stats(
            scope.vertices(vertices).select("id", F.col("id").alias("community"))
        )
        lab = _move_rounds(wsym, lab, two_m, rounds, p)
    return lab.select("id", "community")


def louvain_multilevel(
    edges: DataFrame,
    levels: int = 2,
    rounds: int = 4,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Full multi-level Louvain: ``levels`` move phases with graph
    contraction between them.

    Returns DF(id, c1, c2, ..., community) — ``c{l}`` is the vertex's
    community after level ``l`` mapped down to original vertices,
    ``community`` = the top level (equal to the last c column). Each
    level runs ``rounds`` synchronous moves; the contracted graph
    carries summed inter-community weights and intra weight on self
    rows, so total weight (2m) is invariant across levels and gains at
    every level are exact integers under the one shared 2m.
    """
    if levels < 1:
        raise ValueError("levels must be >= 1")
    spark = edges.sparkSession
    p = choose_partitions(edges, lambda: edges.count(), num_partitions)
    if vertices is None:
        vertices = vertices_from_edges(edges)

    # wsym and every frame the levels make (the output joins all the
    # flat labels) are freed on the way out, also when a level raises
    wsym = None
    held: list[DataFrame] = []
    try:
        with iteration_conf(spark, p):
            wsym = (
                symmetrize(edges.filter(F.col("src") != F.col("dst")))
                .withColumn("w", F.lit(1).cast("long"))
                .repartition(p, "src")
                .persist()
            )
            two_m = wsym.count()
            # vertex -> current flat community (mapped to original ids)
            flat = local_checkpoint_fresh_stats(
                vertices.select("id", F.col("id").alias("community")).repartition(
                    p, "id"
                )
            )
            held.append(flat)
            out = vertices.select("id").repartition(p, "id")
            for lvl in range(1, levels + 1):
                supers = flat.select(
                    F.col("community").alias("id")
                ).distinct()
                lab = local_checkpoint_fresh_stats(
                    supers.select("id", F.col("id").alias("community")).repartition(
                        p, "id"
                    )
                )
                lab = _move_rounds(wsym, lab, two_m, rounds, p)
                held.append(lab)
                # map the level's result down to original vertices
                flat = local_checkpoint_fresh_stats(
                    flat.select("id", F.col("community").alias("_s"))
                    .join(
                        lab.select(
                            F.col("id").alias("_s"), F.col("community").alias("community")
                        ),
                        "_s",
                    )
                    .select("id", "community")
                    .repartition(p, "id")
                )
                held.append(flat)
                out = out.join(
                    flat.select("id", F.col("community").alias(f"c{lvl}")), "id"
                )
                if lvl < levels:
                    # contract: super-vertices = communities, weights sum;
                    # intra weight lands on (c, c) self rows
                    nxt = (
                        wsym.join(
                            lab.select(
                                F.col("id").alias("src"), F.col("community").alias("_ca")
                            ),
                            "src",
                        )
                        .join(
                            lab.select(
                                F.col("id").alias("dst"), F.col("community").alias("_cb")
                            ),
                            "dst",
                        )
                        .groupBy(
                            F.col("_ca").alias("src"), F.col("_cb").alias("dst")
                        )
                        .agg(F.sum("w").alias("w"))
                        .repartition(p, "src")
                        .persist()
                    )
                    nxt.count()
                    wsym.unpersist()
                    wsym = nxt
        return local_checkpoint_fresh_stats(
            out.withColumn("community", F.col(f"c{levels}"))
        )
    finally:
        if wsym is not None:
            wsym.unpersist()
        for df in held:
            release_local_checkpoint(df)
