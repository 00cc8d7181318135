"""Maximal matching — local-minimum edge coins (Luby on the line graph).

A maximal matching (no two matched edges share a vertex; every
unmatched edge has a matched endpoint) is the edge-side
symmetry-breaking primitive next to the vertex-side MIS
(algorithms/mis.py) — the building block for distributed vertex cover
(2-approximation = matched endpoints), graph coarsening for multilevel
partitioners, and degree-constrained pair assignment. The reference
ships no matching job, but the per-round shape is exactly its
compute()/voteToHalt superstep (SURVEY.md §3.10): the live frontier
shrinks geometrically and each round is a constant number of keyed
exchanges.

Rule (handshake argmin, the line-graph mirror of Luby): each round,
every LIVE edge (both endpoints unmatched) draws a deterministic coin
from ``(u, v, round, seed)``; each live vertex points at its
lexicographically smallest incident live edge by ``(coin, u, v)`` —
always unique, since ``(u, v)`` identifies the edge — and an edge
joins the matching when BOTH its endpoints point at it. Two adjacent
edges can never both win (they share a vertex, which points at only
one of them), so the result is a matching by construction; the
globally smallest live edge always wins, and in expectation a
constant fraction of live edges loses an endpoint per round, so the
round count is O(log n) by the standard Luby argument. (The ``(u,v)``
tiebreak replaces the earlier tie-defer rule: a coin collision no
longer stalls a vertex for a round, and the per-round plan drops the
argmin-uniqueness re-join — one aggregation per side instead of two.)

Determinism: the coin is the counter-based hash of phash.py —
``portable=True`` draws md5 digit terms reproducible in DuckDB (the
driver oracle unrolls the rounds in SQL), production mode one xxhash64
per live edge per round. Both modes yield a valid maximal matching, a
pure function of (graph, seed), independent of partitioning and
cluster size.

Distributed shape (the 100 TB design): the live-edge frame is CARRIED
across rounds as a lazily local-checkpointed delta relation — round 1
derives it from the canonical edge set, every later round shrinks the
previous round's frame with two anti-joins against the (cached,
id-partitioned) matched-vertex set, so per-round work is proportional
to the LIVE edge set (which Luby shrinks geometrically), not to |E|:
total work O(E), not O(E log n). Each round is then one coin
projection, one per-vertex min aggregate, one argmin-uniqueness
check, one per-edge pair count — all keyed partial/final aggregates,
nothing collected. The round-start live-incidence count rides the
state observation as the stop signal (no extra survival pass); the
loop ends on the first round that opens with zero live edges. The
carried frame is freed two rounds later (after its successor has
materialized from it), so storage holds at most two live-edge
snapshots; the mate relation stays id-partitioned for the final join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointManager
from ..graph import choose_partitions, vertices_from_edges
from ..partitioning import symmetrize
from ..phash import md5_digits_spark_sql as _md5_digits_spark_sql
from ..phash import md5_int_sql as _md5_int_sql

UNMATCHED = -1


def _mm_arg(u_sql: str, v_sql: str, k: int, seed: int) -> str:
    return (
        f"concat_ws(':', 'mm', CAST({u_sql} AS STRING),"
        f" CAST({v_sql} AS STRING), '{k}', '{seed}')"
    )


def matching_coin_sql(u_sql: str, v_sql: str, k: int, seed: int) -> str:
    """Engine-neutral SQL (valid in Spark SQL AND DuckDB) for live edge
    ``(u, v)``'s non-negative priority at round ``k`` — the oracle-side
    md5 digit spelling; the engine's portable mode computes the
    identical value via the faster conv() spelling."""
    return _md5_int_sql(_mm_arg(u_sql, v_sql, k, seed))


def _spark_coin(u_sql: str, v_sql: str, k: int, seed: int, portable: bool) -> str:
    arg = _mm_arg(u_sql, v_sql, k, seed)
    if portable:
        return _md5_digits_spark_sql(f"md5({arg})", 6)
    return f"pmod(xxhash64({arg}), {2 ** 62})"


def maximal_matching(
    edges: DataFrame,
    seed: int = 42,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    max_supersteps: int = 60,
    ckpt: CheckpointManager | None = None,
    resume: bool = True,
    portable: bool = False,
) -> tuple[DataFrame, "LoopResult"]:
    """Returns (DF(id BIGINT, mate BIGINT), LoopResult) — a maximal
    matching of the UNDIRECTED simple graph: ``mate`` is the matched
    partner's id, or -1 for unmatched vertices (isolated vertices and
    the leftovers maximality allows). Self-loops are dropped (a vertex
    cannot match itself).

    Deterministic in (graph, seed); both coin modes yield a valid
    maximal matching but generally DIFFERENT matchings.
    """
    from ..superstep import (
        LoopResult,
        iterate,
        local_checkpoint_fresh_stats,
        release_local_checkpoint,
    )

    p = choose_partitions(edges, lambda: edges.count(), num_partitions)
    if vertices is None:
        vertices = vertices_from_edges(edges)

    # canonical u < v live-edge universe (one row per undirected edge);
    # read exactly once (the round-1 derivation, or once more on a
    # checkpoint resume) — later rounds shrink the CARRIED frame instead
    canon = symmetrize(edges).filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )

    init = vertices.select("id").withColumn(
        "mate", F.lit(UNMATCHED).cast("long")
    ).repartition(p, "id")

    # carried live-edge frames: "cur" is this round's frame (a lazy
    # localCheckpoint — it materializes inside the round's single state
    # job and every downstream subtree reads the cached rows instead of
    # replaying the derivation); "prev" is kept one extra round because
    # "cur" was built from it, then freed.
    carried: dict[str, DataFrame | None] = {"cur": None, "prev": None}

    def superstep(state: DataFrame, k: int) -> DataFrame:
        if carried["prev"] is not None:
            release_local_checkpoint(carried["prev"])
        carried["prev"] = carried["cur"]
        if carried["cur"] is None:
            # first round (or resume): derive live edges from scratch
            live = state.filter(F.col("mate") == UNMATCHED).select("id")
            base = canon.join(live.select(F.col("id").alias("u")), "u").join(
                live.select(F.col("id").alias("v")), "v"
            )
        else:
            # delta: drop edges that lost an endpoint last round. The
            # matched set only grows, so anti-joining the FULL matched
            # relation (cached, id-partitioned state) is exact.
            matched = state.filter(F.col("mate") != UNMATCHED).select("id")
            base = carried["cur"].join(
                matched.select(F.col("id").alias("u")), "u", "left_anti"
            ).join(matched.select(F.col("id").alias("v")), "v", "left_anti")
        le = local_checkpoint_fresh_stats(base.select("u", "v"), eager=False)
        carried["cur"] = le

        lek = le.select(
            "u", "v", F.expr(_spark_coin("u", "v", k, seed, portable)).alias("ck")
        )
        # incidence: one row per (endpoint, live edge)
        inc = lek.select(F.col("u").alias("vid"), "u", "v", "ck").unionByName(
            lek.select(F.col("v").alias("vid"), "u", "v", "ck")
        )
        # per-vertex argmin edge by (coin, u, v) — unique by
        # construction, one partial/final aggregate
        vm = inc.groupBy("vid").agg(
            F.min(F.struct("ck", "u", "v")).alias("w"),
            F.count(F.lit(1)).alias("nle"),
        )
        # an edge wins when it is the argmin at BOTH endpoints
        wins = (
            vm.groupBy(F.col("w.u").alias("u"), F.col("w.v").alias("v"))
            .agg(F.count(F.lit(1)).alias("_c"))
            .filter(F.col("_c") == 2)
            .select("u", "v")
        )
        mates = wins.select(
            F.col("u").alias("id"), F.col("v").alias("m")
        ).unionByName(wins.select(F.col("v").alias("id"), F.col("u").alias("m")))
        # stop signal: the round-START live-incidence count (Σ nle)
        # rides the observation as _delta — zero means the round opened
        # with no live edges, i.e. the matching was already maximal.
        # Costs one (empty) trailing round instead of a per-round
        # survivors pass (two anti-joins + distinct in the old shape).
        return (
            state.join(mates, "id", "left_outer")
            .join(vm.select(F.col("vid").alias("id"), "nle"), "id", "left_outer")
            .select(
                "id",
                F.coalesce(F.col("m"), F.col("mate")).alias("mate"),
                F.col("m").isNotNull().alias("_changed"),
                F.coalesce(F.col("nle"), F.lit(0)).cast("long").alias("_msgs"),
                F.coalesce(F.col("nle"), F.lit(0)).cast("double").alias("_delta"),
            )
        )

    try:
        result = iterate(
            init.withColumn("_changed", F.lit(False)).withColumn("_delta", F.lit(1.0)),
            superstep,
            converged=lambda s: (s.delta or 0.0) == 0.0,
            max_supersteps=max_supersteps,
            ckpt=ckpt,
            resume=resume,
            num_partitions=p,
        )
    finally:
        for key in ("prev", "cur"):
            if carried[key] is not None:
                release_local_checkpoint(carried[key])
    return result.state.select("id", "mate"), result
