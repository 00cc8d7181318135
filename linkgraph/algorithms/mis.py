"""Luby's maximal independent set — coin-flip rounds over the
undirected link graph.

A maximal independent set (no two members adjacent; every non-member
adjacent to a member) is the classic Pregel-style symmetry-breaking
primitive (Luby 1986): each round, every live vertex draws a random
priority; a vertex joins the MIS when its priority beats every live
neighbor's, then it and its neighbors leave the live set. Expected
O(log n) rounds. The reference ships no MIS but this is exactly the
compute()/voteToHalt shape its vertex programs use (SURVEY.md §3.10);
it rounds out the engine's symmetry-breaking toolkit next to
graph_sample and random_walks.

Determinism: the per-round priority is a counter-based hash coin over
``(id, round, seed)`` — the phash.py convention — so the MIS is a pure
function of (graph, seed), identical across runs, partitionings, and
cluster sizes. Selection uses STRICT less-than against the neighbor
minimum: two adjacent vertices can never both win a round (a coin
collision merely defers both to the next round, where the coins
differ), so independence is guaranteed by construction rather than by
collision-freedom. ``portable=True`` draws the coins with md5 digit
terms reproducible in DuckDB, making the whole run oracle-checkable by
unrolling the rounds in SQL (``mis_coin_sql``); production mode draws
one xxhash64 per live vertex per round.

Distributed shape (the 100 TB design): the symmetrized edge relation is
built once and persisted hash-partitioned by ``src``; each round joins
the LIVE coin frame against it on both endpoints and min-combines per
source — two frontier-sized exchanges per round, shrinking geometrically
as Luby removes a constant expected fraction of live edges each round.
No driver-side state beyond the loop counters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointManager
from ..partitioning import symmetrize
from ..phash import md5_digits_spark_sql as _md5_digits_spark_sql
from ..phash import md5_int_sql as _md5_int_sql
from ..superstep import LoopResult, iterate, loop_scope

# status codes carried in the vertex state
LIVE, IN_MIS, REMOVED = 0, 1, 2


def _mis_arg(id_sql: str, k: int, seed: int) -> str:
    return f"concat_ws(':', 'mis', CAST({id_sql} AS STRING), '{k}', '{seed}')"


def mis_coin_sql(id_sql: str, k: int, seed: int) -> str:
    """Engine-neutral SQL (valid in Spark SQL AND DuckDB) for vertex
    ``id``'s non-negative priority at round ``k`` — the oracle-side
    spelling (md5 digit terms); the engine's portable mode computes the
    identical value via the faster conv() spelling."""
    return _md5_int_sql(_mis_arg(id_sql, k, seed))


def _spark_coin(id_sql: str, k: int, seed: int, portable: bool) -> str:
    arg = _mis_arg(id_sql, k, seed)
    if portable:
        return _md5_digits_spark_sql(f"md5({arg})", 6)
    return f"pmod(xxhash64({arg}), {2 ** 62})"


def maximal_independent_set(
    edges: DataFrame,
    seed: int = 42,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    max_supersteps: int = 60,
    ckpt: CheckpointManager | None = None,
    resume: bool = True,
    portable: bool = False,
) -> tuple[DataFrame, LoopResult]:
    """Returns (DF(id BIGINT, in_mis INT), LoopResult) — a maximal
    independent set of the UNDIRECTED graph (edges are symmetrized;
    self-loops must already be absent, as a self-looped vertex can
    never enter an independent set).

    Deterministic in (graph, seed); both coin modes yield a valid MIS
    but generally DIFFERENT sets. Isolated vertices always enter.
    """
    with loop_scope(edges, num_partitions) as scope:
        p = scope.p
        sym = scope.cache(symmetrize(edges).repartition(p, "src"))

        init = scope.vertices(vertices).withColumn("status", F.lit(LIVE).cast("int"))

        def superstep(state: DataFrame, k: int) -> DataFrame:
            live = state.filter(F.col("status") == LIVE).select("id")
            coins = live.select(
                "id", F.expr(_spark_coin("id", k, seed, portable)).alias("ck")
            )
            # per live vertex: the minimum priority among LIVE neighbors
            # (edges with a dead endpoint drop out of both joins)
            mn = (
                sym.alias("s")
                .join(coins.alias("c1"), F.col("s.src") == F.col("c1.id"))
                .join(coins.alias("c2"), F.col("s.dst") == F.col("c2.id"))
                .groupBy(F.col("s.src").alias("id"))
                .agg(F.min(F.col("c2.ck")).alias("mn"), F.count(F.lit(1)).alias("_m"))
            )
            verdict = coins.join(mn, "id", "left_outer").select(
                "id",
                (F.col("mn").isNull() | (F.col("ck") < F.col("mn"))).alias("won"),
                F.coalesce(F.col("_m"), F.lit(0)).alias("_msgs"),
            )
            # neighbors of this round's winners leave the live set
            rem = (
                sym.alias("s")
                .join(
                    verdict.filter(F.col("won")).alias("w"),
                    F.col("s.src") == F.col("w.id"),
                )
                .select(F.col("s.dst").alias("id"))
                .distinct()
                .withColumn("_rm", F.lit(True))
            )
            return (
                state.join(verdict.select("id", "won", "_msgs"), "id", "left_outer")
                .join(rem, "id", "left_outer")
                .select(
                    "id",
                    F.when(F.col("won"), F.lit(IN_MIS))
                    .when(
                        (F.col("status") == LIVE) & F.col("_rm").isNotNull(),
                        F.lit(REMOVED),
                    )
                    .otherwise(F.col("status"))
                    .cast("int")
                    .alias("status"),
                    F.coalesce(F.col("_msgs"), F.lit(0)).alias("_msgs"),
                    (
                        F.coalesce(F.col("won"), F.lit(False))
                        | ((F.col("status") == LIVE) & F.col("_rm").isNotNull())
                    ).alias("_changed"),
                )
                # _delta carries the still-live count for the stop check
                .withColumn(
                    "_delta", (F.col("status") == LIVE).cast("double")
                )
            )

        result = iterate(
            init.withColumn("_changed", F.lit(False)).withColumn("_delta", F.lit(1.0)),
            superstep,
            converged=lambda s: (s.delta or 0.0) == 0.0,
            max_supersteps=max_supersteps,
            ckpt=ckpt,
            resume=resume,
            num_partitions=p,
        )
    out = result.state.select(
        "id", (F.col("status") == IN_MIS).cast("int").alias("in_mis")
    )
    return out, result
