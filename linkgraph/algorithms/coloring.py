"""Greedy distributed graph coloring (Jones-Plassmann with per-round
coins) over the undirected link graph.

Graph coloring assigns every vertex a color distinct from all its
neighbors — the classic scheduling/partitioning primitive (register
allocation, parallel update scheduling, conflict-free batching of
vertex updates). Jones & Plassmann (1993) parallelize the greedy
algorithm: each round, every uncolored vertex whose random priority
beats all uncolored neighbors' colors itself with the SMALLEST color
unused by its already-colored neighbors (the mex). Per-round
independent winner sets make simultaneous choices conflict-free, so
the result is a valid coloring with at most deg(v)+1 colors per
vertex.

This implementation redraws the priority coin EVERY round (the Luby
variant, exactly algorithms/mis.py's convention) rather than fixing a
static priority: with strict less-than selection, a coin collision
between neighbors merely defers both to the next round where their
coins differ — no tie-break machinery, no deadlock, expected
O(log n) rounds.

Determinism: coins are counter-based hashes of ``(id, round, seed)``
(phash.py convention), so the coloring is a pure function of
(graph, seed) — identical across runs, partitionings, and cluster
sizes. ``portable=True`` draws md5-digit coins reproducible in DuckDB
so the whole run is oracle-checkable by unrolling rounds in SQL
(``coloring_coin_sql``); production mode draws one xxhash64 per live
vertex per round.

The mex (minimum excluded color) is computed JVM-side:
``aggregate(array_sort(used), 0, (acc, c) -> if(c = acc, acc+1, acc))``
over the distinct colored-neighbor colors — exact, no UDF.

Distributed shape (the 100 TB design): the symmetrized edge relation
is built once and persisted hash-partitioned by ``src``; each round
joins the LIVE frame against it twice (winner test on live-neighbor
coins, mex on colored-neighbor colors) — frontier-sized exchanges that
shrink geometrically as vertices leave the live set. No driver-side
state beyond loop counters.

Reference parity: the reference ships no coloring, but this is the
compute()/voteToHalt + per-round aggregator shape of its vertex
programs (SURVEY.md §3.10), rounding out the symmetry-breaking tier
next to maximal_independent_set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointManager
from ..partitioning import symmetrize
from ..phash import md5_digits_spark_sql as _md5_digits_spark_sql
from ..phash import md5_int_sql as _md5_int_sql
from ..superstep import LoopResult, iterate, loop_scope

UNCOLORED = -1


def _coloring_arg(id_sql: str, k: int, seed: int) -> str:
    return f"concat_ws(':', 'color', CAST({id_sql} AS STRING), '{k}', '{seed}')"


def coloring_coin_sql(id_sql: str, k: int, seed: int) -> str:
    """Engine-neutral SQL (valid in Spark SQL AND DuckDB) for vertex
    ``id``'s non-negative priority at round ``k`` — the oracle-side
    md5-digit spelling; the engine's portable mode computes the
    identical value via the faster conv() spelling."""
    return _md5_int_sql(_coloring_arg(id_sql, k, seed))


def _with_coin(state: DataFrame, k: int, seed: int, portable: bool) -> DataFrame:
    """state + ``ck`` column: the round-``k`` coin for UNCOLORED rows,
    NULL for colored ones. Portable mode materializes the md5 hex once
    per row in its own projection (phash.py hoist rule: the 6 digit
    terms must not each re-evaluate the md5), then extracts digits;
    production mode draws one xxhash64."""
    arg = _coloring_arg("id", k, seed)
    live = F.col("color") == UNCOLORED
    if portable:
        return (
            state.withColumn("_mh", F.when(live, F.expr(f"md5({arg})")))
            .withColumn("ck", F.expr(_md5_digits_spark_sql("_mh", 6)))
            .drop("_mh")
        )
    return state.withColumn(
        "ck", F.when(live, F.expr(f"pmod(xxhash64({arg}), {2 ** 62})"))
    )


_MEX = (
    "aggregate(array_sort(used), 0,"
    " (acc, c) -> CASE WHEN c = acc THEN acc + 1 ELSE acc END)"
)


def greedy_coloring(
    edges: DataFrame,
    seed: int = 42,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    max_supersteps: int = 60,
    ckpt: CheckpointManager | None = None,
    resume: bool = True,
    portable: bool = False,
) -> tuple[DataFrame, LoopResult]:
    """Returns (DF(id BIGINT, color INT), LoopResult) — a proper
    coloring of the UNDIRECTED graph (edges are symmetrized;
    self-loops must already be absent — a self-looped vertex cannot be
    properly colored). color >= 0; adjacent vertices always differ;
    every vertex uses at most deg(v)+1 colors' worth of palette.

    Deterministic in (graph, seed); both coin modes yield a valid
    coloring but generally DIFFERENT ones. Isolated vertices color 0.
    """
    with loop_scope(edges, num_partitions) as scope:
        p = scope.p
        sym = scope.cache(symmetrize(edges).repartition(p, "src"))

        init = scope.vertices(vertices).withColumn("color", F.lit(UNCOLORED).cast("int"))

        def superstep(state: DataFrame, k: int) -> DataFrame:
            # ONE gather join + ONE combine per superstep (the engine's
            # audited PageRank/CC shape): every neighbor contributes EITHER its
            # coin (still uncolored) or its color (already colored), and a
            # single groupBy folds both into (min live coin, used colors).
            # Coins are drawn only for uncolored rows; the md5 is
            # materialized once per row (phash hoist rule), digits follow.
            snd = _with_coin(state, k, seed, portable)
            msgs = (
                sym.alias("s")
                .join(snd.alias("t"), F.col("s.dst") == F.col("t.id"))
                .groupBy(F.col("s.src").alias("id"))
                .agg(
                    F.min(F.col("t.ck")).alias("mn"),
                    F.collect_set(
                        F.when(F.col("t.color") != UNCOLORED, F.col("t.color"))
                    ).alias("used"),
                    F.count(F.lit(1)).alias("_m"),
                )
            )
            win = (F.col("color") == UNCOLORED) & (
                F.col("mn").isNull() | (F.col("ck") < F.col("mn"))
            )
            return (
                snd.join(msgs, "id", "left_outer")
                .withColumn("used", F.coalesce(F.col("used"), F.expr("array()")))
                .select(
                    "id",
                    F.when(win, F.expr(_MEX).cast("int"))
                    .otherwise(F.col("color"))
                    .alias("color"),
                    F.when(
                        F.col("color") == UNCOLORED, F.coalesce(F.col("_m"), F.lit(0))
                    )
                    .otherwise(F.lit(0))
                    .alias("_msgs"),
                    win.alias("_changed"),
                )
                # _delta carries the still-uncolored count for the stop check
                .withColumn("_delta", (F.col("color") == UNCOLORED).cast("double"))
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
    out = result.state.select("id", F.col("color").cast("int").alias("color"))
    return out, result
