"""Time-respecting (temporal) reachability — earliest-arrival search.

A temporal edge (u, v, t) can be traversed only at its timestamp t, and
a time-respecting path must use non-decreasing timestamps: the edge is
usable iff t >= the arrival time at u. Earliest-arrival reachability —
"what could this commit/account/page have influenced, respecting event
order?" — is the standard temporal-graph primitive that static
reachability (algorithms/reachability.py) gets WRONG whenever a path
exists structurally but its edges occur out of order.

The reference engine is batch-static (SURVEY.md §3.8: Pregelix has no
temporal notion), but its compute() could express this; ours runs the
same delta-plan fixpoint as SSSP (ShortestPathsVertex.java:125-145's
min-relaxation shape, re-expressed per SURVEY.md §4.5) with one twist:
the scatter carries a PER-EDGE GUARD (t >= arrival(src)) instead of an
additive weight, and the candidate arrival is the edge's own timestamp.
Arrival times only ever decrease and are drawn from the finite set of
edge timestamps, so the relaxation is a monotone fixpoint; integer
timestamps make every superstep exact in both engines (the driver
oracle unrolls the identical min-relaxation passes).

100 TB shape: identical to SSSP's audited plan — the temporal edge
relation is persisted src-partitioned once; per superstep ONE scatter
join from the changed frontier (the guard filters edges map-side,
before the exchange) and ONE min-combine groupBy; work is proportional
to the frontier's out-edges, not the graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointManager
from ..superstep import LoopResult, iterate, loop_scope

_INF = (1 << 62) - 1  # integer +inf sentinel; timestamps must be < this
_NEG_INF = -(1 << 62)  # integer -inf sentinel; timestamps must be > this


def _check_time_range(te: DataFrame) -> None:
    """Timestamps may be any BIGINT (negative epochs are legal) but must
    stay strictly inside the sentinel range so min/max relaxation against
    the sentinels cannot collide with a real value."""
    row = te.agg(F.min("t").alias("lo"), F.max("t").alias("hi")).first()
    if row["lo"] is not None and (row["lo"] <= _NEG_INF or row["hi"] >= _INF):
        raise ValueError(
            f"temporal timestamps must lie in ({_NEG_INF}, {_INF}); "
            f"got [{row['lo']}, {row['hi']}]"
        )


def temporal_earliest_arrival(
    tedges: DataFrame,
    source: int,
    start_time: int = 0,
    time_col: str = "t",
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    max_supersteps: int = 200,
    ckpt: CheckpointManager | None = None,
    resume: bool = True,
) -> tuple[DataFrame, LoopResult]:
    """Earliest time-respecting arrival from ``source``.

    ``tedges``: DF(src, dst, <time_col> BIGINT) — one row per temporal
    edge occurrence (the same (src, dst) pair may recur at different
    times; keep every occurrence, they are distinct opportunities).

    Rule: arrival(source) = ``start_time``; edge (u, v, t) relaxes
    arrival(v) to min(arrival(v), t) iff t >= arrival(u). Returns
    (DF(id, arrival BIGINT), LoopResult); arrival NULL if no
    time-respecting path exists. The source reports ``start_time``.
    """
    with loop_scope(tedges, num_partitions) as scope:
        p = scope.p
        verts = scope.vertices(vertices)
        te = scope.cache(
            tedges.select("src", "dst", F.col(time_col).cast("long").alias("t"))
            .repartition(p, "src")
        )
        _check_time_range(te)

        init = verts.select(
            "id",
            F.when(F.col("id") == source, F.lit(start_time))
            .otherwise(F.lit(_INF))
            .cast("long")
            .alias("arr"),
        ).withColumn("changed", F.col("id") == source)

        def superstep(state: DataFrame, k: int) -> DataFrame:
            cur = state.select("id", "arr", "changed")
            senders = cur.filter(F.col("changed"))
            msgs = (
                te.join(senders, te["src"] == senders["id"])
                # the time-respecting guard, applied before the exchange
                .filter(F.col("t") >= F.col("arr"))
                .select(F.col("dst").alias("id"), F.col("t").alias("cand"))
                .groupBy("id")
                .agg(F.min("cand").alias("cand"))
            )
            return (
                cur.drop("changed")
                .join(msgs, "id", "left_outer")
                .select(
                    "id",
                    F.least(F.col("arr"), F.coalesce(F.col("cand"), F.col("arr"))).alias("narr"),
                    F.col("arr").alias("_olda"),
                    F.col("cand").isNotNull().cast("long").alias("_msgs"),
                )
                .select(
                    "id",
                    F.col("narr").alias("arr"),
                    (F.col("narr") < F.col("_olda")).alias("changed"),
                    "_msgs",
                )
                .withColumn("_changed", F.col("changed"))
            )

        result = iterate(
            init,
            superstep,
            converged=lambda s: s.changed == 0,
            max_supersteps=max_supersteps,
            ckpt=ckpt,
            resume=resume,
            num_partitions=p,
        )
    out = result.state.select(
        "id",
        F.when(F.col("arr") == _INF, F.lit(None)).otherwise(F.col("arr")).alias("arrival"),
    )
    return out, result


def temporal_latest_departure(
    tedges: DataFrame,
    target: int,
    deadline: int | None = None,
    time_col: str = "t",
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    max_supersteps: int = 200,
    ckpt: CheckpointManager | None = None,
    resume: bool = True,
) -> tuple[DataFrame, LoopResult]:
    """Latest departure time reaching ``target`` — the reverse twin of
    :func:`temporal_earliest_arrival`: dep(v) = the latest t at which v
    can leave and still reach ``target`` over non-decreasing
    timestamps ("how late could this source have acted and still
    influenced the target?").

    Rule: dep(target) = ``deadline`` (unbounded when None); edge
    (u, v, t) relaxes dep(u) to max(dep(u), t) iff t <= dep(v).
    Departure times only ever INCREASE toward the fixpoint (the max
    lattice mirrors earliest arrival's min), scattered along REVERSE
    edges from the changed frontier — same one-exchange delta plan.

    Returns (DF(id, departure BIGINT), LoopResult); departure NULL if
    no time-respecting path exists, and NULL for ``target`` itself
    when ``deadline`` is None (it does not depart).
    """
    cap = _INF if deadline is None else int(deadline)
    with loop_scope(tedges, num_partitions) as scope:
        p = scope.p
        verts = scope.vertices(vertices)
        # reverse orientation: scatter src <- dst, partitioned by dst
        te = scope.cache(
            tedges.select("src", "dst", F.col(time_col).cast("long").alias("t"))
            .filter(F.col("t") <= cap)
            .repartition(p, "dst")
        )
        _check_time_range(te)

        # "cannot reach" sentinel strictly below every representable
        # timestamp (negative epochs are legal BIGINT input; a -1 sentinel
        # would shadow real departures <= -1 — _check_time_range guards the
        # boundary)
        _NONE = _NEG_INF

        init = verts.select(
            "id",
            F.when(F.col("id") == target, F.lit(cap))
            .otherwise(F.lit(_NONE))
            .cast("long")
            .alias("dep"),
        ).withColumn("changed", F.col("id") == target)

        def superstep(state: DataFrame, k: int) -> DataFrame:
            cur = state.select("id", "dep", "changed")
            senders = cur.filter(F.col("changed"))
            msgs = (
                te.join(senders, te["dst"] == senders["id"])
                .filter(F.col("t") <= F.col("dep"))
                .select(F.col("src").alias("id"), F.col("t").alias("cand"))
                .groupBy("id")
                .agg(F.max("cand").alias("cand"))
            )
            return (
                cur.drop("changed")
                .join(msgs, "id", "left_outer")
                .select(
                    "id",
                    F.greatest(F.col("dep"), F.coalesce(F.col("cand"), F.col("dep"))).alias("ndep"),
                    F.col("dep").alias("_oldd"),
                    F.col("cand").isNotNull().cast("long").alias("_msgs"),
                )
                .select(
                    "id",
                    F.col("ndep").alias("dep"),
                    (F.col("ndep") > F.col("_oldd")).alias("changed"),
                    "_msgs",
                )
                .withColumn("_changed", F.col("changed"))
            )

        result = iterate(
            init,
            superstep,
            converged=lambda s: s.changed == 0,
            max_supersteps=max_supersteps,
            ckpt=ckpt,
            resume=resume,
            num_partitions=p,
        )
    out = result.state.select(
        "id",
        F.when(
            (F.col("dep") == _NONE) | (F.col("dep") == _INF), F.lit(None)
        )
        .otherwise(F.col("dep"))
        .alias("departure"),
    )
    return out, result
