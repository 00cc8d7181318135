"""Approximate neighborhood function / effective diameter (HyperANF).

N(h) = how many (source, target) pairs lie within distance h — THE
web-graph distance analytic (Palmer et al.'s ANF, Boldi-Vigna's
HyperANF): from it fall out average distance, effective diameter
(smallest h with N(h) >= 0.9 * N(inf)), and reachable-pair counts,
none of which are computable exactly at web scale (all-pairs BFS).

Sketch: each vertex keeps ``num_maps`` Flajolet-Martin bitmaps; bitmap
i holds bit ``rho(hash_i(u))`` (= trailing zeros of the hash, the FM
geometric rank) for every u in its distance-h ball. The superstep is
pure bit-OR algebra — union of neighbor sketches — which makes the
whole loop JVM-side ``bit_or`` aggregates over K long columns: no
Python, no UDFs, message combining is Spark's partial+final hash
aggregate exactly like PageRank's sum.

Estimator (per vertex): R = mean over maps of (index of lowest UNSET
bit); |ball| ~= 2^R / 0.77351  (Flajolet-Martin's phi). N(h) = sum
over vertices. With K maps the standard error is ~0.78/sqrt(K).

Determinism/oracle: hashes are md5-derived in portable mode (bit-equal
in DuckDB, so the unrolled oracle reproduces every bitmap, rank sum,
and estimate exactly) or xxhash64 in fast mode; the rank arithmetic
(trailing zeros/ones via ``bit_count((h & -h) - 1)``) uses only
operators both engines implement identically on BIGINT.

100 TB shape: state is K*8 bytes per vertex (K=16 -> 128 B — 4 GB per
32 G vertices, far below the adjacency itself), one scatter + one
bit_or combine exchange per superstep, and max_h supersteps total
(effective diameters of web/repo graphs are ~6-20). Early stop: when
no sketch changes the fixpoint is reached and remaining depths repeat
the converged row without running jobs.

Both loops here (:func:`neighborhood_function` and the HyperBall
accumulator loop behind harmonic/closeness) run on
:func:`~linkgraph.superstep.iterate` and share one sketch-union
superstep (:func:`_sketch_union`): one depth is one superstep, i.e. ONE
SQL execution, with the per-depth sums riding it as global aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..partitioning import build_adjacency, symmetrize
from ..phash import md5_digits_spark_sql
from ..superstep import LoopResult, iterate, loop_scope

FM_PHI = 0.77351


def _tz_sql(h: str) -> str:
    """Trailing zeros of BIGINT ``h`` — portable Spark/DuckDB spelling:
    (h & -h) isolates the lowest set bit; minus 1 gives a mask of the
    zeros below it. h = 0 gives bit_count(-1) = 64 (caller LEASTs)."""
    return f"bit_count((({h}) & -({h})) - 1)"


def _rank_sql(s: str) -> str:
    """Index of the lowest UNSET bit of BIGINT ``s`` (the FM rank R):
    the lowest SET bit of ~s, via bit_count(((~s) & (s+1)) - 1)
    (two's complement gives -(~s) = s+1, so this is the same
    isolate-lowest-bit trick as _tz_sql). s = -1 falls out as 64 with
    no special case; only s = int64 max (whose +1 would overflow under
    ANSI) needs a guard. Portable: ~, &, +, bit_count behave
    identically on BIGINT in Spark and DuckDB — NOT ``^``, which is
    XOR in Spark but POWER in DuckDB."""
    # CAST: DuckDB's bit_count returns TINYINT, so an un-cast K-way
    # rank sum overflows INT8; Spark returns INT and the cast is free
    return (
        f"CASE WHEN ({s}) = 9223372036854775807 THEN CAST(63 AS BIGINT)"
        f" ELSE CAST(bit_count(((~({s})) & (({s}) + 1)) - 1) AS BIGINT) END"
    )


def anf_init_bit_sql(i: int, seed: int, portable: bool) -> str:
    """SQL for vertex ``id``'s initial bitmap i: 1 << min(rho, 62).

    Portable mode hashes with 15 md5 hex digits (60 bits, BIGINT-exact
    in both engines; md5 computed ONCE, digits via native conv());
    fast mode with one xxhash64."""
    if portable:
        h = md5_digits_spark_sql(f"md5(concat('anf:{seed}:{i}:', CAST(id AS STRING)))", 15)
    else:
        h = f"xxhash64(id, {i}, {seed})"
    return f"shiftleft(CAST(1 AS BIGINT), LEAST({_tz_sql(h)}, 62))"


def _sketch_union(adj: DataFrame, state: DataFrame, num_maps: int, *keep: str) -> DataFrame:
    """One sketch-union superstep: scatter every vertex's bitmaps along
    its out-edges, ``bit_or``-combine them per target, and OR the result
    into the target's own bitmaps. Returns (id, s0..s{K-1}, *keep,
    _changed), where ``_changed`` flags a vertex whose sketch grew."""
    s_cols = [f"s{i}" for i in range(num_maps)]
    msgs = (
        adj.join(state, F.expr("src = id"))
        .selectExpr("explode(dsts) AS id", *s_cols)
        .groupBy("id")
        .agg(*[F.expr(f"bit_or({c}) AS m{i}") for i, c in enumerate(s_cols)])
    )
    merged = [f"(s{i} | COALESCE(m{i}, CAST(0 AS BIGINT)))" for i in range(num_maps)]
    return state.join(msgs, "id", "left_outer").selectExpr(
        "id",
        *[f"{m} AS {c}" for m, c in zip(merged, s_cols)],
        *keep,
        "(" + " OR ".join(f"{m} <> {c}" for m, c in zip(merged, s_cols)) + ") AS _changed",
    )


def neighborhood_function(
    edges: DataFrame,
    num_maps: int = 16,
    max_h: int = 8,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    symmetrize_edges: bool = True,
    portable: bool = False,
    seed: int = 42,
    early_stop: bool = True,
) -> tuple[DataFrame, LoopResult]:
    """Returns (DF(h, sum_rank, n_reachable_est), LoopResult).

    One output row per depth h = 1..max_h: ``sum_rank`` is the exact
    integer sum over vertices and maps of the FM rank (the oracle
    anchor — bit-exact across engines), ``n_reachable_est`` the FM
    estimate of the number of pairs within distance h (portable mode
    sums per-vertex micro-units exactly, so both engines agree despite
    float addition order; fast mode sums doubles).

    Each depth is one :func:`~linkgraph.superstep.iterate` superstep;
    both per-depth sums ride its materialization as global aggregates.
    ``LoopResult.state`` holds the final per-vertex sketches
    (id, s0..s{K-1}); ``history[j].extras`` carries each depth's
    (sum_rank, est).
    """
    K = num_maps
    scale = 2 if symmetrize_edges else 1
    e = symmetrize(edges) if symmetrize_edges else edges.select("src", "dst")
    with loop_scope(edges, num_partitions, scale) as scope:
        p = scope.p
        adj = scope.cache(build_adjacency(e, num_partitions=p))
        init = scope.vertices(vertices).selectExpr(
            "id",
            *[f"{anf_init_bit_sql(i, seed, portable)} AS s{i}" for i in range(K)],
        )

        rank_sum = " + ".join(f"({_rank_sql(f's{i}')})" for i in range(K))
        est_raw = (
            f"POW(CAST(2 AS DOUBLE), ({rank_sum}) / CAST({K} AS DOUBLE))"
            f" / {FM_PHI!r}D"
        )
        if portable:
            # order-independent exact estimate: per-vertex micro-units
            # (multiples of 1e-6) summed as BIGINT — a plain double SUM
            # is order-nondeterministic and can straddle the rounding
            # boundary differently per engine (observed 1e-4 flips even
            # between two DuckDB evaluations of the same rows). Bound:
            # exact while the total estimate < ~9.2e12 pairs — gate
            # scale; production uses the double path below.
            est_sql = f"SUM(CAST(ROUND({est_raw} * 1000000.0, 0) AS BIGINT))"
        else:
            est_sql = f"ROUND(SUM({est_raw}), 4) * 1000000.0"

        res = iterate(
            init,
            lambda state, h: _sketch_union(adj, state, K),
            converged=lambda s: early_stop and s.changed == 0,
            max_supersteps=max_h,
            num_partitions=p,
            global_aggs={"sum_rank": F.expr(f"SUM({rank_sum})"), "est": F.expr(est_sql)},
        )

    rows_out = []
    for stats in res.history:
        est = round(float(stats.extras["est"]) / 1_000_000.0, 6)
        stats.extras = {"sum_rank": int(stats.extras["sum_rank"]), "est": est}
        rows_out.append((stats.superstep, stats.extras["sum_rank"], est))
    # after an early stop the fixpoint repeats: remaining depths are the same row
    for h in range(len(rows_out) + 1, max_h + 1):
        rows_out.append((h, *rows_out[-1][1:]))
    out = edges.sparkSession.createDataFrame(
        rows_out, "h BIGINT, sum_rank BIGINT, n_reachable_est DOUBLE"
    )
    converged = not res.history or res.history[-1].changed == 0
    return out, LoopResult(res.state, res.supersteps, res.history, converged)


def effective_diameter(
    nh: DataFrame,
    quantile: float = 0.9,
) -> float:
    """Effective diameter from a :func:`neighborhood_function` output:
    the (interpolated) smallest depth h where N(h) reaches ``quantile``
    of N(max_h) — Boldi-Vigna's standard 90% definition.

    Driver-side: the input is max_h rows (one per depth), so this is
    O(max_h) arithmetic on an already-aggregated frame, not a job.
    """
    rows = sorted(
        (int(r["h"]), float(r["n_reachable_est"])) for r in nh.collect()
    )
    if not rows:
        return 0.0
    target = quantile * rows[-1][1]
    prev_h, prev_n = 0, 0.0
    for h, n in rows:
        if n >= target:
            if n == prev_n:
                return float(prev_h)
            # linear interpolation between the straddling depths
            return prev_h + (target - prev_n) / (n - prev_n) * (h - prev_h)
        prev_h, prev_n = h, n
    return float(rows[-1][0])


def effective_diameter_df(nh: DataFrame, quantile: float = 0.9) -> DataFrame:
    """Engine-side one-row variant of :func:`effective_diameter`, so
    the selection itself is oracle-checkable (no driver arithmetic):
    the smallest depth h with N(h) >= quantile * N(max_h), linearly
    interpolated between the straddling depths, anchored at N(0) = 0
    exactly like the float helper. Input is the max_h-row
    :func:`neighborhood_function` output — the window runs over one
    tiny partition, not data-sized state.

    Returns DF(quantile, target_est, effective_diameter), all DOUBLE
    rounded to 6dp. The expression tree (one multiply for the target,
    one interpolation division) is spelled identically in the DuckDB
    oracle, so portable-mode inputs give bit-identical output.
    """
    from pyspark.sql import Window

    w = Window.orderBy("h")
    lagd = nh.select(
        "h",
        F.col("n_reachable_est").alias("n"),
        F.lag("h", 1, 0).over(w).alias("ph"),
        F.lag("n_reachable_est", 1, 0.0).over(w).alias("pn"),
    )
    tgt = nh.agg(
        (F.lit(float(quantile)) * F.max_by("n_reachable_est", "h")).alias("tgt")
    )
    sel = (
        lagd.crossJoin(tgt)
        .filter(F.col("n") >= F.col("tgt"))
        .orderBy("h")
        .limit(1)
    )
    return sel.select(
        F.lit(float(quantile)).alias("quantile"),
        F.round("tgt", 6).alias("target_est"),
        F.round(
            F.when(F.col("n") == F.col("pn"), F.col("ph").cast("double")).otherwise(
                F.col("ph").cast("double")
                + (F.col("tgt") - F.col("pn"))
                / (F.col("n") - F.col("pn"))
                * (F.col("h") - F.col("ph")).cast("double")
            ),
            6,
        ).alias("effective_diameter"),
    )


def _ball_delta_loop(
    edges: DataFrame,
    num_maps: int,
    max_h: int,
    vertices: DataFrame | None,
    num_partitions: int | None,
    symmetrize_edges: bool,
    portable: bool,
    seed: int,
    acc_weights: dict[str, list[int]],
) -> tuple[DataFrame, LoopResult]:
    """Shared HyperBall loop (Boldi-Vigna): FM sketch unions with
    integer-exact per-depth ball-delta accumulators.

    ``acc_weights`` maps an accumulator column name to its per-depth
    integer weights ``[w_1 .. w_max_h]``; after depth h the column has
    added ``(eu_h - eu_{h-1}) * w_h`` where ``eu`` is the per-vertex
    FM ball-size estimate in micro-units (BIGINT). Every addend is an
    exact integer, so the early-stopped fixpoint (no sketch changed ->
    all remaining deltas zero) equals the full max_h unroll bit for
    bit — which is what lets one unrolled SQL oracle check any
    centrality built on this loop.

    Returns (state DF(id, <acc cols BIGINT>, eu), LoopResult). Cost:
    K longs of sketch state per vertex, one scatter + one bit_or
    combine exchange per depth, max_h depths — the web-scale
    alternative to all-pairs BFS.
    """
    K = num_maps
    scale = 2 if symmetrize_edges else 1
    accs = list(acc_weights)
    e = symmetrize(edges) if symmetrize_edges else edges.select("src", "dst")
    with loop_scope(edges, num_partitions, scale) as scope:
        p = scope.p
        adj = scope.cache(build_adjacency(e, num_partitions=p))

        s_cols = [f"s{i}" for i in range(K)]
        rank_sum = " + ".join(f"({_rank_sql(c)})" for c in s_cols)
        est_units = (
            f"CAST(ROUND((POW(CAST(2 AS DOUBLE), ({rank_sum})"
            f" / CAST({K} AS DOUBLE)) / {FM_PHI!r}) * 1000000.0, 0) AS BIGINT)"
        )

        init = scope.vertices(vertices).selectExpr(
            "id",
            *[f"{anf_init_bit_sql(i, seed, portable)} AS s{i}" for i in range(K)],
        ).selectExpr(
            "id",
            *s_cols,
            f"{est_units} AS eu",
            *[f"CAST(0 AS BIGINT) AS {a}" for a in accs],
        )

        def superstep(state: DataFrame, h: int) -> DataFrame:
            return (
                _sketch_union(adj, state, K, "eu", *accs)
                .selectExpr("id", *s_cols, f"{est_units} AS _eu_new", "eu", *accs, "_changed")
                .selectExpr(
                    "id",
                    *s_cols,
                    "_eu_new AS eu",
                    *[
                        f"{a} + (_eu_new - eu)"
                        f" * CAST({acc_weights[a][h - 1]} AS BIGINT) AS {a}"
                        for a in accs
                    ],
                    "_changed",
                )
            )

        # exact early stop: convergence is tracked on the raw SKETCHES
        # (not the rounded estimate) — once no bitmap changes, every
        # future delta is zero and the truncated accumulation equals the
        # full max_h unroll
        res = iterate(
            init,
            superstep,
            converged=lambda s: s.changed == 0,
            max_supersteps=max_h,
            num_partitions=p,
        )

    return res.state, LoopResult(res.state, res.supersteps, res.history, True)


def harmonic_centrality(
    edges: DataFrame,
    num_maps: int = 16,
    max_h: int = 8,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    symmetrize_edges: bool = True,
    portable: bool = False,
    seed: int = 42,
) -> tuple[DataFrame, LoopResult]:
    """HyperBall-style harmonic centrality (Boldi-Vigna, "In-Core
    Computation of Geometric Centralities with HyperBall"):

        H(v) = sum over u != v of 1 / d(v, u)
             ~= sum over h of (|B_h(v)| - |B_{h-1}(v)|) / h

    estimated from the per-depth ball-size DELTAS of the shared
    :func:`_ball_delta_loop` FM sketch union. The 1/h weights are
    scaled by LCM(1..max_h) so every addend is an exact integer:
    ``harmonic_units`` = sum of (delta_units * LCM/h);
    ``harmonic_est`` = harmonic_units / (LCM * 1e6) — one
    correctly-rounded IEEE division, bit-identical across engines.

    Returns (DF(id, harmonic_units BIGINT, harmonic_est DOUBLE),
    LoopResult). Directed mode (``symmetrize_edges=False``): sketches
    union along OUT-edges, so B_h(v) collects vertices u with
    d(u, v) <= h and H estimates in-harmonic centrality (1/d(u, v)
    summed over sources u) — the transpose convention of HyperBall.
    """
    import math

    lcm = math.lcm(*range(1, max_h + 1))
    state, res = _ball_delta_loop(
        edges,
        num_maps,
        max_h,
        vertices,
        num_partitions,
        symmetrize_edges,
        portable,
        seed,
        acc_weights={"hc": [lcm // h for h in range(1, max_h + 1)]},
    )
    out = state.selectExpr(
        "id",
        "hc AS harmonic_units",
        f"CAST(hc AS DOUBLE) / ({lcm}.0 * 1000000.0) AS harmonic_est",
    )
    return out, res


def closeness_centrality(
    edges: DataFrame,
    num_maps: int = 16,
    max_h: int = 8,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    symmetrize_edges: bool = True,
    portable: bool = False,
    seed: int = 42,
) -> tuple[DataFrame, LoopResult]:
    """HyperBall-style closeness centrality: for each vertex,

        dist_sum(v)  = sum over reachable u != v of d(v, u)
                     ~= sum over h of h * (|B_h(v)| - |B_{h-1}(v)|)
        reachable(v) = |B_max_h(v)| - |B_0(v)|   (others in the ball)
        closeness    = reachable / dist_sum      (1 / average distance)

    — the within-component ("Lin-style") convention, which stays
    finite on disconnected web graphs where classic (n-1)/dist_sum
    does not. Same cost as :func:`harmonic_centrality`: the two
    integer accumulators (h-weighted and 1-weighted ball deltas) ride
    one FM sketch loop, so centrality of every vertex costs max_h
    bit_or exchanges total.

    All columns are integer micro-units except ``closeness_est``,
    which is one IEEE division of two BIGINTs (bit-identical across
    engines; 0.0 for isolated vertices). Returns (DF(id,
    dist_sum_units BIGINT, reachable_units BIGINT, closeness_est
    DOUBLE), LoopResult).
    """
    state, res = _ball_delta_loop(
        edges,
        num_maps,
        max_h,
        vertices,
        num_partitions,
        symmetrize_edges,
        portable,
        seed,
        acc_weights={
            "ds": list(range(1, max_h + 1)),
            "du": [1] * max_h,
        },
    )
    out = state.selectExpr(
        "id",
        "ds AS dist_sum_units",
        "du AS reachable_units",
        "CASE WHEN ds > 0 THEN CAST(du AS DOUBLE) / CAST(ds AS DOUBLE)"
        " ELSE CAST(0.0 AS DOUBLE) END AS closeness_est",
    )
    return out, res
