"""Deterministic random walks — DeepWalk/node2vec-style corpus
generation over the link graph.

A graph-embedding training pipeline turns the link graph into a text
corpus: ``walks_per_vertex`` fixed-length uniform random walks from
every vertex, each walk a "sentence" of vertex ids. The reference has
no walk generator (its closest analogue is the coin-driven
GraphSampleVertex expansion, SURVEY.md §4.5); this operator extends the
same counter-based-hash determinism to walks, so the corpus is a pure
function of (graph, seed) — reproducible across runs, partitionings,
and cluster sizes, with no RNG state to ship between executors.

Distributed shape (the 100 TB design):

- The adjacency is an **indexed edge relation** ``(src, dst, idx,
  deg)`` — each out-edge ranked by ``dst`` within its source — built
  with one window shuffle and persisted hash-partitioned by ``src``.
  No per-vertex arrays: a 10^5-degree hub is 10^5 ordinary rows, not
  one giant struct, so walk steps never materialize a hub's whole
  neighbor list in a single task.
- Each step is ONE equi-join of the live walker frontier against the
  indexed edges on ``cur = src`` with the residual predicate
  ``idx = coin(walk_id, step) % deg`` — the join emits at most one row
  per walker and the only per-step exchange is the walker frontier
  (size = number of live walks, independent of graph size).
- Walker state is FIXED-WIDTH ``(id, cur, active)`` — the walk itself
  is never shuffled or re-materialized. Each step's state frame is
  retained (serialized localCheckpoint / durable snapshot) and the
  corpus is the union of those frames, so per-step cost is flat in the
  step number instead of growing with the paths carried so far.
- Walkers at a dead end (no out-edges) go inactive and stop emitting
  corpus rows; the loop stops early once every walker is inactive.

Coins come in the two standard modes (the phash.py convention):
``portable=False`` (production default) draws one xxhash64 per
(walk, step); ``portable=True`` draws md5-digit coins whose value is
reproducible in any engine with md5 + integer arithmetic, so the ENTIRE
corpus is oracle-checkable by unrolling the steps in SQL
(``walk_coin_sql`` is the engine-neutral spelling used by the driver's
DuckDB gate). The two modes draw different walks; both are
deterministic in (graph, seed). The modulo bias of ``coin % deg`` is
< deg/2^24 in portable mode (6 md5 digits) and < deg/2^64 in
production mode — negligible against any real out-degree.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..checkpoint import CheckpointManager
from ..graph import vertices_from_edges
from ..metrics import SuperstepMetrics
from ..phash import md5_digits_spark_sql as _md5_digits_spark_sql
from ..phash import md5_int_sql as _md5_int_sql
from ..superstep import (
    LoopResult,
    iteration_conf,
    local_checkpoint_fresh_stats,
    loop_scope,
    release_local_checkpoint,
)


def _walk_arg(walk_id_sql: str, k: int, seed: int) -> str:
    return f"concat_ws(':', 'rw', CAST({walk_id_sql} AS STRING), '{k}', '{seed}')"


def walk_coin_sql(walk_id_sql: str, k: int, seed: int) -> str:
    """Engine-neutral SQL (valid in Spark SQL AND DuckDB) for the
    non-negative integer coin of walk ``walk_id`` at step ``k`` — the
    oracle-side spelling (md5 digit terms); the engine's portable mode
    computes the identical value via the faster conv() spelling. The
    caller takes ``% deg`` to pick the neighbor index."""
    return _md5_int_sql(_walk_arg(walk_id_sql, k, seed))


def _spark_coin(walk_id_sql: str, k: int, seed: int, portable: bool) -> str:
    arg = _walk_arg(walk_id_sql, k, seed)
    if portable:
        return f"{_md5_digits_spark_sql(f'md5({arg})', 6)}"
    # xxhash64 is signed; shift into [0, 2^63) so % deg stays non-negative
    return f"pmod(xxhash64({arg}), {2 ** 62})"


def indexed_edges(
    edges: DataFrame,
    num_partitions: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """edges(src,dst) -> (src, dst, idx, deg): each DISTINCT out-edge
    ranked by ``dst`` within its source (idx in [0, deg)), deg = the
    source's out-degree. One window shuffle; hash-partitioned by src.

    With ``weight_col`` (INTEGER weights >= 1 — integer arithmetic is
    what keeps the pick oracle-exact), ``idx``/``deg`` become the
    cumulative-weight interval instead: ``idx`` = sum of weights of
    lower-ranked edges (the interval start), ``deg`` = the source's
    total weight, and the edge additionally carries ``w``; a uniform
    draw in [0, deg) lands in edge e iff idx_e <= draw < idx_e + w_e,
    i.e. edges are picked proportionally to weight. The unweighted
    relation is the weight==1 special case."""
    w = Window.partitionBy("src").orderBy("dst")
    tot = Window.partitionBy("src")
    e = edges
    if weight_col is None:
        e = e.select("src", "dst").distinct()
        return _maybe_repartition(
            e.select(
                "src",
                "dst",
                (F.row_number().over(w) - 1).cast("long").alias("idx"),
                F.count(F.lit(1)).over(tot).cast("long").alias("deg"),
            ),
            num_partitions,
        )
    e = e.select("src", "dst", F.col(weight_col).cast("long").alias("w")).dropDuplicates(
        ["src", "dst"]
    )
    cum = Window.partitionBy("src").orderBy("dst").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return _maybe_repartition(
        e.select(
            "src",
            "dst",
            "w",
            F.coalesce(F.sum("w").over(cum), F.lit(0)).alias("idx"),
            F.sum("w").over(tot).alias("deg"),
        ),
        num_partitions,
    )


def _release_frames(first: DataFrame, frames: list[tuple[int, DataFrame]]) -> None:
    """Free the corpus frames a walk loop retains, when the loop raises
    (on success they ARE the result and stay held)."""
    for df in [first] + [frame for _, frame in frames]:
        release_local_checkpoint(df)


def _maybe_repartition(df: DataFrame, num_partitions: int | None) -> DataFrame:
    return df.repartition(num_partitions, "src") if num_partitions else df


def random_walks(
    edges: DataFrame,
    walks_per_vertex: int = 1,
    walk_length: int = 8,
    seed: int = 42,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    ckpt: CheckpointManager | None = None,
    resume: bool = True,
    portable: bool = False,
    weight_col: str | None = None,
    frame_storage: StorageLevel | None = None,
) -> tuple[DataFrame, LoopResult]:
    """Returns (DF(walk_id BIGINT, step INT, vertex BIGINT), LoopResult).

    ``walk_id = start_vertex * walks_per_vertex + r`` for
    ``r in [0, walks_per_vertex)``; step 0 is the start vertex; a walk
    ends early at a vertex with no out-edges. ``walk_length`` counts
    steps AFTER step 0, so a complete walk has ``walk_length + 1`` rows
    ("sentence length" in embedding-training terms).

    With ``weight_col`` (INTEGER edge weights >= 1) each step picks an
    out-edge with probability proportional to its weight — the
    cumulative-weight interval lookup of :func:`indexed_edges`; the
    draw stays a single integer coin, so weighted walks remain exactly
    oracle-replayable.

    Loop shape (what makes this scale): walker state is FIXED-WIDTH
    ``(id, cur, active)`` — the growing walk itself is never shuffled.
    Each step's materialized state frame is RETAINED (localCheckpoint,
    or the CheckpointManager's durable snapshots) and the corpus is
    read off those frames at the end: corpus rows for step k are
    exactly the walkers still active after step k. Per-step exchange =
    one frontier-sized fixed-width shuffle; per-step coin = ONE hash
    per WALKER (hoisted before the edge join, not evaluated per
    candidate edge row); the indexed edge relation is persisted sorted
    within its hash partitions so the per-step sort-merge join sorts
    only the frontier side.

    With ``ckpt``, per-step snapshots double as the corpus storage —
    resume rebuilds the corpus from ALL committed snapshots, so the
    manager must retain them (the default ``keep=None`` does; a finite
    ``keep`` raises here).
    """
    if walks_per_vertex < 1 or walk_length < 1:
        raise ValueError("walks_per_vertex and walk_length must be >= 1")
    if ckpt is not None and ckpt.keep:
        raise ValueError(
            "random_walks rebuilds its corpus from every committed "
            "snapshot; use a CheckpointManager with keep=None"
        )
    spark = edges.sparkSession
    if vertices is None:
        vertices = vertices_from_edges(edges)

    W = walks_per_vertex
    draw_sql = "_pick % deg"
    if weight_col is None:
        hit_sql = f"idx = {draw_sql}"
    else:
        # cumulative-weight interval: exactly one edge satisfies it
        hit_sql = f"idx <= {draw_sql} AND {draw_sql} < idx + w"

    history: list[SuperstepMetrics] = []
    frames: list[tuple[int, DataFrame]] = []
    converged = False

    with loop_scope(edges, num_partitions) as scope, iteration_conf(spark, scope.p):
        p = scope.p
        ie = scope.cache(
            indexed_edges(edges, num_partitions=p, weight_col=weight_col)
            .sortWithinPartitions("src")
        )

        init = (
            vertices.select(F.col("id").alias("start"))
            .withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(W - 1))))
            .select(
                (F.col("start") * W + F.col("r")).alias("id"),
                F.col("start").alias("cur"),
                F.lit(True).alias("active"),
            )
            .repartition(p, "id")
        )

        start_k = 1
        if ckpt is not None and resume:
            committed = ckpt.committed_supersteps()
            if committed:
                for k in committed:
                    snap, metrics = ckpt.load(k)
                    frames.append((k, snap))
                    history.append(metrics)
                state = frames[-1][1]
                start_k = committed[-1] + 1
            else:
                state = init.localCheckpoint(eager=True)
        else:
            state = init.localCheckpoint(eager=True)
        # step-0 corpus frame = every walker at its start. On resume the
        # loaded snapshot is a LATER step's frame, so fall back to the
        # (deterministic, lazily recomputed) init plan — using the
        # snapshot here would stamp step-k positions as step 0.
        first = state if start_k == 1 else init

        k = start_k - 1
        try:
            for k in range(start_k, walk_length + 1):
                t0 = time.monotonic()
                # frontier = the previous frame's survivors. Walkers that
                # died at step j carry active=false in frame j and are
                # dropped here — each retained frame holds only the walkers
                # that were live going INTO its step, so the loop never
                # re-reads or re-writes the accumulated dead set (the old
                # state ∪ parked shape cost one extra full-frame disk scan
                # per step at DISK_ONLY ladder sizes).
                live = state.filter("active").selectExpr(
                    "id", "cur", f"{_spark_coin('id', k, seed, portable)} AS _pick"
                )
                stepped = (
                    live.hint("shuffle_hash")
                    .join(ie, live["cur"] == ie["src"], "left")
                    # keep the chosen edge or the dead-end null row — at
                    # most one row per walker either way
                    .where(F.expr(f"idx IS NULL OR ({hit_sql})"))
                    .select(
                        live["id"].alias("id"),
                        F.coalesce(ie["dst"], live["cur"]).alias("cur"),
                        ie["dst"].isNotNull().alias("active"),
                    )
                )
                obs = Observation(f"walk-{k}")
                planned = stepped.observe(
                    obs,
                    F.count(F.lit(1)).alias("rows"),
                    F.sum(F.col("active").cast("long")).alias("changed"),
                )
                # serialized storage: the retained frames are read twice
                # (next step's filter + the final corpus union) but live for
                # the whole loop — deserialized row objects would grow the
                # GC live-set by walkers × steps and degrade later steps
                # (measured: per-step time tripling across 8 steps at 4M
                # walkers); serialized bytes keep the heap flat.
                # frame_storage=DISK_ONLY when walkers × steps outgrows the
                # block-manager memory: retained frames then stream to disk
                # at a steady per-step cost instead of thrashing the LRU
                # (measured 9-52s step swings at 40M x 16 under
                # MEMORY_AND_DISK on a 48g heap; a production corpus never
                # fits executor memory anyway)
                new_state = local_checkpoint_fresh_stats(
                    planned,
                    storage_level=frame_storage or StorageLevel.MEMORY_AND_DISK,
                )
                # the superseded state is a RETAINED corpus frame — do NOT
                # release it; the final union reads it back
                frames.append((k, new_state))
                row = obs.get

                stats = SuperstepMetrics(superstep=k)
                stats.rows = int(row["rows"])
                stats.changed = int(row["changed"] or 0)
                stats.wall_sec = time.monotonic() - t0
                if ckpt is not None and ckpt.should_checkpoint(k):
                    # write-only: the frame stays the corpus frame
                    ckpt.save(k, new_state, stats)
                state = new_state
                history.append(stats)
                if stats.changed == 0:
                    converged = True
                    break
        except BaseException:
            _release_frames(first, frames)
            raise

    corpus = first.select(
        F.col("id").alias("walk_id"),
        F.lit(0).cast("int").alias("step"),
        F.col("cur").alias("vertex"),
    )
    for step_k, frame in frames:
        corpus = corpus.unionByName(
            frame.filter("active").select(
                F.col("id").alias("walk_id"),
                F.lit(step_k).cast("int").alias("step"),
                F.col("cur").alias("vertex"),
            )
        )
    # final per-walker state: a walker dead-ended at step j appears
    # inactive in frame j ONLY (it leaves the frontier), so the lazy
    # union of every frame's dead rows plus the last frame's rows is
    # exactly one row per walker
    final_state = frames[-1][1] if frames else first
    for _, frame in frames[:-1]:
        final_state = final_state.unionByName(frame.filter("NOT active"))
    return corpus, LoopResult(final_state, k, history, converged)


def node2vec_walks(
    edges: DataFrame,
    walks_per_vertex: int = 1,
    walk_length: int = 8,
    seed: int = 42,
    mult_return: int = 1,
    mult_common: int = 1,
    mult_far: int = 1,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    ckpt: CheckpointManager | None = None,
    resume: bool = True,
    portable: bool = False,
    weight_col: str | None = None,
) -> tuple[DataFrame, LoopResult]:
    """Second-order (node2vec-style) biased walks. Same output contract
    as :func:`random_walks`.

    Grover & Leskovec's search bias rescales each candidate edge
    (cur -> x) by where x stands relative to the PREVIOUS vertex:
    1/p when x == prev (return), 1 when x is also prev's neighbor
    (BFS-ish), 1/q otherwise (DFS-ish). To keep the draw integer-exact
    (and therefore oracle-replayable), the three factors are INTEGER
    multipliers ``mult_return`` / ``mult_common`` / ``mult_far`` — any
    rational (1/p, 1, 1/q) is realizable by scaling to a common
    denominator; a multiplier of 0 forbids that move class. The first
    step (no previous vertex) uses the plain weight-proportional rule.

    Per-step shape: candidates = frontier ⋈ indexed edges on
    ``cur = src`` (the same co-partitioned join as random_walks), one
    LEFT join against the edge relation marks x in N(prev) — the
    wedge-membership probe — and a per-walker running-sum window turns
    biased weights into cumulative intervals; the coin lands in exactly
    one. The window partitions by walk_id (frontier-sized, never
    graph-sized); walkers whose candidates all carry multiplier 0, or
    with no out-edges, park with their partial walk.
    """
    if walks_per_vertex < 1 or walk_length < 1:
        raise ValueError("walks_per_vertex and walk_length must be >= 1")
    if min(mult_return, mult_common, mult_far) < 0:
        raise ValueError("bias multipliers must be >= 0")
    if ckpt is not None and ckpt.keep:
        raise ValueError(
            "node2vec_walks rebuilds its corpus from every committed "
            "snapshot; use a CheckpointManager with keep=None"
        )
    spark = edges.sparkSession
    if vertices is None:
        vertices = vertices_from_edges(edges)
    base_w = F.col("e.w") if weight_col is not None else F.lit(1).cast("long")

    history: list[SuperstepMetrics] = []
    frames: list[tuple[int, DataFrame]] = []
    converged = False

    with loop_scope(edges, num_partitions) as scope, iteration_conf(spark, scope.p):
        p = scope.p
        ie = scope.cache(
            indexed_edges(edges, num_partitions=p, weight_col=weight_col)
            .sortWithinPartitions("src")
        )

        W = walks_per_vertex
        init = (
            vertices.select(F.col("id").alias("start"))
            .withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(W - 1))))
            .select(
                (F.col("start") * W + F.col("r")).alias("id"),
                F.lit(None).cast("long").alias("prev"),
                F.col("start").alias("cur"),
                F.lit(True).alias("active"),
            )
            .repartition(p, "id")
        )

        start_k = 1
        if ckpt is not None and resume:
            committed = ckpt.committed_supersteps()
            if committed:
                for kk in committed:
                    snap, metrics = ckpt.load(kk)
                    frames.append((kk, snap))
                    history.append(metrics)
                state = frames[-1][1]
                start_k = committed[-1] + 1
            else:
                state = init.localCheckpoint(eager=True)
        else:
            state = init.localCheckpoint(eager=True)
        # see random_walks: on resume the snapshot is a later step's
        # frame, not the step-0 positions
        first = state if start_k == 1 else init

        k = start_k - 1
        try:
            for k in range(start_k, walk_length + 1):
                t0 = time.monotonic()
                # frontier = previous frame's survivors; dead walkers leave
                # the frontier at the step they die, so frames stay
                # frontier-sized (see random_walks)
                live = state.filter("active").select("id", "prev", "cur")
                mark = ie.select(F.col("src").alias("mx"), F.col("dst").alias("mp"))
                bias = (
                    F.when(F.col("e.dst") == F.col("w.prev"), F.lit(mult_return))
                    .when(F.col("mx").isNotNull(), F.lit(mult_common))
                    .otherwise(F.lit(mult_far))
                    .cast("long")
                )
                cand = (
                    live.alias("w")
                    .join(ie.alias("e"), F.col("w.cur") == F.col("e.src"))
                    # wedge membership: is the candidate x also prev's OUT-
                    # neighbor? (null prev on step 1 never matches -> plain w)
                    .join(
                        mark,
                        (F.col("e.dst") == F.col("mx"))
                        & (F.col("w.prev") == F.col("mp")),
                        "left",
                    )
                    .select(
                        F.col("w.id").alias("id"),
                        F.col("w.cur").alias("cur"),
                        F.col("e.dst").alias("nxt"),
                        (base_w * bias).alias("bw"),
                    )
                    .filter(F.col("bw") > 0)
                )
                cum = Window.partitionBy("id").orderBy("nxt").rowsBetween(
                    Window.unboundedPreceding, -1
                )
                tot = Window.partitionBy("id")
                picked = cand.select(
                    "id",
                    "cur",
                    "nxt",
                    "bw",
                    F.coalesce(F.sum("bw").over(cum), F.lit(0)).alias("lo"),
                    F.sum("bw").over(tot).alias("tot"),
                )
                draw = F.expr(_spark_coin("id", k, seed, portable)) % F.col("tot")
                stepped = picked.filter(
                    (F.col("lo") <= draw) & (draw < F.col("lo") + F.col("bw"))
                ).select(
                    "id",
                    F.col("cur").alias("prev"),
                    F.col("nxt").alias("cur"),
                    F.lit(True).alias("active"),
                )
                dead = live.join(
                    cand.select("id").distinct(), "id", "left_anti"
                ).select("id", "prev", "cur", F.lit(False).alias("active"))
                obs = Observation(f"n2v-{k}")
                planned = stepped.unionByName(dead).observe(
                    obs,
                    F.count(F.lit(1)).alias("rows"),
                    F.sum(F.col("active").cast("long")).alias("changed"),
                )
                new_state = local_checkpoint_fresh_stats(
                    planned, storage_level=StorageLevel.MEMORY_AND_DISK
                )
                frames.append((k, new_state))
                row = obs.get

                stats = SuperstepMetrics(superstep=k)
                stats.rows = int(row["rows"])
                stats.changed = int(row["changed"] or 0)
                stats.wall_sec = time.monotonic() - t0
                if ckpt is not None and ckpt.should_checkpoint(k):
                    ckpt.save(k, new_state, stats)
                state = new_state
                history.append(stats)
                if stats.changed == 0:
                    converged = True
                    break
        except BaseException:
            _release_frames(first, frames)
            raise

    corpus = first.select(
        F.col("id").alias("walk_id"),
        F.lit(0).cast("int").alias("step"),
        F.col("cur").alias("vertex"),
    )
    for step_k, frame in frames:
        corpus = corpus.unionByName(
            frame.filter("active").select(
                F.col("id").alias("walk_id"),
                F.lit(step_k).cast("int").alias("step"),
                F.col("cur").alias("vertex"),
            )
        )
    final_state = frames[-1][1] if frames else first
    for _, frame in frames[:-1]:
        final_state = final_state.unionByName(frame.filter("NOT active"))
    return corpus, LoopResult(final_state, k, history, converged)


def skipgram_pairs(
    corpus: DataFrame,
    window: int = 2,
    num_partitions: int | None = None,
) -> DataFrame:
    """(center BIGINT, context BIGINT, n_pairs BIGINT) — skip-gram
    training pairs from a walk corpus (the output contract of
    :func:`random_walks` / :func:`node2vec_walks`): for every walk and
    every position, each vertex within ``window`` steps on either side
    is one (center, context) observation; identical pairs aggregate to
    a count. This is the corpus->examples step of a DeepWalk/node2vec
    embedding pipeline — "sentences" in, SGNS training pairs out.

    100 TB shape: ONE self-join co-partitioned on walk_id (a walk's
    rows are walk_length+1 long, so the join fan-out is bounded by
    2*window per row, never quadratic in the corpus), then a map-side
    partial count into the (center, context) aggregate; the only
    corpus-sized exchange is the walk_id hash used by both join sides.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    c = corpus.select("walk_id", "step", "vertex")
    if num_partitions:
        c = c.repartition(num_partitions, "walk_id")
    a, b = c.alias("a"), c.alias("b")
    return (
        a.join(b, "walk_id")
        .where(
            (F.col("b.step") != F.col("a.step"))
            & (F.abs(F.col("b.step") - F.col("a.step")) <= window)
        )
        .groupBy(
            F.col("a.vertex").alias("center"),
            F.col("b.vertex").alias("context"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
