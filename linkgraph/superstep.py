"""The generic gather-scatter superstep loop.

This is the Spark rendition of Pregelix's per-superstep dataflow
(JobGenOuterJoin.java:236-407): messages from the previous superstep are
joined against the vertex state (outer join — every vertex visited, or
inner — only messaged/live vertices), the compute kernel produces the new
state and the next message relation, messages are combined
partially-then-finally across the shuffle (JobGen.java:1124-1215), and
the loop terminates on a driver-side convergence check (the reference's
TerminationStateWriter + readTerminationState, Driver.java:342-344).

Algorithms plug in a ``superstep_fn(state, k) -> DataFrame`` built from
DataFrame ops only: it returns the new vertex state and nothing else.
The loop owns persistence, metrics, checkpointing, resume, and
convergence. Transient stat columns on the new state:

- ``_delta``  (double) — per-vertex change magnitude; the loop sums it.
- ``_changed`` (boolean) — per-vertex change flag; the loop counts it.
- ``_msgs``   (integer) — per-vertex received-message count; the loop
  sums it into ``SuperstepMetrics.messages``.

All three are stripped before the state is checkpointed.
"""

from __future__ import annotations

import time
import warnings
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .checkpoint import CheckpointManager, SnapshotWriter
from .graph import choose_partitions, vertices_from_edges
from .metrics import SuperstepMetrics


@contextmanager
def iteration_conf(spark, num_partitions: int | None = None):
    """Session conf for the scope of an iterative build+loop: AQE off,
    shuffle partitions pinned to the loop's partition count.

    Two AQE interactions break fixed co-partitioning in iteration:
    (1) a localCheckpoint'ed DataFrame planned under AQE reports
    UnknownPartitioning, so every superstep re-Exchanges the vertex
    state; (2) a DataFrame persisted under AQE caches an
    AdaptiveSparkPlan whose InMemoryTableScan likewise reports
    UnknownPartitioning, so the cached adjacency is re-shuffled every
    superstep. Both measured ~2x per-superstep cost at 20M vertices.
    AQE stays on outside the loop (scans, derivation, non-iterative
    analytics); in-loop skew is handled by explicit hub salting.

    Pinning ``spark.sql.shuffle.partitions`` to the loop's partition
    count keeps the in-loop ENSURE_REQUIREMENTS exchanges (the message
    combine) on the same partitioning as the cached adjacency and
    checkpointed state — and replaces AQE's small-shuffle coalescing
    with the explicit capacity-aware sizing from
    ``graph.choose_partitions`` (a 5k-vertex toy graph runs the loop on
    1 partition instead of 32 tiny tasks per superstep).

    NOTE: this mutates session-global SQL conf for the scope of the
    loop, so run ONE iterate() loop at a time per SparkSession. A
    concurrent job on another thread of the same session (e.g. a
    streaming query) would silently run under the loop's conf, and
    nested loops would restore the wrong values on exit. For concurrent
    iterative jobs, use separate SparkSessions
    (``spark.newSession()`` gives an isolated SQL conf over the same
    SparkContext).
    """
    before_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    before_sp = spark.conf.get("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    if num_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(num_partitions))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", before_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", before_sp)


class LoopScope:
    """What :func:`loop_scope` yields: the loop partition count ``p``
    plus the two prologue steps every iterative algorithm shares."""

    def __init__(self, edges: DataFrame, p: int):
        self.p = p
        self._edges = edges
        self._cached: list[DataFrame] = []

    def cache(self, df: DataFrame) -> DataFrame:
        """Persist and materialize a loop-invariant frame (adjacency,
        edge list) under :func:`iteration_conf`, so its cached plan
        keeps the partitioning the loop joins on. Freed when the scope
        exits."""
        with iteration_conf(self._edges.sparkSession, self.p):
            df = df.persist()
            self._cached.append(df)
            df.count()
        return df

    def vertices(self, vertices: DataFrame | None = None) -> DataFrame:
        """The vertex id frame (default: every src/dst id of the
        edges), hash-partitioned on ``id`` into ``p`` partitions."""
        if vertices is None:
            vertices = vertices_from_edges(self._edges)
        return vertices.select("id").repartition(self.p, "id")


@contextmanager
def loop_scope(edges: DataFrame, num_partitions: int | None = None, scale: int = 1):
    """The shared loop prologue: pick the partition count from
    ``scale * edges.count()`` (skipped when ``num_partitions`` is
    given), and unpersist every frame passed to ``scope.cache`` on the
    way out — also when the loop raises."""
    scope = LoopScope(
        edges, choose_partitions(edges, lambda: scale * edges.count(), num_partitions)
    )
    try:
        yield scope
    finally:
        for df in scope._cached:
            df.unpersist()


# Message counts ride the state observation via the transient ``_msgs``
# column (per-vertex received count, summed by the loop like _delta /
# _changed) rather than a second Observation on the message frame: a
# CollectMetrics node in the middle of the superstep plan blocks the
# optimizer rewrite that keeps the checkpointed state's inherited
# sizeInBytes stats linear, so the stats grow MULTIPLICATIVELY per
# superstep (state appears twice per join tree) and Catalyst ends up
# doing BigInteger arithmetic on 2^k-bit numbers — measured: driver
# wedged ~superstep 17 on a 12-vertex graph. One observation per
# superstep, on the state only, is both the fast and the safe shape.


@dataclass
class LoopResult:
    state: DataFrame
    supersteps: int
    history: list[SuperstepMetrics]
    converged: bool


def release_local_checkpoint(df: DataFrame) -> None:
    """Free the RDD blocks behind a ``localCheckpoint``'ed DataFrame.

    ``Dataset.unpersist()`` is a no-op for checkpoint RDDs — they are
    persisted at the RDD level (LogicalRDD over the materialized rows),
    not registered in the SQL CacheManager — so without this every
    superstep leaks one full vertex-state snapshot into executor
    storage memory until the driver happens to GC the Dataset reference
    and the ContextCleaner catches up. Measured effect of the leak:
    per-step time degrades ~2x across 12 supersteps at 10M vertices
    (storage eviction + GC churn), and small heaps eventually fail the
    superstep join with "Can't acquire ... bytes memory to build hash
    relation". The loop calls this on each superseded state snapshot.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception as exc:
        # reaches through py4j internals; the snapshot now lingers
        # until driver GC, so say so
        warnings.warn(
            f"release_local_checkpoint fell back (snapshot kept until GC): {exc!r}",
            RuntimeWarning,
            stacklevel=2,
        )


def _release(df: DataFrame) -> None:
    """Drop a loop state frame from storage, whichever way it is held."""
    df.unpersist()
    release_local_checkpoint(df)


def local_checkpoint_fresh_stats(
    df: DataFrame,
    eager: bool = True,
    storage_level: StorageLevel | None = None,
) -> DataFrame:
    """``localCheckpoint`` that also RESETS Catalyst's size statistics.

    ``Dataset.localCheckpoint`` truncates the logical plan to a
    ``LogicalRDD`` but deliberately carries the ORIGIN plan's
    ``Statistics`` forward. For a loop frame that is re-JOINED with a
    frame derived from itself (pointer doubling, label contraction),
    that is catastrophic: the size-only estimator multiplies the two
    sides' ``sizeInBytes``, so the carried BigInteger doubles in BIT
    LENGTH every iteration, and by ~iteration 20 the driver spends
    whole seconds per plan inside ``BigInteger.multiply`` (measured:
    0.1s -> 32s per 10-row join over 24 self-join+checkpoint rounds;
    jstack shows ``multiplyToomCook3`` on megabit integers). Rebuilding
    the ``LogicalRDD`` WITHOUT ``originStats`` resets ``sizeInBytes``
    to the session default, which bounds the bit growth per plan to a
    constant regardless of loop depth. Partitioning/ordering metadata
    and the materialized RDD are copied verbatim, so co-partitioning
    contracts are unaffected. The stripped frame estimates as "large"
    (``spark.sql.defaultSizeInBytes``), which can only DISABLE an
    automatic broadcast — a safe direction at scale; loops that want a
    broadcast say so explicitly.

    Falls back to the plain checkpointed frame, with a
    ``RuntimeWarning``, if the JVM internals ever move (the
    reconstruction reaches through py4j into ``LogicalRDD``'s
    constructor — package-private in Scala, public in bytecode).
    """
    if storage_level is not None:
        out = df.localCheckpoint(eager=eager, storageLevel=storage_level)
    else:
        out = df.localCheckpoint(eager=eager)
    try:
        spark = out.sparkSession
        jvm = spark._jvm
        lr = out._jdf.queryExecution().analyzed()
        if lr.getClass().getSimpleName() != "LogicalRDD":
            return out
        none = jvm.scala.Option.empty()
        args = [lr.productElement(i) for i in range(lr.productArity())]
        new_lr = jvm.org.apache.spark.sql.execution.LogicalRDD(
            *args, spark._jsparkSession, none, none
        )
        ds = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, new_lr
        )
        return DataFrame(ds, spark)
    except Exception as exc:
        warnings.warn(
            f"local_checkpoint_fresh_stats kept the origin stats: {exc!r}",
            RuntimeWarning,
            stacklevel=2,
        )
        return out


def iterate(
    init_state: DataFrame,
    superstep_fn: Callable[[DataFrame, int], DataFrame],
    converged: Callable[[SuperstepMetrics], bool],
    max_supersteps: int = 100,
    ckpt: CheckpointManager | None = None,
    resume: bool = True,
    storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
    num_partitions: int | None = None,
    global_aggs: dict[str, "F.Column"] | None = None,
) -> LoopResult:
    """Run supersteps until ``converged(stats)`` or ``max_supersteps``.

    With a CheckpointManager, each ``ckpt.every``-th superstep's state is
    written as a durable snapshot while the loop goes on: the save runs
    on one background thread (:class:`~.checkpoint.SnapshotWriter`) and
    overlaps the next superstep, and the loop keeps the in-memory
    ``localCheckpoint``ed frame as its state, so a checkpointed
    superstep runs the uncheckpointed plan. At most one save is in
    flight; it is joined before the next save, before the frame it
    writes is released, and before this function returns or raises
    (a failed save raises here). A crash loses at most that one
    uncommitted snapshot beyond the usual supersteps since the last
    commit. The committed ``_meta`` records (``ckpt.history()``) carry
    the snapshot's per-partition histogram and skew ratio;
    ``LoopResult.history`` does not.

    If the checkpoint directory already holds committed supersteps (and
    ``resume``), iteration restarts from the latest snapshot instead of
    superstep 1: the snapshot is read once and hash-partitioned on
    ``id`` once, so resumed supersteps run the same plan as well.

    ``superstep_fn(state, k)`` returns the new state. Message metrics:
    when it carries a transient ``_msgs`` column (per-vertex
    received-message count), ``stats.messages`` is its sum, which rides
    the same materialization job as delta/changed — a superstep runs
    exactly ONE SQL execution (one pass over the data; asserted in
    tests/test_superstep_jobs.py). Without ``_msgs``, ``stats.messages``
    stays 0.
    """
    history: list[SuperstepMetrics] = []
    start_k = 1
    state = init_state
    spark = init_state.sparkSession

    # See iteration_conf: the loop must run with AQE off (and shuffle
    # partitions pinned to p) so the checkpointed state keeps its
    # hashpartitioning(id, p) and the only per-superstep shuffle is the
    # unavoidable message combine.
    with iteration_conf(spark, num_partitions):
        if ckpt is not None and resume:
            latest = ckpt.latest()
            if latest is not None:
                loaded, last = ckpt.load(latest)
                history = ckpt.history()
                if converged(last):
                    return LoopResult(loaded, latest, history, True)
                start_k = latest + 1
                # parquet carries no partitioning: shuffle it back onto
                # hashpartitioning(id, p) once (iteration_conf pinned
                # the shuffle partitions to p) instead of every superstep
                state = local_checkpoint_fresh_stats(loaded.repartition("id"))
        if start_k == 1:
            state = state.persist(storage_level)

        new_state = None
        done = False
        k = start_k - 1
        try:
            with SnapshotWriter(ckpt, spark) as writer:
                for k in range(start_k, max_supersteps + 1):
                    t0 = time.monotonic()
                    new = superstep_fn(state, k)
                    # Convergence stats ride the materialization job as observed
                    # metrics (no separate pass over the state) — the Spark
                    # rendition of the reference's always-on global aggregators
                    # computed inside the superstep dataflow
                    # (FinalAggregateOperatorDescriptor, SURVEY.md §3.4).
                    cols = set(new.columns)
                    obs = Observation(f"superstep-{k}")
                    agg_exprs = [F.count(F.lit(1)).alias("rows")]
                    if "_delta" in cols:
                        agg_exprs.append(F.sum("_delta").alias("delta"))
                    if "_changed" in cols:
                        agg_exprs.append(
                            F.sum(F.col("_changed").cast("long")).alias("changed")
                        )
                    if "_msgs" in cols:
                        agg_exprs.append(
                            F.sum(F.col("_msgs").cast("long")).alias("messages")
                        )
                    # user global aggregates over the new vertex state — the
                    # reference's per-superstep GlobalAggregator, computed inside
                    # the same job (GlobalAggregator.java:42-78,
                    # FinalAggregateOperatorDescriptor.java:47-139)
                    if global_aggs:
                        for name, expr in global_aggs.items():
                            agg_exprs.append(expr.alias(f"_ga_{name}"))
                    # localCheckpoint (eager) both caches the new state AND
                    # truncates its logical plan — without this, every
                    # superstep's plan embeds all previous supersteps and the
                    # driver OOMs after ~10 iterations. Durable fault tolerance
                    # comes from the CheckpointManager below; this is the
                    # in-memory lineage cut. (AQE must stay off here or the
                    # checkpointed frame loses its partitioning — see above.)
                    # transient stat columns are dropped BEFORE materialization —
                    # the observe node sits below the projection so the metrics
                    # still fire, and the cached state carries only real columns.
                    # Stats are RESET as well: a superstep whose message frame
                    # self-joins state-derived frames (Luby MIS, coloring)
                    # multiplies the carried sizeInBytes each superstep, so its
                    # bit length grows geometrically with loop depth — harmless
                    # for tens of supersteps, unbounded BigInteger arithmetic in
                    # every later plan at O(log n)-round scale. The estimate is
                    # a useless overestimate after ~2 supersteps anyway (2^544
                    # "bytes" measured at superstep 40), so nothing downstream
                    # loses a broadcast it would actually have gotten.
                    new_state = local_checkpoint_fresh_stats(
                        new.observe(obs, *agg_exprs).drop(
                            "_delta", "_changed", "_msgs"
                        )
                    )

                    stats = SuperstepMetrics(superstep=k)
                    row = obs.get
                    stats.rows = int(row["rows"])
                    if "_delta" in cols:
                        stats.delta = float(row["delta"] or 0.0)
                    if "_changed" in cols:
                        stats.changed = int(row["changed"] or 0)
                    if "_msgs" in cols:
                        stats.messages = int(row["messages"] or 0)
                    if global_aggs:
                        stats.extras = {
                            name: row[f"_ga_{name}"] for name in global_aggs
                        }

                    # the snapshot in flight reads `state`: finish it first
                    writer.join()
                    _release(state)
                    state, new_state = new_state, None
                    stats.wall_sec = time.monotonic() - t0
                    if ckpt is not None and ckpt.should_checkpoint(k):
                        writer.submit(k, state, stats)
                    history.append(stats)
                    if converged(stats):
                        done = True
                        break
        except BaseException:
            # the writer has joined on the way out; free what the loop holds
            _release(state)
            if new_state is not None:
                _release(new_state)
            raise

        return LoopResult(state, k, history, done)
