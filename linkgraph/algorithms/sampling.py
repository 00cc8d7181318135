"""Graph sampling — seed selection + neighbor expansion to a target
fill rate.

Reference contract (GraphSampleVertex.java:156-190, SURVEY.md §4.5):
each superstep, unselected vertices self-select with probability
1/seed_interval; selected vertices mark each out-neighbor with
probability 1/sampling_interval; iteration stops once the globally
aggregated selected fraction reaches the target rate (the reference's
GlobalSamplingAggregator + fillingRate check).

The reference draws from ``java.util.Random`` (run-dependent). Ours
replaces the PRNG with counter-based hashing — a hash coin over
``(id, seed, superstep)`` — so the sample is a pure function of
(graph, seed, mode): reproducible across runs, partitionings, and
cluster sizes, with the same per-superstep selection probabilities.
All selection logic is JVM-side column expressions. Two coin modes:

- ``portable=False`` (production default): xxhash64 coins — one cheap
  native hash per draw.
- ``portable=True``: md5-digit coins whose value is reproducible in
  any engine with md5 + integer arithmetic, so the whole sampling run
  (seeding, expansion, fill-rate stopping) is oracle-checkable by
  unrolling the supersteps in SQL (``__spark_entry__._graph_sample_sql``
  uses :func:`seed_coin_sql`/:func:`edge_coin_sql`, the engine-neutral
  digit-term spelling). Spark-side, the SAME value is computed with
  one native ``conv(substr(md5(..)))`` call per coin
  (:func:`linkgraph.phash.md5_digits_spark_sql`) — the inlined
  digit-term form evaluated the md5 once per hex digit (up to 6x per
  coin), which was the bulk of graph_sample's round-2 bench
  regression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointManager
from ..partitioning import build_adjacency
from ..phash import md5_digits_spark_sql as _md5_digits_spark_sql
from ..phash import md5_int_sql as _md5_int_sql
from ..superstep import LoopResult, iterate, loop_scope


def _seed_arg(id_sql: str, seed: int, k: int) -> str:
    return f"concat_ws(':', 's', CAST({id_sql} AS STRING), '{seed}', '{k}')"


def _edge_arg(src_sql: str, dst_sql: str, seed: int, k: int) -> str:
    return (
        f"concat_ws(':', 'e', CAST({src_sql} AS STRING),"
        f" CAST({dst_sql} AS STRING), '{seed}', '{k}')"
    )


def seed_coin_sql(id_sql: str, seed: int, k: int, interval: int) -> str:
    """True when vertex ``id`` self-selects at superstep ``k``
    (probability 1/interval — GraphSampleVertex.java:156-170's
    seed-interval draw, made deterministic). Engine-neutral md5
    digit-term spelling (valid in Spark SQL AND DuckDB) — used by the
    oracle; the engine's portable mode computes the identical value via
    the faster conv() spelling."""
    return f"({_md5_int_sql(_seed_arg(id_sql, seed, k))} % {interval} = 0)"


def edge_coin_sql(src_sql: str, dst_sql: str, seed: int, k: int, interval: int) -> str:
    """True when newly-selected ``src`` marks out-neighbor ``dst`` at
    superstep ``k`` (probability 1/interval — the reference's
    sampling-interval draw over out-edges). Engine-neutral spelling;
    see :func:`seed_coin_sql`."""
    return f"({_md5_int_sql(_edge_arg(src_sql, dst_sql, seed, k))} % {interval} = 0)"


def _spark_coin(arg_sql: str, interval: int, portable: bool) -> str:
    """Spark-side coin: portable = conv-extracted md5 digits (same
    value as the digit-term oracle spelling, md5 evaluated ONCE); fast
    = xxhash64 (pmod: xxhash64 is signed)."""
    if portable:
        return f"({_md5_digits_spark_sql(f'md5({arg_sql})', 6)} % {interval} = 0)"
    return f"(pmod(xxhash64({arg_sql}), {interval}) = 0)"


def graph_sample(
    edges: DataFrame,
    target_rate: float = 0.5,
    seed_interval: int = 10,
    sampling_interval: int = 2,
    seed: int = 42,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    max_supersteps: int = 50,
    ckpt: CheckpointManager | None = None,
    resume: bool = True,
    portable: bool = False,
) -> tuple[DataFrame, LoopResult]:
    """Returns (DF(id, selected BOOLEAN), LoopResult); the selected set
    reaches ``target_rate`` of all vertices (or max_supersteps).
    ``portable`` selects the coin family (see module docstring): both
    are deterministic in (graph, seed), but they draw DIFFERENT
    samples; portable=True is the oracle-checkable one."""
    with loop_scope(edges, num_partitions) as scope:
        p = scope.p
        verts = scope.vertices(vertices)
        adj = scope.cache(build_adjacency(edges, num_partitions=p))

        init = verts.withColumn("selected", F.lit(False)).withColumn(
            "newly", F.lit(False)
        )

        def superstep(state: DataFrame, k: int) -> DataFrame:
            cur = state.select("id", "selected", "newly")
            # expansion: vertices selected last superstep mark a subset of
            # their out-neighbors (deterministic per-edge coin)
            senders = cur.filter(F.col("newly"))
            marked = (
                adj.join(senders, adj["src"] == senders["id"])
                .select(F.col("src"), F.explode("dsts").alias("id"))
                .filter(
                    F.expr(
                        _spark_coin(
                            _edge_arg("src", "id", seed, k), sampling_interval, portable
                        )
                    )
                )
                .select("id")
                .distinct()
            )
            # seeding: unselected vertices self-select with the seed coin
            return (
                cur.drop("newly")
                .join(marked.withColumn("_m", F.lit(True)), "id", "left_outer")
                .select(
                    "id",
                    F.col("selected").alias("_old"),
                    (
                        F.col("selected")
                        | F.coalesce(F.col("_m"), F.lit(False))
                        | F.expr(
                            _spark_coin(_seed_arg("id", seed, k), seed_interval, portable)
                        )
                    ).alias("selected"),
                    F.col("_m").isNotNull().cast("long").alias("_msgs"),
                )
                .select(
                    "id",
                    "selected",
                    (F.col("selected") & ~F.col("_old")).alias("newly"),
                    "_msgs",
                )
                .withColumn("_changed", F.col("newly"))
                # _delta carries the global fill count for the stop check
                .withColumn("_delta", F.col("selected").cast("double"))
            )

        def done(s) -> bool:
            filled = (s.delta or 0.0) / max(s.rows, 1)
            return filled >= target_rate

        result = iterate(
            init.withColumn("_changed", F.lit(False)).withColumn("_delta", F.lit(0.0)),
            superstep,
            converged=done,
            max_supersteps=max_supersteps,
            ckpt=ckpt,
            resume=resume,
            num_partitions=p,
        )
    return result.state.select("id", "selected"), result
