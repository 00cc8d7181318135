"""Partitioning, CSR-style adjacency, and hub chunking.

Reference analogue: Pregelix stores the vertex relation in a B-tree
hash-partitioned by vertex id (JobGen.java:150-151, 598) with a custom
``VertexPartitioner`` hook (VertexPartitioner.java:34) and handles giant
adjacency lists by spilling oversized vertices to HDFS
(Vertex.java:304-391). Our Spark-native equivalents:

- **co-partitioning**: adjacency and rank/label DataFrames are hash
  repartitioned on the vertex id with the same partition count, so the
  per-superstep join needs no extra exchange on the cached adjacency
  side (SURVEY.md SS2.3).
- **CSR-style adjacency**: ``adj(src, salt, dsts array<long>, outdeg)``
  — one row per (vertex, chunk) with the out-neighbor list packed in an
  array, built in ONE shuffle: ``groupBy(src)`` collects the list and
  counts ``outdeg`` in the same aggregate, the way Pregelix loads each
  vertex with its edge list in one loading job (JobGen.java:531-604).
  Grouped arrays are the DataFrame rendition of CSR: the scatter step
  is an ``explode`` instead of a row-per-edge shuffle, and partial
  aggregation combines messages before the shuffle exactly like the
  reference's local-combine -> MToN -> final-combine pipeline
  (JobGen.java:1124-1215).
- **chunking**: a hub vertex's list is cut into ``salt`` chunks of at
  most ``chunk_size`` neighbors by a narrow ``slice`` after the
  groupBy, which bounds the array length of one row (the reference's
  skew fixture has a 4146-neighbor vertex, data/skew/data.txt). It does
  NOT spread a hub across tasks: every chunk keeps the hub's ``src``
  and therefore its hash partition. Message-side (in-degree) skew is
  handled by Spark's map-side partial aggregation before the message
  shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_CHUNK_SIZE = 4096


def out_degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy("src").agg(F.count("*").alias("outdeg"))


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view: both directions, deduped (CC/LPA/triangles use
    this; reference convention per clique fixtures — both directions
    listed in the adjacency text)."""
    return (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )


def build_adjacency(
    edges: DataFrame,
    num_partitions: int | None = None,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
) -> DataFrame:
    """edges(src,dst) -> chunked CSR-style adjacency.

    Returns ``(src, salt, dsts array<long>, outdeg)``: rows only for
    vertices with out-edges, at most ``chunk_size`` neighbors per row,
    chunks numbered ``salt = 0 .. ceil(outdeg / chunk_size) - 1``.
    ``outdeg`` is the vertex's TOTAL out-degree (not the chunk length)
    on every chunk, so rank contributions stay correct when a hub is
    split — chunking must not change PageRank mass (SURVEY.md SS9 "hard
    parts"). Hash-partitioned by ``src`` and persisted by the caller.

    One shuffle: the ``groupBy(src)`` that collects the list also
    counts the degree, and the chunks are cut from the collected list
    without another exchange. Under ``iteration_conf(p)`` the groupBy
    already yields ``hashpartitioning(src, p)``, so the trailing
    ``repartition(p, "src")`` plans no exchange of its own.
    """
    n_chunks = F.ceil(F.col("outdeg") / chunk_size).cast("int")
    adj = (
        edges.groupBy("src")
        .agg(F.collect_list("dst").alias("_all"), F.count("*").alias("outdeg"))
        .select(
            "src",
            "_all",
            "outdeg",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("salt"),
        )
        .select(
            "src",
            "salt",
            F.slice("_all", F.col("salt") * chunk_size + 1, chunk_size).alias("dsts"),
            "outdeg",
        )
    )
    if num_partitions:
        adj = adj.repartition(num_partitions, "src")
    return adj


def skew_ratio(df: DataFrame, key: str) -> float:
    """max/mean rows per key-hash partition bucket — the per-superstep
    skew metric recorded in lineage (north_rule metrics)."""
    counts = df.groupBy(key).count()
    row = counts.agg(
        F.max("count").alias("mx"), F.avg("count").alias("mean")
    ).first()
    if row is None or not row["mean"]:
        return 1.0
    return float(row["mx"]) / float(row["mean"])


def dense_index(
    df: DataFrame,
    order_cols: list[str],
    index_col: str = "new_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append a global dense 0-based BIGINT ``index_col`` ordered by
    ``order_cols`` (which must be a TOTAL order — include a unique
    tie-breaker column).

    The scalable dense-rank: ``repartitionByRange`` puts ascending key
    ranges on ascending partition ids, ``row_number`` runs per
    partition (never a single-partition global window), and the only
    driver traffic is the O(p) per-partition counts that become the
    partition offsets. No per-row Python anywhere — this replaces the
    ``rdd.zipWithIndex`` idiom, whose ``DataFrame.rdd`` hop serializes
    every row through the Python worker.

    The range-partitioned frame is localCheckpoint'ed once so the
    counts job and the output job see the SAME boundaries (the range
    partitioner samples with a nondeterministic seed; two separate
    computations could disagree).
    """
    from .superstep import local_checkpoint_fresh_stats

    spark = df.sparkSession
    p = num_partitions or max(
        1, min(spark.sparkContext.defaultParallelism, 200)
    )
    ordered = local_checkpoint_fresh_stats(
        df.repartitionByRange(p, *[F.col(c) for c in order_cols]).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    counts = {
        r["_pid"]: r["c"]
        for r in ordered.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = F.broadcast(
        spark.createDataFrame(offsets or [(0, 0)], "_pid INT, _off LONG")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    return (
        ordered.join(off_df, "_pid")
        .withColumn(
            index_col,
            (F.row_number().over(w) - 1 + F.col("_off")).cast("long"),
        )
        .drop("_pid", "_off")
    )
