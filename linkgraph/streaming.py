"""Structured Streaming ingestion — beyond-reference capability.

The reference is batch-iterative only (SURVEY.md §3.8: no streaming),
but a 100 TB training-data corpus arrives incrementally; these wrappers
run the SAME stateless pipeline transforms (fingerprint, token count,
quality — plain column expressions, so they compose with streaming
DataFrames unchanged) over a file stream, plus a watermarked windowed
rollup for the events table. ``availableNow`` triggers give exactly-once
batch-equivalent runs (used by the tests to prove stream == batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_documents(spark: SparkSession, path: str) -> DataFrame:
    """File-stream of a documents directory (schema inferred from the
    existing files once, driver-side)."""
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def stream_events(spark: SparkSession, path: str) -> DataFrame:
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def document_stats_stream(docs: DataFrame) -> DataFrame:
    """Stateless per-document stats over a (streaming or batch) frame —
    the same expressions as the batch pipeline (textstats), one
    projection so no stream-stream join state is needed."""
    return docs.select(
        "doc_id",
        F.substring(F.md5(F.col("text")), 1, 16).alias("fingerprint"),
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )


def events_hourly_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked hourly windowed counts per event type (late rows
    beyond the watermark are dropped deterministically)."""
    # watermarks require zoned TimestampType; parquet NTZ columns cast
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("hour"), "event_type", "n_events")
    )


def run_available_now(
    df: DataFrame,
    out_path: str,
    checkpoint: str,
    fmt: str = "parquet",
    output_mode: str = "append",
):
    """Process everything currently available, exactly once, then stop.
    Returns after the stream has drained."""
    q = (
        df.writeStream.trigger(availableNow=True)
        .outputMode(output_mode)
        .format(fmt)
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.awaitTermination()
    return q


def stream_edges(spark: SparkSession, path: str) -> DataFrame:
    """File-stream of an edges directory (src BIGINT, dst BIGINT) —
    incremental link-graph ingest: each newly landed parquet file is one
    micro-batch of edge arrivals.

    The schema is the documented contract, declared explicitly rather
    than inferred from an eager read of the same path: inference throws
    if the directory is still empty at stream-definition time (a normal
    state for an ingest directory) and would silently adopt whatever
    columns happen to be present instead of the (src, dst) contract."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("src", T.LongType()), T.StructField("dst", T.LongType())]
    )
    return spark.readStream.schema(schema).parquet(path)


def degree_stream(edges: DataFrame) -> DataFrame:
    """Incremental out-degree maintenance over a streaming edge feed —
    the stateful-graph-ingest tier (applyInPandasWithState): state is
    the running out-degree per source vertex; every micro-batch emits
    the updated (src, outdeg) row for each vertex that received new
    edges, so a downstream consumer always has current degrees without
    rescanning the edge history.

    Scale shape: one long of state per DISTINCT source vertex,
    hash-partitioned by the groupBy — the streaming twin of the batch
    ``out_degrees`` aggregate. The per-batch work is proportional to
    the batch, not the accumulated graph. At 100 TB you would back the
    state with RocksDB and add TTL for retired vertices; the operator
    contract is unchanged.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("src", T.LongType()),
            T.StructField("outdeg", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("n", T.LongType())])

    def bump(key, pdfs, state):
        new = sum(len(pdf) for pdf in pdfs)
        cur = (state.get[0] if state.exists else 0) + new
        state.update((cur,))
        yield pd.DataFrame({"src": [key[0]], "outdeg": [cur]})

    return edges.groupBy("src").applyInPandasWithState(
        bump,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(docs: DataFrame) -> DataFrame:
    """Streaming exact dedup — the custom stateful operator tier
    (applyInPandasWithState): emit each distinct text exactly once, at
    its first arrival, keyed by content hash.

    Output (doc_id, text_hash): the minimum doc_id among the first
    micro-batch that contains the hash; later arrivals of the same
    content emit nothing. With id-ordered arrival this equals the batch
    tier's (min_doc_id, text_hash) from pipeline.exact_duplicates
    (tested); under arbitrary arrival it is first-seen semantics — what
    an incremental corpus ingest actually wants.

    Scale shape: state is one boolean per DISTINCT content hash,
    hash-partitioned across executors by the groupBy — the streaming
    twin of the batch hash-groupBy tier. At 100 TB you would add a
    state TTL (GroupStateTimeout) or an RocksDB state store; the
    operator contract is unchanged.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text_hash", T.StringType()),
        ]
    )
    state_schema = T.StructType([T.StructField("seen", T.BooleanType())])

    def first_seen(key, pdfs, state):
        if state.exists:
            # hash already emitted in an earlier micro-batch; drain the
            # iterator (required by the contract) and emit nothing
            for _ in pdfs:
                pass
            return
        first = None
        for pdf in pdfs:
            lo = int(pdf["doc_id"].min())
            first = lo if first is None else min(first, lo)
        state.update((True,))
        yield pd.DataFrame({"doc_id": [first], "text_hash": [key[0]]})

    hashed = docs.select("doc_id", F.md5(F.col("text")).alias("text_hash"))
    return hashed.groupBy("text_hash").applyInPandasWithState(
        first_seen,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_stream(events: DataFrame, gap_sec: int = 1800) -> DataFrame:
    """Streaming gap-based sessionization — the stateful twin of the
    batch ``pipeline.sessions.sessionize_events`` window operator
    (applyInPandasWithState, keyed by user).

    State per user: the OPEN session (last event time, session
    sequence number, event count, first event id, start time). Each
    micro-batch folds its events in (ts, event_id) order into the open
    session and emits every session it PROVABLY closes (a later event
    arrived more than ``gap_sec`` after it). The user's final open
    session stays in state — exactly the sessions a batch run over the
    same prefix would also revise if more events arrived, so the
    emitted rows equal the batch operator's output minus each user's
    last session (stream==batch parity, tested).

    Output (user_id, session_seq, n_events, first_event_id, start_us,
    end_us, duration_us) — all integer microseconds, matching the
    batch operator's exact-arithmetic contract.

    Scale shape: one 5-long row of state per ACTIVE user; per-batch
    work proportional to the batch. Assumes per-user event-time order
    across micro-batches (true for replayed logs and time-ordered
    ingest); at 100 TB add a GroupStateTimeout to evict idle users and
    emit their final sessions.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_seq", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("first_event_id", T.LongType()),
            T.StructField("start_us", T.LongType()),
            T.StructField("end_us", T.LongType()),
            T.StructField("duration_us", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_us", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("first_eid", T.LongType()),
            T.StructField("start_us", T.LongType()),
        ]
    )
    gap_us = int(gap_sec) * 1_000_000

    def fold(key, pdfs, state):
        rows = pd.concat(list(pdfs), ignore_index=True)
        if len(rows) == 0:
            return
        rows = rows.sort_values(["us", "event_id"], ignore_index=True)
        if state.exists:
            last_us, seq, n, first_eid, start_us = state.get
        else:
            last_us = seq = n = first_eid = start_us = None
        closed = []
        for us, eid in zip(rows["us"], rows["event_id"]):
            us, eid = int(us), int(eid)
            if seq is None:
                seq, n, first_eid, start_us = 1, 1, eid, us
            elif us - last_us > gap_us:
                closed.append(
                    (key[0], seq, n, first_eid, start_us, last_us,
                     last_us - start_us)
                )
                seq, n, first_eid, start_us = seq + 1, 1, eid, us
            else:
                n += 1
            last_us = us
        state.update((last_us, seq, n, first_eid, start_us))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=[
                    "user_id", "session_seq", "n_events", "first_event_id",
                    "start_us", "end_us", "duration_us",
                ],
            )

    with_us = events.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    return with_us.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def maintained_graph_stream(
    spark: SparkSession,
    ingest_path: str,
    state_dir: str,
    checkpoint_dir: str,
):
    """Continuously-maintained graph analytics over an edge file stream
    — the streaming composition of the incremental tier (round 4):
    every micro-batch of edge arrivals folds into a durable state of
    (edge snapshot, CC labels, triangle count), where CC warm-restarts
    from the previous labels seeded only at the new edges' endpoints
    (O(churn) supersteps, :func:`~linkgraph.algorithms.incremental.
    incremental_cc`) and the triangle count is maintained from the
    churn-proportional delta rather than recounted.

    State layout (parquet, versioned by epoch so readers never see a
    torn update):  ``{state_dir}/v{epoch}/edges``, ``.../labels``, and
    ``.../meta.json`` ({"epoch": k, "triangles": t}); ``{state_dir}/
    LATEST`` holds the committed epoch number, written last. Re-running
    with the same checkpoint dir is exactly-once: already-seen files
    are not re-folded.

    Returns the streaming query (availableNow trigger — drains what is
    present, then stops; call again as new files land, the reference
    pattern for incremental corpus refresh jobs).

    Filesystem contract (ADVICE r4): ``state_dir`` must be a
    DRIVER-LOCAL path. The LATEST pointer and meta.json are read and
    written with plain ``open()``/``os.replace`` — chosen because
    ``os.replace`` is the one atomic-commit primitive a local
    filesystem actually guarantees — so an HDFS/S3/object-store URI
    would silently miss existing state and restart from epoch 0. On a
    real cluster, route these three small files through the Hadoop
    FileSystem API (`FileSystem.rename` for the LATEST flip on HDFS;
    on S3, a conditional-put of the pointer object), keeping the
    parquet pieces exactly as they are. ``ingest_path`` and
    ``checkpoint_dir`` already go through Spark's Hadoop IO and may be
    any supported URI.
    """
    import json as _json
    import os

    from .algorithms.incremental import incremental_cc
    from .algorithms.diff import triangle_delta
    from .algorithms.cc import connected_components

    def fold(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        new_edges = batch.select("src", "dst")
        if new_edges.isEmpty():
            return
        latest_file = os.path.join(state_dir, "LATEST")
        if os.path.exists(latest_file):
            epoch = int(open(latest_file).read().strip())
            vdir = os.path.join(state_dir, f"v{epoch}")
            old = sp.read.parquet(os.path.join(vdir, "edges"))
            old_labels = sp.read.parquet(os.path.join(vdir, "labels"))
            meta = _json.load(open(os.path.join(vdir, "meta.json")))
            snap = old.unionByName(new_edges).distinct().localCheckpoint(
                eager=True
            )
            labels, _ = incremental_cc(snap, old, old_labels)
            tri = meta["triangles"] + int(
                triangle_delta(old, snap).first()["delta"]
            )
            next_epoch = epoch + 1
        else:
            snap = new_edges.distinct().localCheckpoint(eager=True)
            labels, _ = connected_components(snap)
            from .algorithms.triangles import triangle_counts

            row = triangle_counts(snap).agg(
                F.sum("triangles").alias("n")
            ).first()
            tri = int(row["n"] or 0)
            next_epoch = 0
        ndir = os.path.join(state_dir, f"v{next_epoch}")
        snap.write.mode("overwrite").parquet(os.path.join(ndir, "edges"))
        labels.write.mode("overwrite").parquet(os.path.join(ndir, "labels"))
        with open(os.path.join(ndir, "meta.json"), "w") as fh:
            _json.dump({"epoch": next_epoch, "triangles": tri}, fh)
        # commit point: LATEST flips only after every piece is durable
        tmp = latest_file + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(next_epoch))
        os.replace(tmp, latest_file)

    q = (
        stream_edges(spark, ingest_path)
        .writeStream.trigger(availableNow=True)
        .foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.awaitTermination()
    return q


def read_maintained_state(spark: SparkSession, state_dir: str):
    """(edges, labels, triangles, epoch) of the last committed epoch of
    :func:`maintained_graph_stream` state."""
    import json as _json
    import os

    epoch = int(open(os.path.join(state_dir, "LATEST")).read().strip())
    vdir = os.path.join(state_dir, f"v{epoch}")
    meta = _json.load(open(os.path.join(vdir, "meta.json")))
    return (
        spark.read.parquet(os.path.join(vdir, "edges")),
        spark.read.parquet(os.path.join(vdir, "labels")),
        meta["triangles"],
        epoch,
    )
