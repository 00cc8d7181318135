"""Structured Streaming ingestion: availableNow runs must equal the
batch answer over the same files (exactly-once, batch-equivalent)."""

from linkgraph.streaming import (
    document_stats_stream,
    events_hourly_stream,
    run_available_now,
    stream_documents,
    stream_events,
)

SF = "/root/testdata/sf0.001"


def _stage_dir(tmp_path, src, name):
    """File-stream sources read directories; stage the single test
    parquet file into one."""
    import shutil

    d = tmp_path / name
    d.mkdir()
    shutil.copy(src, d / "part-0.parquet")
    return str(d)


class TestStreaming:
    def test_document_stats_stream_equals_batch(self, spark, tmp_path):
        src = _stage_dir(tmp_path, f"{SF}/documents.parquet", "docs")
        stats = document_stats_stream(stream_documents(spark, src))
        out = str(tmp_path / "out")
        run_available_now(stats, out, str(tmp_path / "ck"))
        got = spark.read.parquet(out)
        batch = document_stats_stream(spark.read.parquet(f"{SF}/documents.parquet"))
        assert got.count() == batch.count() == 500
        diff = got.exceptAll(batch)
        assert diff.count() == 0

    def test_events_hourly_stream_counts(self, spark, tmp_path):
        src = _stage_dir(tmp_path, f"{SF}/events.parquet", "events")
        agg = events_hourly_stream(stream_events(spark, src))
        q = (
            agg.writeStream.trigger(availableNow=True)
            .outputMode("complete")
            .format("memory")
            .queryName("hourly")
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .start()
        )
        q.awaitTermination()
        got = spark.sql("SELECT SUM(n_events) AS n FROM hourly").first()["n"]
        # complete mode emits every window regardless of watermark; all
        # 1000 events land in some window
        assert got == 1000
        n_types = spark.sql("SELECT COUNT(DISTINCT event_type) AS n FROM hourly").first()["n"]
        assert n_types == 5

    def test_dedup_stream_state_across_microbatches(self, spark, tmp_path):
        """applyInPandasWithState: first-seen wins, later micro-batches
        with the same content emit nothing."""
        from linkgraph.streaming import dedup_stream

        schema = "doc_id LONG, text STRING"
        d = tmp_path / "docs2"
        d.mkdir()
        spark.createDataFrame(
            [(0, "aaa bbb"), (1, "ccc ddd"), (2, "aaa bbb")], schema
        ).coalesce(1).write.parquet(str(d / "f0"))
        spark.createDataFrame(
            [(3, "aaa bbb"), (4, "eee fff")], schema
        ).coalesce(1).write.parquet(str(d / "f1"))

        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d / "f*"))
        )
        out = str(tmp_path / "dedup_out")
        run_available_now(dedup_stream(src), out, str(tmp_path / "ck3"))
        got = {
            r["text_hash"]: r["doc_id"] for r in spark.read.parquet(out).collect()
        }
        batch = spark.read.parquet(str(d / "f0"), str(d / "f1"))
        import hashlib

        def h(s):
            return hashlib.md5(s.encode()).hexdigest()

        # 3 distinct contents; "aaa bbb" kept at doc 0 (first batch, min
        # id), never re-emitted for docs 2 (same batch) or 3 (later batch)
        assert got == {h("aaa bbb"): 0, h("ccc ddd"): 1, h("eee fff"): 4}
        assert len(got) == batch.select("text").distinct().count()

    def test_degree_stream_incremental_updates(self, spark, tmp_path):
        """Stateful incremental degree maintenance: each micro-batch
        emits the RUNNING degree, and the final emission per vertex
        equals the batch out_degrees aggregate."""
        from linkgraph.partitioning import out_degrees
        from linkgraph.streaming import degree_stream, run_available_now

        schema = "src LONG, dst LONG"
        d = tmp_path / "edges"
        d.mkdir()
        spark.createDataFrame(
            [(0, 1), (0, 2), (1, 2)], schema
        ).coalesce(1).write.parquet(str(d / "f0"))
        spark.createDataFrame(
            [(0, 3), (2, 0)], schema
        ).coalesce(1).write.parquet(str(d / "f1"))

        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d / "f*"))
        )
        updates = []
        q = (
            degree_stream(src)
            .writeStream.trigger(availableNow=True)
            .outputMode("append")
            .foreachBatch(
                lambda df, bid: updates.append((bid, {r["src"]: r["outdeg"] for r in df.collect()}))
            )
            .option("checkpointLocation", str(tmp_path / "ck_deg"))
            .start()
        )
        q.awaitTermination()

        final = {}
        for _, batch in sorted(updates):
            final.update(batch)
        batch_deg = {
            r["src"]: r["outdeg"]
            for r in out_degrees(spark.read.parquet(str(d / "f0"), str(d / "f1"))).collect()
        }
        assert final == batch_deg  # {0: 3, 1: 1, 2: 1}
        # the state carried across micro-batches: vertex 0 was seen in
        # both files, so some emission shows its pre-total running count
        all_zero_emissions = [b[0] for _, b in sorted(updates) if 0 in b]
        assert all_zero_emissions == sorted(all_zero_emissions)
        if len(all_zero_emissions) > 1:
            assert all_zero_emissions[0] < batch_deg[0]

    def test_dedup_stream_equals_batch_tier_when_id_ordered(self, spark, tmp_path):
        from linkgraph.pipeline import exact_duplicates
        from linkgraph.streaming import dedup_stream, stream_documents

        src = _stage_dir(tmp_path, f"{SF}/documents.parquet", "docs3")
        out = str(tmp_path / "dedup_out2")
        run_available_now(
            dedup_stream(stream_documents(spark, src)), out, str(tmp_path / "ck4")
        )
        got = spark.read.parquet(out).select("text_hash", "doc_id")
        batch = exact_duplicates(spark.read.parquet(src)).select(
            "text_hash", "min_doc_id"
        )
        assert got.count() == batch.count()
        joined = got.join(batch, "text_hash")
        assert joined.filter("doc_id != min_doc_id").count() == 0


class TestWarmRestartOnStreamedEdges:
    def test_warm_cc_converges_faster_with_same_answer(self, spark, tmp_path):
        """The incremental story a growing corpus needs: edges arrive as
        stream micro-batches (availableNow ingest), and connected
        components WARM-RESTARTS from the previous run's labels, seeded
        only at the new edges' endpoints — far fewer supersteps than a
        cold start on the union graph, identical final answer."""
        from pyspark.sql import functions as F

        from linkgraph import connected_components
        from linkgraph.streaming import run_available_now, stream_edges

        ingest = tmp_path / "edges_in"
        ingest.mkdir()
        # batch 1: a 0..24 chain (diameter 24) and a star centered at 25
        chain = [(i, i + 1) for i in range(24)]
        star = [(25, leaf) for leaf in range(26, 50)]
        batch1 = chain + star
        spark.createDataFrame(batch1, "src LONG, dst LONG").coalesce(1).write.parquet(
            str(ingest / "b1")
        )

        out = str(tmp_path / "edges_ingested")
        ck = str(tmp_path / "ck")
        run_available_now(stream_edges(spark, str(ingest) + "/*"), out, ck)
        g1 = spark.read.parquet(out)
        assert g1.count() == len(batch1)

        labels1, res1 = connected_components(g1)
        comp1 = {r["id"]: r["component"] for r in labels1.collect()}
        assert comp1[30] == 25 and comp1[24] == 0  # two components
        prev = labels1.localCheckpoint(eager=True)  # "last snapshot"

        # batch 2 lands: one bridging edge merges star into the chain
        batch2 = [(10, 30)]
        spark.createDataFrame(batch2, "src LONG, dst LONG").coalesce(1).write.parquet(
            str(ingest / "b2")
        )
        run_available_now(stream_edges(spark, str(ingest) + "/*"), out, ck)
        g2 = spark.read.parquet(out)
        assert g2.count() == len(batch1) + len(batch2)

        cold, res_cold = connected_components(g2)
        cold_map = {r["id"]: r["component"] for r in cold.collect()}
        assert set(cold_map.values()) == {0}  # fully merged

        new_endpoints = spark.createDataFrame(
            [(s,) for s, d in batch2] + [(d,) for s, d in batch2], "id LONG"
        )
        warm, res_warm = connected_components(
            g2,
            init_labels=prev,
            initial_active=new_endpoints,
        )
        warm_map = {r["id"]: r["component"] for r in warm.collect()}
        assert warm_map == cold_map
        assert res_warm.converged and res_cold.converged
        # the changed region is the star (diameter 2), not the chain:
        # warm restart must converge in a small constant number of
        # supersteps while the cold run pays the chain diameter
        assert res_warm.supersteps < res_cold.supersteps
        assert res_warm.supersteps <= 5

    def test_warm_restart_without_active_set_still_exact(self, spark):
        """No initial_active hint: every warm vertex re-sends once —
        more messages, same exact fixpoint."""
        from linkgraph import connected_components

        g1 = spark.createDataFrame(
            [(0, 1), (1, 2), (5, 6)], "src LONG, dst LONG"
        )
        labels1, _ = connected_components(g1)
        g2 = spark.createDataFrame(
            [(0, 1), (1, 2), (5, 6), (2, 5)], "src LONG, dst LONG"
        )
        warm, res = connected_components(g2, init_labels=labels1)
        got = {r["id"]: r["component"] for r in warm.collect()}
        assert got == {0: 0, 1: 0, 2: 0, 5: 0, 6: 0}
        assert res.converged


class TestStreamingCms:
    def test_cms_sketch_stream_equals_batch(self, spark, tmp_path):
        """cms_sketch is pure transformations (explode + groupBy count),
        so it composes with a streaming frame unchanged; state is
        bounded at depth*width counters however many docs stream by."""
        from linkgraph.pipeline import cms_sketch

        src = _stage_dir(tmp_path, f"{SF}/documents.parquet", "cmsdocs")
        # pre_aggregate=False: chained aggregations are unsupported on
        # streams; per-occurrence hashing is the true streaming CMS
        sk = cms_sketch(
            stream_documents(spark, src),
            depth=3,
            width=32,
            portable=True,
            pre_aggregate=False,
        )
        q = (
            sk.writeStream.trigger(availableNow=True)
            .outputMode("complete")
            .format("memory")
            .queryName("cms_stream")
            .option("checkpointLocation", str(tmp_path / "cms_ck"))
            .start()
        )
        q.awaitTermination()
        got = {
            (r["j"], r["bucket"]): r["cnt"]
            for r in spark.sql("SELECT * FROM cms_stream").collect()
        }
        batch = {
            (r["j"], r["bucket"]): r["cnt"]
            for r in cms_sketch(
                spark.read.parquet(f"{SF}/documents.parquet"),
                depth=3,
                width=32,
                portable=True,
            ).collect()
        }
        assert got == batch
        assert len(got) <= 3 * 32


class TestSessionStream:
    def test_session_stream_equals_batch_minus_open(self, spark, tmp_path):
        """Streaming sessionization over two micro-batches: emitted
        sessions == batch sessionize_events minus each user's (still
        open) last session, with state carrying open sessions across
        the batch boundary."""
        import datetime as dt

        from linkgraph.pipeline.sessions import sessionize_events
        from linkgraph.streaming import session_stream

        def ts(minute):
            return dt.datetime(2026, 1, 1, 10, 0) + dt.timedelta(minutes=minute)

        schema = "event_id LONG, ts TIMESTAMP, user_id LONG"
        # user 1: events at 0,5 | 40,42 (gap 35m closes s1) | 90 (opens s3)
        # user 2: 0 | 70 — s1 closes at the batch BOUNDARY (40m gap)
        f0 = [(1, ts(0), 1), (2, ts(5), 1), (3, ts(40), 1), (10, ts(0), 2)]
        f1 = [(4, ts(42), 1), (5, ts(90), 1), (11, ts(10), 2), (12, ts(50), 2)]
        d = tmp_path / "ev"
        d.mkdir()
        spark.createDataFrame(f0, schema).coalesce(1).write.parquet(str(d / "f0"))
        spark.createDataFrame(f1, schema).coalesce(1).write.parquet(str(d / "f1"))

        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d / "f*"))
        )
        got = []
        q = (
            session_stream(src, gap_sec=1800)
            .writeStream.trigger(availableNow=True)
            .outputMode("append")
            .foreachBatch(lambda df, bid: got.extend(
                (r["user_id"], r["session_seq"], r["n_events"],
                 r["first_event_id"], r["start_us"], r["end_us"],
                 r["duration_us"])
                for r in df.collect()))
            .option("checkpointLocation", str(tmp_path / "ck_sess"))
            .start()
        )
        q.awaitTermination()

        batch = sessionize_events(
            spark.createDataFrame(f0 + f1, schema), gap_sec=1800
        )
        import pyspark.sql.functions as F
        from pyspark.sql import Window

        us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
        brows = batch.select(
            "user_id", "session_seq", "n_events", "first_event_id",
            us("start_ts").alias("start_us"), us("end_ts").alias("end_us"),
            "duration_us",
        ).collect()
        last_seq = {}
        for r in brows:
            last_seq[r["user_id"]] = max(
                last_seq.get(r["user_id"], 0), r["session_seq"]
            )
        expected = {
            tuple(r) for r in (
                (r["user_id"], r["session_seq"], r["n_events"],
                 r["first_event_id"], r["start_us"], r["end_us"],
                 r["duration_us"])
                for r in brows
            ) if r[1] != last_seq[r[0]]
        }
        assert set(got) == expected
        # the cross-batch closure actually happened: user 2's session 1
        # (single event at t0) closed by the t70 arrival in batch 2
        assert any(g[0] == 2 and g[1] == 1 for g in got)
