"""End-to-end incremental pipeline (VERDICT r3 #6): streamed edge
micro-batches → snapshot diff → warm CC restart + incremental triangle
maintenance, asserting O(churn) work AND equality with cold recompute."""

from pyspark.sql import functions as F


def _cc_map(df):
    return {r["id"]: r["component"] for r in df.collect()}


def _tri_total(spark, edges):
    from linkgraph import triangle_counts

    # triangle_counts assigns each triangle to exactly one (degree-
    # ordered) corner, so the global count is the plain sum
    t = triangle_counts(edges)
    row = t.agg(F.sum("triangles").cast("long").alias("n")).first()
    return int(row["n"] or 0)


class TestIncrementalPipeline:
    def test_stream_to_warm_update(self, spark, tmp_path):
        """Micro-batch 1 lands → cold CC + cold triangle count; batch 2
        lands (additions) → incremental_cc re-converges in fewer
        supersteps with identical labels, and the triangle count is
        maintained from the delta instead of recounted."""
        from linkgraph import connected_components
        from linkgraph.algorithms.incremental import (
            incremental_cc,
            incremental_triangle_count,
        )
        from linkgraph.streaming import run_available_now, stream_edges

        ingest = tmp_path / "in"
        ingest.mkdir()
        # two chains + a triangle cluster
        batch1 = (
            [(i, i + 1) for i in range(20)]
            + [(i, i + 1) for i in range(30, 45)]
            + [(50, 51), (51, 52), (50, 52)]
        )
        spark.createDataFrame(batch1, "src LONG, dst LONG").coalesce(1).write.parquet(
            str(ingest / "b1")
        )
        out, ck = str(tmp_path / "acc"), str(tmp_path / "ck")
        run_available_now(stream_edges(spark, str(ingest) + "/*"), out, ck)
        snap0 = spark.read.parquet(out).localCheckpoint(eager=True)

        labels0, _ = connected_components(snap0)
        labels0 = labels0.localCheckpoint(eager=True)
        tri0 = _tri_total(spark, snap0)
        assert tri0 == 1

        # batch 2: bridge the chains and close two new triangles
        batch2 = [(5, 35), (10, 11), (9, 11), (40, 42)]
        spark.createDataFrame(batch2, "src LONG, dst LONG").coalesce(1).write.parquet(
            str(ingest / "b2")
        )
        run_available_now(stream_edges(spark, str(ingest) + "/*"), out, ck)
        snap1 = spark.read.parquet(out).localCheckpoint(eager=True)
        assert snap1.count() == len(batch1) + len(batch2)

        cold1, res_cold = connected_components(snap1)
        warm1, res_warm = incremental_cc(snap1, snap0, labels0)
        assert _cc_map(warm1) == _cc_map(cold1)
        # O(churn) evidence: the warm frontier is the 6 changed
        # endpoints, not the whole graph
        assert res_warm.supersteps < res_cold.supersteps

        got = incremental_triangle_count(snap1, snap0, tri0).first()["total"]
        assert got == _tri_total(spark, snap1) == 3

    def test_deletion_churn_resets_only_touched_components(self, spark):
        """Snapshot churn with deletions: the deletion-touched component
        resets and re-converges; untouched components keep their labels
        (their vertices never activate). Labels equal cold recompute
        even though the stale min is no longer reachable."""
        from linkgraph import connected_components
        from linkgraph.algorithms.incremental import (
            incremental_cc,
            incremental_triangle_count,
        )

        # component A: 0..9 chain; component B: 100..109 chain
        old_edges = [(i, i + 1) for i in range(9)] + [
            (100 + i, 101 + i) for i in range(9)
        ]
        old = spark.createDataFrame(old_edges, "src LONG, dst LONG")
        labels_old, _ = connected_components(old)
        labels_old = labels_old.localCheckpoint(eager=True)

        # delete (4,5): splits A into {0..4} and {5..9}; B untouched
        new = old.filter(~((F.col("src") == 4) & (F.col("dst") == 5)))
        cold, _ = connected_components(new)
        warm, res = incremental_cc(new, old, labels_old)
        assert _cc_map(warm) == _cc_map(cold)
        m = _cc_map(warm)
        assert m[9] == 5 and m[0] == 0 and m[109] == 100

        tri = incremental_triangle_count(new, old, 0).first()["total"]
        assert tri == 0

    def test_mixed_add_delete(self, spark):
        from linkgraph import connected_components
        from linkgraph.algorithms.incremental import incremental_cc

        old_e = [(0, 1), (1, 2), (10, 11), (20, 21), (21, 22), (20, 22)]
        old = spark.createDataFrame(old_e, "src LONG, dst LONG")
        labels_old, _ = connected_components(old)
        # delete (1,2), add (2,10) and (11,20)
        new_e = [(0, 1), (10, 11), (20, 21), (21, 22), (20, 22), (2, 10), (11, 20)]
        new = spark.createDataFrame(new_e, "src LONG, dst LONG")
        cold, _ = connected_components(new)
        warm, _ = incremental_cc(new, old, labels_old)
        assert _cc_map(warm) == _cc_map(cold)

    def test_cli_inc_cc(self, spark, tmp_path):
        """CLI drive: cc on the old snapshot, then inc-cc with
        --old-edges/--old-labels equals cc on the new snapshot."""
        from linkgraph import cli

        old_e = [(0, 1), (1, 2), (10, 11)]
        new_e = [(0, 1), (1, 2), (10, 11), (2, 10)]
        p_old = str(tmp_path / "old_e")
        p_new = str(tmp_path / "new_e")
        spark.createDataFrame(old_e, "src LONG, dst LONG").write.parquet(p_old)
        spark.createDataFrame(new_e, "src LONG, dst LONG").write.parquet(p_new)

        p_lab0 = str(tmp_path / "lab0")
        cli.main(["cc", "--edges", p_old, "--output", p_lab0])
        p_lab1 = str(tmp_path / "lab1")
        cli.main(["inc-cc", "--edges", p_new, "--old-edges", p_old,
                  "--old-labels", p_lab0, "--output", p_lab1])
        got = _cc_map(spark.read.parquet(p_lab1))
        p_cold = str(tmp_path / "cold")
        cli.main(["cc", "--edges", p_new, "--output", p_cold])
        assert got == _cc_map(spark.read.parquet(p_cold))

    def test_cli_inc_cc_missing_args(self, spark, tmp_path):
        import pytest

        from linkgraph import cli

        p = str(tmp_path / "e")
        spark.createDataFrame([(0, 1)], "src LONG, dst LONG").write.parquet(p)
        with pytest.raises(SystemExit, match="old-edges"):
            cli.main(["inc-cc", "--edges", p, "--output", str(tmp_path / "o")])


class TestMaintainedStream:
    def test_foreachbatch_maintained_state(self, spark, tmp_path):
        """maintained_graph_stream folds each micro-batch into durable
        (snapshot, labels, triangles) state: after two ingest rounds the
        maintained labels and triangle count equal a cold recompute on
        the union graph, and LATEST advanced one epoch per batch."""
        from linkgraph import connected_components
        from linkgraph.streaming import (
            maintained_graph_stream,
            read_maintained_state,
        )

        ingest = tmp_path / "in"
        ingest.mkdir()
        state = str(tmp_path / "state")
        ck = str(tmp_path / "ck")

        batch1 = [(0, 1), (1, 2), (10, 11), (11, 12), (10, 12)]
        spark.createDataFrame(batch1, "src LONG, dst LONG").coalesce(1).write.parquet(
            str(ingest / "b1")
        )
        maintained_graph_stream(spark, str(ingest) + "/*", state, ck)
        edges1, labels1, tri1, epoch1 = read_maintained_state(spark, state)
        assert epoch1 == 0 and tri1 == 1 and edges1.count() == 5

        # second round: bridge plus one new triangle
        batch2 = [(2, 10), (0, 2)]
        spark.createDataFrame(batch2, "src LONG, dst LONG").coalesce(1).write.parquet(
            str(ingest / "b2")
        )
        maintained_graph_stream(spark, str(ingest) + "/*", state, ck)
        edges2, labels2, tri2, epoch2 = read_maintained_state(spark, state)
        assert epoch2 == 1 and edges2.count() == 7
        assert tri2 == 2  # {10,11,12} and {0,1,2}

        cold, _ = connected_components(edges2)
        assert _cc_map(labels2) == _cc_map(cold)

        # re-running with nothing new is a no-op (exactly-once)
        maintained_graph_stream(spark, str(ingest) + "/*", state, ck)
        _, _, tri3, epoch3 = read_maintained_state(spark, state)
        assert (epoch3, tri3) == (epoch2, tri2)

    def test_crash_between_fold_and_latest_flip(self, spark, tmp_path, monkeypatch):
        """The torn-update claim, proven by fault injection: a crash
        AFTER the v{k+1} state is written but BEFORE the LATEST pointer
        flips must leave readers on the previous committed epoch, and a
        plain re-run must recover to exactly the state the crashed fold
        would have committed (the failed micro-batch's offsets were
        never checkpointed, so it replays)."""
        import os as _os

        from linkgraph import connected_components
        from linkgraph.streaming import (
            maintained_graph_stream,
            read_maintained_state,
        )

        ingest = tmp_path / "in"
        ingest.mkdir()
        state = str(tmp_path / "state")
        ck = str(tmp_path / "ck")

        batch1 = [(0, 1), (1, 2), (10, 11), (11, 12), (10, 12)]
        spark.createDataFrame(batch1, "src LONG, dst LONG").coalesce(1).write.parquet(
            str(ingest / "b1")
        )
        maintained_graph_stream(spark, str(ingest) + "/*", state, ck)
        _, labels1, tri1, epoch1 = read_maintained_state(spark, state)
        cc1 = _cc_map(labels1)
        assert epoch1 == 0

        # inject: the SECOND fold dies at the commit point (the LATEST
        # os.replace), after v1/edges, v1/labels, v1/meta.json exist
        spark.createDataFrame([(2, 10), (0, 2)], "src LONG, dst LONG").coalesce(
            1
        ).write.parquet(str(ingest / "b2"))
        real_replace = _os.replace
        fired = {}

        def crashing_replace(srcp, dstp, *a, **kw):
            if str(dstp).endswith("LATEST") and "done" not in fired:
                fired["done"] = True
                raise OSError("injected crash before LATEST flip")
            return real_replace(srcp, dstp, *a, **kw)

        monkeypatch.setattr("os.replace", crashing_replace)
        import pytest as _pytest

        with _pytest.raises(Exception):
            maintained_graph_stream(spark, str(ingest) + "/*", state, ck)
        assert fired.get("done"), "injection never fired"
        # torn state exists on disk ... but readers still see epoch 0
        assert _os.path.isdir(_os.path.join(state, "v1"))
        _, labels_after, tri_after, epoch_after = read_maintained_state(spark, state)
        assert epoch_after == 0 and tri_after == tri1
        assert _cc_map(labels_after) == cc1

        # recovery: a plain re-run replays the uncommitted batch and
        # lands on the cold answer for the union graph
        monkeypatch.undo()
        maintained_graph_stream(spark, str(ingest) + "/*", state, ck)
        edges2, labels2, tri2, epoch2 = read_maintained_state(spark, state)
        assert epoch2 == 1 and tri2 == 2
        cold, _ = connected_components(edges2)
        assert _cc_map(labels2) == _cc_map(cold)


class TestNewVertices:
    def test_incremental_cc_with_brand_new_vertices(self, spark):
        """Vertices that exist only in the NEW snapshot (no old label)
        must seed at their own id and merge correctly through the added
        edges — the growing-corpus arrival case."""
        from linkgraph import connected_components
        from linkgraph.algorithms.incremental import incremental_cc

        old = spark.createDataFrame(
            [(0, 1), (1, 2)], "src LONG, dst LONG"
        )
        labels_old, _ = connected_components(old)
        # 100 and 101 are brand-new; 100 attaches to the old component,
        # 101-102 form a new isolated one
        new = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 100), (101, 102)], "src LONG, dst LONG"
        )
        cold, _ = connected_components(new)
        warm, _ = incremental_cc(new, old, labels_old)
        assert _cc_map(warm) == _cc_map(cold)
        m = _cc_map(warm)
        assert m[100] == 0 and m[101] == m[102] == 101
