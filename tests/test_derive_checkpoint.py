"""Derivation (sha256 invariance, edge extraction) + checkpoint/resume
(the reference's FailureRecoveryTest analogue: kill after superstep k,
resume, identical result)."""

import hashlib
import threading

import pytest
from pyspark.sql import functions as F

from linkgraph import CheckpointManager, derive_files, derive_graph, pagerank
from linkgraph.graph import vertices_from_edges
from linkgraph.superstep import iterate
from linkgraph.synth import synth_code_files, synth_code_files_rows


@pytest.fixture(scope="module")
def code_files(spark):
    return synth_code_files(spark, n_repos=20, files_per_repo=10, seed=42).cache()


@pytest.fixture(scope="module")
def graph(code_files):
    verts, edges = derive_graph(code_files)
    return verts.cache(), edges.cache()


class TestDerive:
    def test_sha256_row_invariance(self, code_files):
        """BASELINE.json per-row invariant: sha256(content) equality."""
        files = derive_files(code_files)
        rows = files.select("repo", "path", "content", "sha256").collect()
        for r in rows:
            assert r["sha256"] == hashlib.sha256(r["content"].encode()).hexdigest()

    def test_edges_match_pure_python_extraction(self, spark, code_files, graph):
        verts, edges = graph
        rows = synth_code_files_rows(n_repos=20, files_per_repo=10, seed=42)
        fqn2id = {r["fqn"]: r["id"] for r in derive_files(code_files).select("fqn", "id").collect()}
        exp = set()
        for repo, path, _, _, content in rows:
            src = fqn2id[f"{repo}/{path}"]
            for line in content.splitlines():
                if line.startswith("import "):
                    tgt = line[len("import "):]
                    if tgt in fqn2id and fqn2id[tgt] != src:
                        exp.add((src, fqn2id[tgt]))
        got = {(r["src"], r["dst"]) for r in edges.collect()}
        assert got == exp and len(got) > 100

    def test_dense_ids_are_contiguous(self, code_files):
        files = derive_files(code_files, id_mode="dense")
        ids = sorted(r["id"] for r in files.select("id").collect())
        assert ids == list(range(len(ids)))

    def test_hash_ids_deterministic(self, code_files):
        a = {r["id"] for r in derive_files(code_files).select("id").collect()}
        b = {r["id"] for r in derive_files(code_files).select("id").collect()}
        assert a == b and len(a) == 200

    def test_content_pruned_from_graph_plan(self, graph):
        """Column pruning: the edges plan must not carry `content`
        downstream (SURVEY.md SS6 — don't drag content through
        supersteps). ReadSchema-level check via the analyzed plan."""
        _, edges = graph
        plan = edges._jdf.queryExecution().optimizedPlan().toString()
        # content appears only inside the regexp extraction, never as an
        # output attribute of the final plan.
        first_line = plan.splitlines()[0]
        assert "content" not in first_line


class TestCheckpointResume:
    def test_kill_and_resume_equals_fresh(self, spark, graph, tmp_path):
        _, edges = graph
        ck = CheckpointManager(spark, str(tmp_path / "ck"), every=1)
        _, partial = pagerank(edges, tol=1e-6, max_supersteps=3, ckpt=ck)
        assert not partial.converged
        ck2 = CheckpointManager(spark, str(tmp_path / "ck"), every=1)
        resumed, res = pagerank(edges, tol=1e-6, max_supersteps=80, ckpt=ck2)
        assert res.converged
        assert res.history[0].superstep == 1 and res.history[3].superstep == 4
        fresh, _ = pagerank(edges, tol=1e-6, max_supersteps=80)
        j = resumed.withColumnRenamed("rank", "r2").join(fresh, "id")
        mx = j.agg(F.max(F.abs(F.col("rank") - F.col("r2")))).first()[0]
        assert mx < 1e-12

    def test_metrics_lineage_recorded(self, spark, graph, tmp_path):
        _, edges = graph
        ck = CheckpointManager(spark, str(tmp_path / "m"), every=1)
        _, res = pagerank(edges, tol=1e-6, max_supersteps=3, ckpt=ck)
        hist = ck.history()
        assert [m.superstep for m in hist] == [1, 2, 3]
        for m in hist:
            assert m.messages > 0
            assert m.delta is not None
            assert m.rows_per_partition and sum(m.rows_per_partition.values()) == m.rows
            assert m.skew_ratio >= 1.0
            assert m.wall_sec > 0

    def test_checkpoint_every_k(self, spark, graph, tmp_path):
        _, edges = graph
        ck = CheckpointManager(spark, str(tmp_path / "k2"), every=2)
        pagerank(edges, tol=1e-6, max_supersteps=5, ckpt=ck)
        assert ck.committed_supersteps() == [2, 4]

    def test_gc_keeps_last_n(self, spark, graph, tmp_path):
        _, edges = graph
        ck = CheckpointManager(spark, str(tmp_path / "gc"), every=1, keep=2)
        pagerank(edges, tol=1e-6, max_supersteps=6, ckpt=ck)
        assert ck.committed_supersteps() == [5, 6]

    def test_resume_of_converged_run_is_noop(self, spark, graph, tmp_path):
        _, edges = graph
        ck = CheckpointManager(spark, str(tmp_path / "c"), every=1)
        _, res1 = pagerank(edges, tol=1e-4, ckpt=ck)
        assert res1.converged
        n_committed = len(ck.committed_supersteps())
        _, res2 = pagerank(edges, tol=1e-4, ckpt=CheckpointManager(spark, str(tmp_path / "c")))
        assert res2.converged and len(ck.committed_supersteps()) == n_committed


def _in_degree_loop(edges, ck, max_supersteps):
    """A minimal checkpointed loop: each superstep marks the vertices
    that received a message."""

    def step(state, k):
        msgs = (
            edges.join(state, edges["src"] == state["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.count(F.lit(1)).alias("m"))
        )
        return state.join(msgs, "id", "left_outer").select(
            "id", F.col("m").isNotNull().cast("long").alias("_msgs")
        )

    return iterate(
        vertices_from_edges(edges).select("id"),
        step,
        converged=lambda s: False,
        max_supersteps=max_supersteps,
        ckpt=ck,
        num_partitions=2,
    )


class TestBackgroundSave:
    """iterate writes each snapshot on a background thread while the next
    superstep runs; a failed write must still surface, commit nothing
    and leave no thread or cached state behind."""

    # 4: the failure surfaces at superstep 3's join; 2: at the loop's exit
    @pytest.mark.parametrize("max_supersteps", [2, 4])
    def test_failed_write_raises_and_cleans_up(
        self, spark, webmap_edges, tmp_path, max_supersteps
    ):
        webmap_edges.count()  # cached before the persistent-RDD baseline
        ck = CheckpointManager(spark, str(tmp_path / "ck"), every=1)
        write = ck._write_snapshot

        def failing_write(superstep, state):
            if superstep == 2:
                raise RuntimeError("injected snapshot write failure")
            write(superstep, state)

        ck._write_snapshot = failing_write
        jsc = spark.sparkContext._jsc
        cached_before = set(jsc.getPersistentRDDs().keys())

        with pytest.raises(RuntimeError, match="injected snapshot write failure"):
            _in_degree_loop(webmap_edges, ck, max_supersteps)

        assert ck.committed_supersteps() == [1]
        assert not (tmp_path / "ck" / "_meta" / "2.json").exists()
        assert not [
            t for t in threading.enumerate() if t.name.startswith("linkgraph-checkpoint")
        ]
        assert set(jsc.getPersistentRDDs().keys()) <= cached_before

    def test_write_job_runs_under_callers_job_group(self, spark, webmap_edges, tmp_path):
        ckdir = tmp_path / "grp"
        group = "background-save-job-group"
        ck = CheckpointManager(spark, str(ckdir), every=1)
        spark.sparkContext.setJobGroup(group, group)
        try:
            _in_degree_loop(webmap_edges, ck, 2)
        finally:
            spark.sparkContext.setJobGroup("", "")
        assert ck.committed_supersteps() == [1, 2]

        store = spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        write_jobs = set()
        for i in range(execs.size()):
            ex = execs.apply(i)
            plan = ex.physicalPlanDescription()
            if "InsertIntoHadoopFsRelationCommand" in plan and str(ckdir) in plan:
                assert ex.description() == group
                it = ex.jobs().keysIterator()
                while it.hasNext():
                    write_jobs.add(it.next())
        assert write_jobs
        group_jobs = set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        assert write_jobs <= group_jobs
