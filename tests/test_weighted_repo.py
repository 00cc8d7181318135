"""Repo-granularity graph derivation + edge-weighted PageRank.

North-star coverage: "vertices are repos/files" — the file graph is
derive_graph (tests/test_derive_checkpoint.py); this file covers the
repo rollup (derive_repo_graph) against a pure-Python oracle over the
same synthesized content, and weighted_pagerank against a dense numpy
power iteration.
"""

from __future__ import annotations

import re
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from linkgraph.derive import derive_repo_graph
from linkgraph.examples import weighted_pagerank
from linkgraph.synth import synth_code_files, synth_code_files_rows

IMPORT_RE = re.compile(r"import ([A-Za-z0-9_./-]+)")


def _python_repo_graph(rows):
    """Pure-Python oracle: same rule as derive_repo_graph."""
    fqn_to_repo = {f"{r}/{p}": r for (r, p, _c, _l, _t) in rows}
    n_files = Counter(r for (r, _p, _c, _l, _t) in rows)
    weights: Counter = Counter()
    for repo, path, _c, _l, content in rows:
        # distinct (src_file, ref) pairs, as the Spark side dedups
        for ref in set(IMPORT_RE.findall(content)):
            dst_repo = fqn_to_repo.get(ref)
            if dst_repo is not None and dst_repo != repo:
                weights[(repo, dst_repo)] += 1
    return n_files, weights


class TestDeriveRepoGraph:
    def test_matches_python_oracle(self, spark):
        rows = synth_code_files_rows(n_repos=30, files_per_repo=8)
        code = synth_code_files(spark, n_repos=30, files_per_repo=8)
        verts, edges = derive_repo_graph(code)

        exp_files, exp_w = _python_repo_graph(rows)

        got_verts = {r["repo"]: r["n_files"] for r in verts.collect()}
        assert got_verts == dict(exp_files)

        # map hashed ids back to repo names through the vertex table
        id_to_repo = {r["id"]: r["repo"] for r in verts.collect()}
        got_w = {
            (id_to_repo[r["src"]], id_to_repo[r["dst"]]): r["weight"]
            for r in edges.collect()
        }
        assert got_w == dict(exp_w)

    def test_no_intra_repo_edges_and_id_stability(self, spark):
        code = synth_code_files(spark, n_repos=12, files_per_repo=6)
        verts, edges = derive_repo_graph(code)
        joined = (
            edges.join(
                verts.select(F.col("id").alias("src"), F.col("repo").alias("srepo")),
                "src",
            )
            .join(
                verts.select(F.col("id").alias("dst"), F.col("repo").alias("drepo")),
                "dst",
            )
        )
        assert joined.filter("srepo = drepo").count() == 0
        # ids are xxhash64(repo): recomputable per-row, no global state
        recomputed = verts.filter(
            F.col("id") != F.xxhash64("repo")
        ).count()
        assert recomputed == 0


def _numpy_weighted_pagerank(n, wedges, damping=0.85, updates=20):
    W = np.zeros((n, n))
    for s, d, w in wedges:
        W[s, d] += w
    out = W.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(updates):
        msum = np.zeros(n)
        for s in range(n):
            if out[s] > 0:
                msum += r[s] * W[s] / out[s]
        r = (1.0 - damping) / n + damping * msum
    return r


class TestWeightedPagerank:
    WEDGES = [
        (0, 1, 3.0), (0, 2, 1.0),
        (1, 2, 2.0), (2, 0, 1.0),
        (3, 0, 5.0), (3, 4, 1.0),
        (4, 3, 2.0), (1, 4, 1.0),
        # vertex 5 dangling (no out-edges), receives from 2
        (2, 5, 4.0),
    ]

    def _edges_df(self, spark):
        return spark.createDataFrame(
            [(int(s), int(d), float(w)) for s, d, w in self.WEDGES],
            "src long, dst long, weight double",
        )

    def test_matches_numpy(self, spark):
        edges = self._edges_df(spark)
        ranks, res = weighted_pagerank(edges, fixed_updates=20)
        got = {r["id"]: r["rank"] for r in ranks.collect()}
        exp = _numpy_weighted_pagerank(6, self.WEDGES, updates=20)
        assert len(got) == 6
        for i in range(6):
            assert got[i] == pytest.approx(exp[i], abs=1e-9)

    def test_uniform_weights_reduce_to_unweighted(self, spark):
        from linkgraph import pagerank

        uni = self._edges_df(spark).withColumn("weight", F.lit(1.0))
        w_ranks, _ = weighted_pagerank(uni, fixed_updates=8)
        u_ranks, _ = pagerank(uni.select("src", "dst"), fixed_updates=8)
        got_w = {r["id"]: r["rank"] for r in w_ranks.collect()}
        got_u = {r["id"]: r["rank"] for r in u_ranks.collect()}
        assert got_w.keys() == got_u.keys()
        for i in got_u:
            assert got_w[i] == pytest.approx(got_u[i], abs=1e-12)

    def test_convergence_mode(self, spark):
        edges = self._edges_df(spark)
        ranks, res = weighted_pagerank(edges, tol=1e-10)
        assert res.converged
        # total mass: 1 - leaked dangling mass stays < 1, but stable
        total = ranks.agg(F.sum("rank")).first()[0]
        assert 0.0 < total <= 1.0 + 1e-9


class TestWeightedResume:
    def test_resume_equals_fresh_with_vertex_attrs(self, spark, tmp_path):
        """Kill/resume parity for a VertexProgram that carries a static
        vertex attribute (wsum) inside the state frame: the checkpoint
        must restore attrs along with values (the reference's
        FailureRecovery shape applied to the weighted program)."""
        from linkgraph.checkpoint import CheckpointManager

        edges = spark.createDataFrame(
            [(int(s), int(d), float(w)) for s, d, w in TestWeightedPagerank.WEDGES],
            "src long, dst long, weight double",
        )
        ck = CheckpointManager(spark, str(tmp_path / "wpr"), every=1)
        _, partial = weighted_pagerank(edges, tol=1e-9, max_supersteps=3, ckpt=ck)
        assert not partial.converged
        resumed, res = weighted_pagerank(
            edges,
            tol=1e-9,
            ckpt=CheckpointManager(spark, str(tmp_path / "wpr"), every=1),
        )
        # resume keeps the restored lineage (supersteps 1..3) and
        # continues at 4 — attrs (wsum) restored from the checkpoint
        assert res.converged
        assert [h.superstep for h in res.history[:4]] == [1, 2, 3, 4]
        assert res.supersteps > 3
        fresh, _ = weighted_pagerank(edges, tol=1e-9)
        got = {r["id"]: r["rank"] for r in resumed.collect()}
        exp = {r["id"]: r["rank"] for r in fresh.collect()}
        assert got.keys() == exp.keys()
        for i in exp:
            assert got[i] == pytest.approx(exp[i], abs=1e-12)


class TestCliWpr:
    def test_wpr_and_derive_repo_subcommands(self, spark, tmp_path):
        """CLI drive: derive-repo rolls a code table up to weighted repo
        edges; wpr ranks them; outputs round-trip through parquet."""
        from linkgraph import cli

        code = synth_code_files(spark, n_repos=10, files_per_repo=6)
        code_path = str(tmp_path / "code")
        code.write.parquet(code_path)

        redges_path = str(tmp_path / "repo_edges")
        cli.main(
            ["derive-repo", "--code-table", code_path, "--output", redges_path]
        )
        redges = spark.read.parquet(redges_path)
        assert set(redges.columns) == {"src", "dst", "weight"}
        assert redges.count() > 0

        ranks_path = str(tmp_path / "wpr")
        metrics_path = str(tmp_path / "m.jsonl")
        cli.main(
            [
                "wpr", "--edges", redges_path, "--output", ranks_path,
                "--fixed-updates", "6", "--metrics-output", metrics_path,
            ]
        )
        got = {
            r["id"]: r["rank"] for r in spark.read.parquet(ranks_path).collect()
        }
        exp_df, _ = weighted_pagerank(
            redges.select(
                "src", "dst", F.col("weight").cast("double").alias("weight")
            ),
            fixed_updates=6,
        )
        exp = {r["id"]: r["rank"] for r in exp_df.collect()}
        assert got.keys() == exp.keys()
        for i in exp:
            assert got[i] == pytest.approx(exp[i], abs=1e-12)
        with open(metrics_path) as f:
            assert len(f.read().strip().splitlines()) == 6


class TestRepoPagerankEndToEnd:
    def test_rank_repo_graph(self, spark):
        """The north-star pipeline at repo granularity: code table ->
        repo rollup -> weighted PageRank, all public API."""
        code = synth_code_files(spark, n_repos=20, files_per_repo=10)
        verts, edges = derive_repo_graph(code)
        ranks, res = weighted_pagerank(edges, tol=1e-8)
        assert res.converged
        named = ranks.join(verts, "id")
        assert named.count() == verts.count()
        top = named.orderBy(F.desc("rank")).first()
        assert top["rank"] > 0
