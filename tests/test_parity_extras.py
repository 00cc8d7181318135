"""Parity features beyond the north rule: graph mutation (reference
golden), graph sampling (deterministic re-expression), IMRU
(kmeans/BGD vs numpy oracles)."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from linkgraph import (
    batch_gradient_descent,
    graph_sample,
    kmeans,
)
from linkgraph.mutation import graph_mutation_reference
from linkgraph.synth import WEBMAP, adjacency_to_edges, edges_df

# expected/GraphMutation/part-* — survivors of the two-superstep
# add/delete demo on the 20-vertex webmap.
GOLDEN_MUTATION = {1, 5, 7, 11, 13, 17, 19, 100, 500, 700, 1100, 1300, 1700}


class TestGraphMutation:
    def test_reference_golden(self, spark):
        verts = spark.range(20).select(F.col("id"))
        out = graph_mutation_reference(verts)
        got = {r["id"]: r["value"] for r in out.collect()}
        assert set(got) == GOLDEN_MUTATION
        assert all(v == 0.0 for v in got.values())

    def test_golden_via_public_vertex_program_api(self, spark, webmap_edges):
        """The same GraphMutation golden reproduced by a USER program
        written against the public VertexProgram mutation channels only
        (mutate_add_expr / mutate_delete_expr) — the reference's
        compute()-issued addVertex/deleteVertex surface."""
        from linkgraph import graph_mutation_vp

        verts = spark.range(20).select(F.col("id"))
        out, res = graph_mutation_vp(webmap_edges, vertices=verts)
        got = {r["id"]: r["value"] for r in out.collect()}
        assert set(got) == GOLDEN_MUTATION
        assert all(v == 0.0 for v in got.values())
        # superstep 1 spawns (insert channel), superstep 2 deletes 1900
        # (visible one superstep after its insertion), superstep 3 is
        # quiescent -- deletion alone does not extend the run
        assert res.supersteps <= 3

    def test_mutation_channels_insert_visibility_and_upsert(self, spark):
        """A vertex inserted at superstep k is first visible at k+1;
        inserting an existing id is a no-op upsert; deleting a vertex
        drops in-flight messages to it."""
        from linkgraph import VertexProgram, run_vertex_program

        edges = edges_df(spark, [(1, 2), (2, 3)])
        prog = VertexProgram(
            init_expr=F.col("id").cast("double"),
            message_expr=F.lit(1.0),
            combine_agg=F.min("msg"),
            update_expr=F.col("value"),
            changed_expr=F.lit(False),
            plan="outer",
            # superstep 1: vertex 1 spawns 99 AND re-spawns existing 2
            # with a different value (must be a no-op); vertex 3
            # deletes itself
            mutate_add_expr=F.when(
                (F.col("superstep") == 1) & (F.col("id") == 1),
                F.expr(
                    "array(named_struct('id', CAST(99 AS BIGINT),"
                    " 'value', CAST(-1.0 AS DOUBLE)),"
                    " named_struct('id', CAST(2 AS BIGINT),"
                    " 'value', CAST(-7.0 AS DOUBLE)))"
                ),
            ).otherwise(F.expr("CAST(array() AS ARRAY<STRUCT<id: BIGINT, value: DOUBLE>>)")),
            mutate_delete_expr=F.when(
                (F.col("superstep") == 1) & (F.col("id") == 3),
                F.array(F.col("id")),
            ).otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)")),
        )
        state, res = run_vertex_program(edges, prog)
        got = {r["id"]: r["value"] for r in state.collect()}
        assert set(got) == {1, 2, 99}          # 3 deleted, 99 inserted
        assert got[2] == 2.0                   # upsert kept the old row
        assert got[99] == -1.0                 # spawned value carried


class TestGraphSample:
    def test_reaches_target_and_deterministic(self, webmap_edges):
        s1, r1 = graph_sample(webmap_edges, target_rate=0.5, seed=7)
        s2, r2 = graph_sample(webmap_edges, target_rate=0.5, seed=7)
        sel1 = {r["id"] for r in s1.collect() if r["selected"]}
        sel2 = {r["id"] for r in s2.collect() if r["selected"]}
        assert sel1 == sel2
        assert len(sel1) / 20 >= 0.5
        assert r1.supersteps == r2.supersteps

    def test_different_seed_differs(self, webmap_edges):
        s1, _ = graph_sample(webmap_edges, target_rate=0.5, seed=1)
        s2, _ = graph_sample(webmap_edges, target_rate=0.5, seed=2)
        sel1 = {r["id"] for r in s1.collect() if r["selected"]}
        sel2 = {r["id"] for r in s2.collect() if r["selected"]}
        # sampled supersets of seeds differ with overwhelming likelihood
        assert sel1 != sel2 or len(sel1) != len(sel2)


def _points_df(spark, pts):
    schema = T.StructType(
        [
            T.StructField("pid", T.LongType(), False),
            T.StructField("features", T.ArrayType(T.DoubleType()), False),
        ]
    )
    return spark.createDataFrame(
        [(i, [float(x) for x in p]) for i, p in enumerate(pts)], schema
    )


def _kmeans_oracle(x, centers, iters):
    c = centers.copy()
    for _ in range(iters):
        d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        new = c.copy()
        for j in range(len(c)):
            m = assign == j
            if m.any():
                new[j] = x[m].mean(axis=0)
        if np.abs(new - c).sum() <= 1e-9:
            return new
        c = new
    return c


class TestIMRU:
    def test_kmeans_matches_numpy_oracle(self, spark):
        rng = np.random.RandomState(0)
        x = np.vstack(
            [rng.normal(loc, 0.3, size=(40, 3)) for loc in (0.0, 5.0, 10.0)]
        )
        df = _points_df(spark, x).repartition(4)
        res = kmeans(df, k=3, max_iterations=15)
        exp = _kmeans_oracle(x, x[:3].astype(np.float64), 15)
        assert np.allclose(np.sort(res.model, axis=0), np.sort(exp, axis=0), atol=1e-8)
        assert res.converged

    def test_bgd_learns_linear_model(self, spark):
        rng = np.random.RandomState(1)
        w_true = np.array([2.0, -3.0, 0.5])
        x = rng.normal(size=(200, 3))
        y = x @ w_true
        schema = T.StructType(
            [
                T.StructField("features", T.ArrayType(T.DoubleType()), False),
                T.StructField("label", T.DoubleType(), False),
            ]
        )
        df = spark.createDataFrame(
            [([float(v) for v in row], float(lbl)) for row, lbl in zip(x, y)], schema
        ).repartition(4)
        res = batch_gradient_descent(df, learning_rate=0.5, max_iterations=60)
        assert np.allclose(res.model, w_true, atol=1e-3)
