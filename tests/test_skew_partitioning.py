"""Hub-skew salting (the reference's SkewTest analogue: a vertex with a
multi-thousand-entry adjacency, data/skew/data.txt) and partitioning
helpers."""

import pytest
from pyspark.sql import functions as F

from linkgraph import build_adjacency, pagerank, symmetrize
from linkgraph.partitioning import out_degrees, skew_ratio
from linkgraph.synth import edges_df, synth_code_files
from linkgraph import derive_graph


@pytest.fixture(scope="module")
def hub_edges(spark):
    # one hub (0) pointing at 500 vertices + a sparse ring
    edges = [(0, i) for i in range(1, 501)] + [(i, (i % 500) + 1) for i in range(1, 501)]
    return edges_df(spark, edges).cache()


class TestSalting:
    def test_hub_adjacency_is_chunked(self, hub_edges):
        adj = build_adjacency(hub_edges, chunk_size=64)
        hub_rows = adj.filter("src = 0").collect()
        assert len(hub_rows) == 8  # ceil(500/64)
        assert sum(len(r["dsts"]) for r in hub_rows) == 500
        # outdeg on every chunk is the TOTAL degree (rank mass invariant)
        assert all(r["outdeg"] == 500 for r in hub_rows)

    def test_small_vertices_single_chunk(self, hub_edges):
        adj = build_adjacency(hub_edges, chunk_size=64)
        assert adj.filter("src = 5").count() == 1

    def test_pagerank_identical_with_and_without_salting(self, hub_edges):
        a, _ = pagerank(hub_edges, fixed_updates=4, chunk_size=1 << 20)
        b, _ = pagerank(hub_edges, fixed_updates=4, chunk_size=32)
        j = a.withColumnRenamed("rank", "ra").join(b, "id")
        mx = j.agg(F.max(F.abs(F.col("rank") - F.col("ra")))).first()[0]
        assert mx < 1e-12

    def test_skew_ratio_metric(self, hub_edges):
        assert skew_ratio(hub_edges, "src") > 100  # hub dominates
        ring = hub_edges.filter("src != 0")
        assert skew_ratio(ring, "src") == pytest.approx(1.0)


class TestPartitioning:
    def test_symmetrize_dedups_and_mirrors(self, spark):
        e = edges_df(spark, [(1, 2), (2, 1), (2, 3)])
        got = {(r["src"], r["dst"]) for r in symmetrize(e).collect()}
        assert got == {(1, 2), (2, 1), (2, 3), (3, 2)}

    def test_out_degrees(self, hub_edges):
        degs = {r["src"]: r["outdeg"] for r in out_degrees(hub_edges).collect()}
        assert degs[0] == 500 and degs[1] == 1

    def test_adjacency_copartitioned_with_ranks(self, spark, hub_edges):
        """The superstep join must not re-shuffle the cached adjacency:
        adjacency is hash-partitioned on src at build time."""
        adj = build_adjacency(hub_edges, num_partitions=8)
        plan = adj._jdf.queryExecution().optimizedPlan().toString()
        assert "RepartitionByExpression [src" in plan

    def test_adjacency_build_is_one_shuffle(self, spark, hub_edges):
        """The groupBy(src) that collects each list also counts outdeg
        and leaves the frame hash-partitioned on src, so under the loop
        conf neither the degree nor the trailing repartition adds an
        exchange (the separate degree aggregate, its broadcast join and the
        (src, salt) regroup planned 2 exchanges here)."""
        import re

        from linkgraph.superstep import iteration_conf

        with iteration_conf(spark, 2):
            adj = build_adjacency(hub_edges, num_partitions=2, chunk_size=64)
            plan = adj._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"\bExchange\b", plan)) == 1

    def test_derived_graph_runs_all_algorithms(self, spark):
        from linkgraph import connected_components, label_propagation, triangle_total

        code = synth_code_files(spark, n_repos=10, files_per_repo=6, seed=7)
        _, edges = derive_graph(code)
        comp, _ = connected_components(edges)
        labels, _ = label_propagation(edges, max_supersteps=5)
        assert comp.count() == labels.count() > 0
        assert triangle_total(edges) >= 0
