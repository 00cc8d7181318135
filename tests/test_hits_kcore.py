"""HITS and k-core — user programs against the public VertexProgram API
(linkgraph/examples.py), checked against brute-force Python oracles on
the webmap fixture graph. Both are beyond-reference analytics (the
reference ships no HITS/k-core job); the driver-contract SQL oracles
live in __spark_entry__ (_hits_sql / _kcore_sql) and are covered by
tests/test_contract.py at sf0.001.
"""

import collections

import pytest

from linkgraph import hits, kcore


def _edge_list(edges_df):
    return [(r.src, r.dst) for r in edges_df.collect()]


def _brute_hits(E, V, iterations):
    a = {v: 1.0 for v in V}
    h = {v: 1.0 for v in V}
    for _ in range(iterations):
        na = {v: 0.0 for v in V}
        nh = {v: 0.0 for v in V}
        for u, v in E:
            na[v] += h[u]
            nh[u] += a[v]
        a, h = na, nh
    sa, sh = sum(a.values()), sum(h.values())
    return {v: (a[v] / sa, h[v] / sh) for v in V}


def _brute_kcore(E, V, k):
    adj = collections.defaultdict(set)
    for u, v in E:
        adj[u].add(v)
        adj[v].add(u)
    alive = set(V)
    while True:
        drop = {v for v in alive if len(adj[v] & alive) < k}
        if not drop:
            break
        alive -= drop
    return {
        v: (int(v in alive), len(adj[v] & alive) if v in alive else 0)
        for v in V
    }


class TestHits:
    def test_matches_brute_force_on_webmap(self, spark, webmap_edges):
        E = _edge_list(webmap_edges)
        V = sorted({x for e in E for x in e})
        ref = _brute_hits(E, V, iterations=8)
        out, res = hits(webmap_edges, iterations=8)
        got = {r.id: (r.authority, r.hub) for r in out.collect()}
        assert set(got) == set(V)
        assert res.supersteps == 8
        for v in V:
            assert got[v][0] == pytest.approx(ref[v][0], abs=1e-9)
            assert got[v][1] == pytest.approx(ref[v][1], abs=1e-9)

    def test_scores_sum_to_one(self, spark, webmap_edges):
        out, _ = hits(webmap_edges, iterations=4)
        rows = out.collect()
        assert sum(r.authority for r in rows) == pytest.approx(1.0, abs=1e-9)
        assert sum(r.hub for r in rows) == pytest.approx(1.0, abs=1e-9)

    def test_sink_has_zero_hub(self, spark):
        # star: 0..3 -> 4; the sink has authority only, the spokes hub only
        edges = spark.createDataFrame(
            [(i, 4) for i in range(4)], "src long, dst long"
        )
        out, _ = hits(edges, iterations=3)
        got = {r.id: (r.authority, r.hub) for r in out.collect()}
        assert got[4][0] == pytest.approx(1.0)
        assert got[4][1] == pytest.approx(0.0)
        for i in range(4):
            assert got[i][0] == pytest.approx(0.0)
            assert got[i][1] == pytest.approx(0.25)


class TestKcore:
    @pytest.mark.parametrize("k", [2, 3])
    def test_matches_brute_force_on_webmap(self, spark, webmap_edges, k):
        E = _edge_list(webmap_edges)
        V = sorted({x for e in E for x in e})
        ref = _brute_kcore(E, V, k)
        out, _ = kcore(webmap_edges, k)
        got = {r.id: (r.in_core, r.core_deg) for r in out.collect()}
        assert got == ref

    def test_cascade_peels_chain(self, spark):
        # path 0-1-2-3-4 plus a triangle 5-6-7: 2-core = the triangle,
        # and the path peels one endpoint layer per superstep (the
        # delta-plan frontier is exercised across multiple supersteps)
        E = [(0, 1), (1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (5, 7)]
        edges = spark.createDataFrame(E, "src long, dst long")
        out, res = kcore(edges, 2)
        got = {r.id: (r.in_core, r.core_deg) for r in out.collect()}
        assert got == {
            0: (0, 0), 1: (0, 0), 2: (0, 0), 3: (0, 0), 4: (0, 0),
            5: (1, 2), 6: (1, 2), 7: (1, 2),
        }
        # path of length 5 needs >2 peel supersteps to drain
        assert res.supersteps >= 3

    def test_all_dead_and_all_alive(self, spark):
        tri = spark.createDataFrame(
            [(0, 1), (1, 2), (0, 2)], "src long, dst long"
        )
        dead, _ = kcore(tri, 5)
        assert all(r.in_core == 0 for r in dead.collect())
        alive, _ = kcore(tri, 2)
        assert all(r.in_core == 1 and r.core_deg == 2 for r in alive.collect())
