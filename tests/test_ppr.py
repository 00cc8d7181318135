"""Personalized PageRank — a user program against the public
VertexProgram API (linkgraph/examples.py), checked against a
brute-force Python oracle on the webmap fixture graph. The
driver-contract SQL oracle lives in __spark_entry__ (_ppr_sql) and is
covered by tests/test_contract.py at sf0.001.
"""

import pytest

from linkgraph import personalized_pagerank


def _edge_list(edges_df):
    return [(r.src, r.dst) for r in edges_df.collect()]


def _brute_ppr(E, V, sources, updates, d=0.85):
    outdeg = {}
    for u, _ in E:
        outdeg[u] = outdeg.get(u, 0) + 1
    prior = {v: (1.0 / len(sources) if v in sources else 0.0) for v in V}
    r = dict(prior)
    for _ in range(updates):
        msg = {v: 0.0 for v in V}
        for u, v in E:
            msg[v] += r[u] / outdeg[u]
        r = {v: (1 - d) * prior[v] + d * msg[v] for v in V}
    return r


class TestPersonalizedPagerank:
    def test_matches_brute_force_on_webmap(self, spark, webmap_edges):
        E = _edge_list(webmap_edges)
        V = sorted({x for e in E for x in e})
        sources = [0, 5]
        ref = _brute_ppr(E, V, set(sources), updates=6)
        out, res = personalized_pagerank(webmap_edges, sources, fixed_updates=6)
        got = {r.id: r["rank"] for r in out.collect()}
        assert set(got) == set(V)
        assert res.supersteps == 6
        for v in V:
            assert got[v] == pytest.approx(ref[v], abs=1e-12)

    def test_mass_concentrates_on_seeds(self, spark, webmap_edges):
        out, _ = personalized_pagerank(webmap_edges, [0], fixed_updates=8)
        ranks = {r.id: r["rank"] for r in out.collect()}
        # the seed keeps the full teleport mass; a vertex with no path
        # from the seed and no seed membership decays toward 0
        assert ranks[0] > 0.1
        assert max(ranks, key=ranks.get) in ranks

    def test_empty_sources_rejected(self, webmap_edges):
        with pytest.raises(ValueError):
            personalized_pagerank(webmap_edges, [])
