"""Source-sampled Brandes betweenness (algorithms/betweenness.py):
the integer micro-unit accumulators match an exact Python replay of
the quantized backward pass, and estimates track float Brandes."""

import random
from collections import defaultdict, deque

from linkgraph.algorithms.betweenness import UNIT, betweenness_centrality


def _replay_units(edges, sources, max_depth):
    """Exact replay: BFS DAG + per-term-quantized dependency sums."""
    nbrs = defaultdict(set)
    for s, d in edges:
        if s != d:
            nbrs[s].add(d)
            nbrs[d].add(s)
    bc = defaultdict(int)
    for s in sources:
        dist = {s: 0}
        sigma = {s: 1}
        levels = defaultdict(list)
        levels[0] = [s]
        q = deque([s])
        while q:
            u = q.popleft()
            if dist[u] >= max_depth:
                continue
            for w in sorted(nbrs[u]):
                if w not in dist:
                    dist[w] = dist[u] + 1
                    levels[dist[w]].append(w)
                    q.append(w)
                if dist[w] == dist[u] + 1:
                    sigma[w] = sigma.get(w, 0) + sigma[u]
        depth = max(levels) if levels else 0
        du = {v: 0 for v in levels[depth]}
        for d in range(depth, 0, -1):
            nxt = {}
            for u in levels[d - 1]:
                tot = 0
                for w in nbrs[u]:
                    if dist.get(w) == d and w in du:
                        x = sigma[u] * float(UNIT + du[w]) / sigma[w]
                        # round-half-away-from-zero on a positive double,
                        # matching Spark/DuckDB ROUND(x, 0)
                        import math

                        tot += math.floor(x + 0.5)
                nxt[u] = tot
            for v, d_u in du.items():
                if dist[v] >= 1:
                    bc[v] += d_u
            du = nxt
        for v, d_u in du.items():
            if dist[v] >= 1:
                bc[v] += d_u
    return dict(bc)


def _float_brandes(edges, sources):
    nbrs = defaultdict(set)
    for s, d in edges:
        if s != d:
            nbrs[s].add(d)
            nbrs[d].add(s)
    bc = defaultdict(float)
    for s in sources:
        dist = {s: 0}
        sigma = {s: 1.0}
        order = [s]
        q = deque([s])
        while q:
            u = q.popleft()
            for w in nbrs[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    order.append(w)
                    q.append(w)
                if dist[w] == dist[u] + 1:
                    sigma[w] = sigma.get(w, 0.0) + sigma[u]
        delta = defaultdict(float)
        for w in reversed(order):
            for u in nbrs[w]:
                if dist.get(u) == dist[w] - 1:
                    delta[u] += sigma[u] / sigma[w] * (1.0 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return bc


class TestBetweenness:
    def test_matches_quantized_replay(self, spark):
        rng = random.Random(5)
        edges = list({(rng.randrange(30), rng.randrange(30)) for _ in range(60)})
        sources = [0, 3, 7]
        e = spark.createDataFrame(edges, "src long, dst long")
        out, res = betweenness_centrality(e, sources, max_depth=10)
        assert res.converged
        got = {r["id"]: r["betweenness_units"] for r in out.collect()}
        want = _replay_units(edges, sources, 10)
        verts = {v for ed in edges for v in ed}
        for v in verts:
            assert got.get(v, 0) == want.get(v, 0), v

    def test_tracks_float_brandes(self, spark):
        rng = random.Random(17)
        edges = list({(rng.randrange(40), rng.randrange(40)) for _ in range(90)})
        sources = [1, 2, 5, 8]
        e = spark.createDataFrame(edges, "src long, dst long")
        out, res = betweenness_centrality(e, sources, max_depth=12)
        assert res.converged
        got = {r["id"]: r["betweenness_est"] for r in out.collect()}
        want = _float_brandes(edges, sources)
        for v, w in want.items():
            # per-term quantization error <= 0.5e-6 per DAG edge
            assert abs(got.get(v, 0.0) - w) < 1e-3, (v, got.get(v), w)

    def test_path_graph_center(self, spark):
        # path 0-1-2-3-4, all vertices as sources: center carries the
        # most pairs; endpoints carry none
        edges = [(0, 1), (1, 2), (2, 3), (3, 4)]
        e = spark.createDataFrame(edges, "src long, dst long")
        out, res = betweenness_centrality(e, [0, 1, 2, 3, 4])
        assert res.converged
        got = {r["id"]: r["betweenness_est"] for r in out.collect()}
        # exact undirected betweenness (counted from both endpoints):
        # v1: pairs (0,2),(0,3),(0,4) -> 3 each direction = 6... per
        # Brandes sum-over-sources: delta contributions = 2 * (#pairs
        # through v). v1 and v3 sit on 3 pairs, v2 on 4.
        assert abs(got[1] - 6.0) < 1e-3
        assert abs(got[2] - 8.0) < 1e-3
        assert abs(got[3] - 6.0) < 1e-3
        assert got[0] == 0.0 and got[4] == 0.0

    def test_truncation_reports_not_converged(self, spark):
        edges = [(i, i + 1) for i in range(6)]
        e = spark.createDataFrame(edges, "src long, dst long")
        out, res = betweenness_centrality(e, [0], max_depth=3)
        assert not res.converged

    def test_backward_pass_reads_cached_adjacency(self, spark, webmap_edges, monkeypatch):
        """History numbers run on from the forward pass into the backward
        one, and each backward level joins the cached adjacency: 4
        exchanges (rebuilding the symmetrized adjacency costs 6)."""
        import importlib

        import linkgraph.superstep as superstep
        from tests.test_superstep_jobs import _loop_shape

        real = superstep.local_checkpoint_fresh_stats
        shapes = []

        def recording(df, *args, **kwargs):
            shapes.append(_loop_shape(df._jdf.queryExecution().executedPlan()))
            return real(df, *args, **kwargs)

        monkeypatch.setattr(superstep, "local_checkpoint_fresh_stats", recording)
        monkeypatch.setattr(
            importlib.import_module("linkgraph.algorithms.betweenness"),
            "local_checkpoint_fresh_stats",
            recording,
            raising=False,
        )
        _, res = betweenness_centrality(webmap_edges, [0, 3], num_partitions=2)
        assert [m.superstep for m in res.history] == list(range(1, 10))
        # 4 DAG levels from [0, 3]: 5 forward rounds, then 4 backward
        assert len(shapes) == 9
        assert [ex for ex, _ in shapes[5:]] == [4] * 4
