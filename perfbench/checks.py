"""Oracle checks for the benchmark's workloads, in numpy.

The input edges are read straight from the generated parquet with
pyarrow, so the oracle shares nothing with the engine under test. Each
check returns ``None`` when the engine's answer is right and a one-line
reason when it is not; the caller counts the latter as a failed
repetition.

- PageRank follows ``tests/oracles.py::pagerank_oracle``: every vertex
  starts at 1/N, an update is ``(1-d)/N + d * sum(rank/outdeg)``, and
  dangling mass is dropped. Ranks are compared scaled by the vertex
  count N (so the mean rank is about 1 at any graph size) and must match
  per vertex within 1e-6: an absolute 1e-6 on unscaled ranks would let
  a 20% error pass on a graph whose mean rank is 5e-6.
- Connected components are true undirected components labelled by
  their minimum vertex id, matched exactly.
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq

RANK_ATOL = 1e-6  # on rank * N


class Graph:
    """The edge list of one generated input, with ids in ``0..n-1``."""

    def __init__(self, path: str):
        table = pq.read_table(path, columns=["src", "dst"])
        self.src = table.column("src").to_numpy().astype(np.int64)
        self.dst = table.column("dst").to_numpy().astype(np.int64)
        self.num_edges = len(self.src)
        self.n = int(max(self.src.max(), self.dst.max())) + 1
        self.present = np.zeros(self.n, dtype=bool)
        self.present[self.src] = True
        self.present[self.dst] = True
        self.num_vertices = int(self.present.sum())
        self._ranks: dict[int, np.ndarray] = {}
        self._labels: np.ndarray | None = None

    def pagerank(self, updates: int, damping: float = 0.85) -> np.ndarray:
        """Ranks indexed by id after ``updates`` updates."""
        if updates not in self._ranks:
            n_v = self.num_vertices
            outdeg = np.bincount(self.src, minlength=self.n).astype(np.float64)
            r = np.where(self.present, 1.0 / n_v, 0.0)
            for _ in range(updates):
                contrib = r[self.src] / outdeg[self.src]
                r = (1.0 - damping) / n_v + damping * np.bincount(
                    self.dst, weights=contrib, minlength=self.n
                )
                r[~self.present] = 0.0
            self._ranks[updates] = r
        return self._ranks[updates]

    def components(self) -> np.ndarray:
        """Minimum-id component label per id (undirected)."""
        if self._labels is None:
            label = np.arange(self.n, dtype=np.int64)
            while True:
                before = label.copy()
                low = np.minimum(label[self.src], label[self.dst])
                np.minimum.at(label, self.src, low)
                np.minimum.at(label, self.dst, low)
                while True:  # pointer jumping
                    jumped = label[label]
                    if np.array_equal(jumped, label):
                        break
                    label = jumped
                if np.array_equal(before, label):
                    break
            self._labels = label
        return self._labels


def _by_id(g: Graph, ids: np.ndarray, values: np.ndarray, what: str):
    ids = ids.astype(np.int64)
    if len(ids) != g.num_vertices or len(np.unique(ids)) != len(ids):
        return None, f"{what}: {len(ids)} rows for {g.num_vertices} vertices"
    if ids.min() < 0 or ids.max() >= g.n or not g.present[ids].all():
        return None, f"{what}: ids outside the input's vertex set"
    out = np.zeros(g.n, dtype=values.dtype)
    out[ids] = values
    return out, None


def check_pagerank(g: Graph, ids, ranks, updates: int) -> str | None:
    got, err = _by_id(g, np.asarray(ids), np.asarray(ranks, dtype=np.float64), "pagerank")
    if err:
        return err
    want = g.pagerank(updates)
    err_max = float(np.abs(got - want)[g.present].max()) * g.num_vertices
    if err_max > RANK_ATOL:
        return f"pagerank: max per-vertex error (rank * N) {err_max:.3g} > {RANK_ATOL}"
    return None


def check_components(g: Graph, ids, labels) -> str | None:
    got, err = _by_id(g, np.asarray(ids), np.asarray(labels, dtype=np.int64), "cc")
    if err:
        return err
    wrong = int((got != g.components())[g.present].sum())
    if wrong:
        return f"cc: {wrong} vertices carry a wrong label"
    return None
