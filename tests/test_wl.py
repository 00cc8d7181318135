"""Weisfeiler-Lehman color refinement (algorithms/wl.py)."""

import hashlib

import pytest

from linkgraph.algorithms.wl import WL_DIGITS, wl_class_sizes, wl_refinement


def _md5_label(sig: str) -> int:
    return int(hashlib.md5(sig.encode()).hexdigest()[:WL_DIGITS], 16)


def _brute(edges, verts, rounds):
    """Pure-python replay of the portable refinement rule."""
    nbrs = {v: [] for v in verts}
    sym = {(s, d) for s, d in edges if s != d}
    sym |= {(d, s) for s, d in sym}
    for s, d in sym:
        nbrs[s].append(d)
    lab = {v: len(nbrs[v]) for v in verts}
    hist = {v: [lab[v]] for v in verts}
    for _ in range(rounds):
        nxt = {}
        for v in verts:
            nb = ",".join(str(x) for x in sorted(lab[u] for u in nbrs[v]))
            nxt[v] = _md5_label(f"{lab[v]}:{nb}")
        lab = nxt
        for v in verts:
            hist[v].append(lab[v])
    return hist


EDGES = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 0), (0, 2), (5, 6)]
VERTS = list(range(8))  # 7 isolated


class TestWL:
    def test_portable_matches_bruteforce(self, spark):
        e = spark.createDataFrame(EDGES, "src long, dst long")
        v = spark.createDataFrame([(x,) for x in VERTS], "id long")
        got = {
            r["id"]: [r[f"wl{k}"] for k in range(4)]
            for r in wl_refinement(e, rounds=3, vertices=v, portable=True).collect()
        }
        assert got == _brute(EDGES, VERTS, 3)

    def test_fast_mode_same_partition_structure(self, spark):
        """xxhash64 labels differ from md5 labels but must induce the
        IDENTICAL equivalence classes — refinement is hash-agnostic."""
        e = spark.createDataFrame(EDGES, "src long, dst long")
        v = spark.createDataFrame([(x,) for x in VERTS], "id long")

        def classes(portable):
            rows = wl_refinement(e, rounds=3, vertices=v, portable=portable).collect()
            by_label = {}
            for r in rows:
                by_label.setdefault(r["wl3"], set()).add(r["id"])
            return sorted(frozenset(s) for s in by_label.values())

        assert classes(True) == classes(False)

    def test_round0_is_degree_and_isolated_zero(self, spark):
        e = spark.createDataFrame(EDGES, "src long, dst long")
        v = spark.createDataFrame([(x,) for x in VERTS], "id long")
        got = {r["id"]: r["wl0"] for r in
               wl_refinement(e, rounds=1, vertices=v, portable=True).collect()}
        assert got[7] == 0
        assert got[0] == 3 and got[5] == 1 and got[6] == 1

    def test_separates_structural_roles(self, spark):
        # path P4: 0-1-2-3. Ends {0,3} and middles {1,2} are the two
        # structural roles; degree alone already splits them, and one
        # round must NOT merge them back.
        e = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
        got = {r["id"]: r["wl2"] for r in
               wl_refinement(e, rounds=2, portable=True).collect()}
        assert got[0] == got[3] and got[1] == got[2]
        assert got[0] != got[1]

    def test_class_sizes(self, spark):
        e = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
        labels = wl_refinement(e, rounds=2, portable=True)
        sizes = sorted(
            r["class_size"] for r in wl_class_sizes(labels, "wl2").collect()
        )
        assert sizes == [2, 2]

    def test_rejects_zero_rounds(self, spark):
        e = spark.createDataFrame([(0, 1)], "src long, dst long")
        with pytest.raises(ValueError):
            wl_refinement(e, rounds=0)

    def test_frees_superseded_rounds(self, spark):
        from linkgraph.superstep import release_local_checkpoint

        jsc = spark.sparkContext._jsc
        e = spark.createDataFrame(EDGES, "src long, dst long")
        before = set(jsc.getPersistentRDDs().keys())
        out = wl_refinement(e, rounds=4, num_partitions=2)
        # only the result's snapshot stays held
        assert len(set(jsc.getPersistentRDDs().keys()) - before) == 1
        assert out.count() == len({v for ed in EDGES for v in ed})
        release_local_checkpoint(out)
