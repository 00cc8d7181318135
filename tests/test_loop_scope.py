"""The shared loop prologue (``superstep.loop_scope``) and the loop's
loud failure modes: cached loop-invariant frames and round state are
freed when a superstep or round raises, and the py4j fast paths warn
instead of falling back silently."""

import importlib
import warnings

import pytest

from linkgraph.superstep import (
    local_checkpoint_fresh_stats,
    loop_scope,
    release_local_checkpoint,
)


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_scope_partitions_and_frees_on_error(spark, webmap_edges):
    from linkgraph.graph import choose_partitions

    webmap_edges.count()
    before = _persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="inside the scope"):
        with loop_scope(webmap_edges, scale=2) as scope:
            assert scope.p == choose_partitions(webmap_edges, 2 * webmap_edges.count())
            adj = scope.cache(webmap_edges.repartition(scope.p, "src"))
            assert adj.storageLevel.useMemory
            assert _persistent_rdds(spark) - before
            verts = scope.vertices()
            assert sorted(r["id"] for r in verts.collect()) == list(range(20))
            raise RuntimeError("inside the scope")
    assert _persistent_rdds(spark) <= before


def _run_pagerank(edges):
    from linkgraph import pagerank

    return pagerank(edges, fixed_updates=4, num_partitions=2)


def _run_cc(edges):
    from linkgraph import connected_components

    return connected_components(edges, num_partitions=2)


def _run_vertex_program(edges):
    from linkgraph import katz_centrality

    return katz_centrality(edges, fixed_updates=4, num_partitions=2)


@pytest.mark.parametrize(
    "module_name, run",
    [
        ("linkgraph.algorithms.pagerank", _run_pagerank),
        ("linkgraph.algorithms.cc", _run_cc),
        ("linkgraph.vertex_program", _run_vertex_program),
    ],
    ids=["pagerank", "cc", "run_vertex_program"],
)
def test_failed_superstep_leaves_no_cached_frame(
    spark, webmap_edges, monkeypatch, module_name, run
):
    """A superstep that raises at k=2 must not leak the cached adjacency
    (nor the loop state) into executor storage."""
    module = importlib.import_module(module_name)
    real_iterate = module.iterate

    def failing_iterate(init, superstep_fn, *args, **kwargs):
        def step(state, k):
            if k == 2:
                raise RuntimeError("injected superstep failure")
            return superstep_fn(state, k)

        return real_iterate(init, step, *args, **kwargs)

    monkeypatch.setattr(module, "iterate", failing_iterate)
    webmap_edges.count()  # cached before the persistent-RDD baseline
    before = _persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="injected superstep failure"):
        run(webmap_edges)
    assert _persistent_rdds(spark) <= before


def _run_round_loop(name, edges):
    from linkgraph.algorithms.anf import harmonic_centrality, neighborhood_function
    from linkgraph.algorithms.betweenness import betweenness_centrality
    from linkgraph.algorithms.cc import connected_components_hashmin
    from linkgraph.algorithms.coreness import core_decomposition
    from linkgraph.algorithms.ktruss import ktruss
    from linkgraph.algorithms.landmarks import landmark_distances
    from linkgraph.algorithms.louvain import (
        greedy_modularity_communities,
        louvain_multilevel,
    )
    from linkgraph.algorithms.matching import maximal_matching
    from linkgraph.algorithms.msf import minimum_spanning_forest
    from linkgraph.algorithms.scc import strongly_connected_components
    from linkgraph.algorithms.walks import node2vec_walks, random_walks
    from linkgraph.algorithms.wl import wl_refinement

    return {
        "anf": lambda: neighborhood_function(edges, num_maps=4, max_h=4, num_partitions=2),
        "ball": lambda: harmonic_centrality(edges, num_maps=4, max_h=4, num_partitions=2),
        "coreness": lambda: core_decomposition(edges, num_partitions=2),
        "betweenness": lambda: betweenness_centrality(edges, [0, 3], num_partitions=2),
        "ktruss": lambda: ktruss(edges, 3, num_partitions=2),
        "hashmin": lambda: connected_components_hashmin(edges, num_partitions=2),
        "wl": lambda: wl_refinement(edges, rounds=3, num_partitions=2),
        "scc": lambda: strongly_connected_components(edges, num_partitions=2),
        "walks": lambda: random_walks(edges, walk_length=4, num_partitions=2),
        "node2vec": lambda: node2vec_walks(edges, walk_length=4, num_partitions=2),
        "landmarks": lambda: landmark_distances(edges, num_partitions=2),
        "msf": lambda: minimum_spanning_forest(edges, num_partitions=2),
        "louvain": lambda: greedy_modularity_communities(edges, num_partitions=2),
        "louvain_multilevel": lambda: louvain_multilevel(edges, num_partitions=2),
        "matching": lambda: maximal_matching(edges, num_partitions=2),
    }[name]()


@pytest.mark.parametrize(
    "module_name, loop, fail_at",
    [
        ("linkgraph.algorithms.anf", "anf", 2),
        ("linkgraph.algorithms.anf", "ball", 2),
        ("linkgraph.algorithms.coreness", "coreness", 2),
        ("linkgraph.algorithms.betweenness", "betweenness", 2),
        # the forward pass from [0, 3] on webmap takes 5 rounds, so the
        # 7th round is the backward pass's second level
        ("linkgraph.algorithms.betweenness", "betweenness", 7),
        ("linkgraph.algorithms.ktruss", "ktruss", 2),
        ("linkgraph.algorithms.cc", "hashmin", 2),
        ("linkgraph.algorithms.wl", "wl", 2),
        # loops that hold frames outside iterate: scc's round frames, the
        # walks' retained corpus frames
        ("linkgraph.algorithms.scc", "scc", 2),
        ("linkgraph.algorithms.walks", "walks", 2),
        ("linkgraph.algorithms.walks", "node2vec", 2),
        # landmarks and msf hold several frames per level/round; the 3rd
        # materialization fails msf after its first picked edges exist
        ("linkgraph.algorithms.landmarks", "landmarks", 2),
        ("linkgraph.algorithms.msf", "msf", 3),
        # the 3rd fails greedy louvain inside its first move round
        ("linkgraph.algorithms.louvain", "louvain", 3),
        ("linkgraph.algorithms.louvain", "louvain_multilevel", 2),
        ("linkgraph.algorithms.matching", "matching", 2),
    ],
    ids=[
        "anf",
        "ball",
        "coreness",
        "betweenness_forward",
        "betweenness_backward",
        "ktruss",
        "hashmin",
        "wl",
        "scc",
        "walks",
        "node2vec",
        "landmarks",
        "msf",
        "louvain",
        "louvain_multilevel",
        "matching",
    ],
)
def test_failed_round_leaves_no_loop_state(
    spark, webmap_edges, monkeypatch, module_name, loop, fail_at
):
    """A round that raises must free the round state (and every other
    frame the loop holds). The failure is injected into the round's
    materialization, wherever the module resolves it from."""
    import linkgraph.superstep as superstep

    real = superstep.local_checkpoint_fresh_stats
    calls = []

    def failing(df, *args, **kwargs):
        calls.append(1)
        if len(calls) == fail_at:
            raise RuntimeError("injected round failure")
        return real(df, *args, **kwargs)

    monkeypatch.setattr(superstep, "local_checkpoint_fresh_stats", failing)
    monkeypatch.setattr(
        importlib.import_module(module_name),
        "local_checkpoint_fresh_stats",
        failing,
        raising=False,
    )
    webmap_edges.count()  # cached before the persistent-RDD baseline
    before = _persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="injected round failure"):
        _run_round_loop(loop, webmap_edges)
    assert _persistent_rdds(spark) <= before


@pytest.mark.parametrize("loop", ["landmarks", "msf"])
def test_finished_round_loop_holds_only_its_result(spark, webmap_edges, loop):
    """A successful call keeps only the frames its result reads: one per
    non-empty landmark level, one per Boruvka round."""
    webmap_edges.count()  # cached before the persistent-RDD baseline
    before = _persistent_rdds(spark)
    out, meta = _run_round_loop(loop, webmap_edges)
    held = _persistent_rdds(spark) - before
    frames = out.select("dist").distinct().count() if loop == "landmarks" else meta
    assert 0 < len(held) <= frames, (held, frames)
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in held:
        rdds.get(rid).unpersist(False)


def _analyzed(df):
    return df._jdf.queryExecution().analyzed()


def _has_origin_stats(df):
    """Without origin stats a LogicalRDD estimates as the session's
    ``spark.sql.defaultSizeInBytes``; with them, as its origin plan."""
    spark = df.sparkSession
    default = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
    return _analyzed(df).stats().sizeInBytes() != default


def test_fresh_stats_fast_path_runs(spark, webmap_edges):
    """On the installed Spark the LogicalRDD is rebuilt without the
    origin plan's statistics, and nothing warns."""
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        out = local_checkpoint_fresh_stats(webmap_edges.select("src", "dst"))
        assert _analyzed(out).getClass().getSimpleName() == "LogicalRDD"
        assert not _has_origin_stats(out)
        release_local_checkpoint(out)
    # the plain checkpoint carries them, so the assertion above has teeth
    plain = webmap_edges.select("src", "dst").localCheckpoint()
    assert _has_origin_stats(plain)
    release_local_checkpoint(plain)


def test_fresh_stats_failure_warns_and_keeps_frame(spark, webmap_edges, monkeypatch):
    import linkgraph.superstep as superstep

    def broken_dataframe(*args, **kwargs):
        raise RuntimeError("injected LogicalRDD rebuild failure")

    monkeypatch.setattr(superstep, "DataFrame", broken_dataframe)
    with pytest.warns(RuntimeWarning, match="injected LogicalRDD rebuild failure"):
        out = local_checkpoint_fresh_stats(webmap_edges.select("src", "dst"))
    assert _analyzed(out).getClass().getSimpleName() == "LogicalRDD"
    assert _has_origin_stats(out)
    assert out.count() == webmap_edges.count()


def test_release_failure_warns(spark):
    class NotAFrame:
        @property
        def _jdf(self):
            raise RuntimeError("injected release failure")

    with pytest.warns(RuntimeWarning, match="injected release failure"):
        release_local_checkpoint(NotAFrame())
