"""The default-config superstep runs exactly ONE SQL execution.

Message counts ride the materialization job as observed metrics (the
transient ``_msgs`` state column summed by the loop's single
Observation) — the reference likewise computes its per-superstep
aggregates inside the superstep dataflow rather than with extra passes
(SURVEY.md §3.4). No superstep launches a job beyond the eager
localCheckpoint: the loop runs no histogram pass of its own (the
checkpoint's ``_meta`` record takes its skew from the saved snapshot).

"One pass" is measured as SQL executions, not raw Spark jobs: a single
query can legally submit extra jobs for future-executed stages
(broadcast exchanges under the toy-scale auto-broadcast threshold), but
each execution is one scan of the data. Executions are attributed via
the job description that setJobGroup installs.
"""

import importlib
import re

import pytest
from pyspark.sql import functions as F


def _sql_executions(spark, group):
    """SQL executions whose job description matches ``group``."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    return sum(
        1 for i in range(execs.size()) if execs.apply(i).description() == group
    )


def _in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setJobGroup("", "")


def _execs_in(spark, group, fn):
    """Run fn under a job group; return (result, n_sql_executions)."""
    out = _in_group(spark, group, fn)
    return out, _sql_executions(spark, group)


def _jobs_in(spark, group, fn):
    """Run fn under a job group; return (result, n_spark_jobs)."""
    out = _in_group(spark, group, fn)
    return out, len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_pagerank_superstep_is_one_pass(spark, webmap_edges):
    from linkgraph import pagerank
    from linkgraph.graph import vertices_from_edges

    edges = webmap_edges
    verts = vertices_from_edges(edges).cache()
    n = verts.count()
    edges.count()  # warm the edge cache outside the measured group

    def run(updates):
        return _execs_in(
            spark,
            f"pr-{updates}-updates",
            lambda: pagerank(
                edges,
                fixed_updates=updates,
                vertices=verts,
                num_partitions=2,
                num_vertices=n,
            ),
        )

    # fixed per-run overhead (adjacency materialization) cancels in the
    # difference; every extra superstep must cost exactly one extra
    # pass, also across superstep 8
    try:
        for few, more in ((3, 6), (7, 9)):
            _, execs_few = run(few)
            (_, res), execs_more = run(more)
            assert execs_more - execs_few == more - few, (few, more, execs_few, execs_more)
            # and the observed message counts are still populated every superstep
            assert all(m.messages is not None and m.messages > 0 for m in res.history)
    finally:
        # a cached vertex frame would change later tests' plans: the
        # cache manager substitutes it for any equal plan
        verts.unpersist()


def test_skew_histogram_is_sampled(spark, webmap_edges):
    from linkgraph import pagerank
    from linkgraph.graph import vertices_from_edges

    verts = vertices_from_edges(webmap_edges)
    n = verts.count()
    _, res = pagerank(
        webmap_edges,
        fixed_updates=5,
        vertices=verts,
        num_partitions=2,
        num_vertices=n,
    )
    # the loop computes no histogram; only CheckpointManager.save fills
    # the skew ratio of a committed snapshot
    assert all(m.skew_ratio is None for m in res.history)


def _plan_string_shape(plan):
    """(Exchange, BroadcastExchange) counts in the printed plan."""
    text = plan.toString()
    return len(re.findall(r"\bExchange\b", text)), text.count("BroadcastExchange")


def _loop_shape(plan):
    """(Exchange, BroadcastExchange) counts in the plan tree proper. The
    build plan of a cached frame hangs off its InMemoryTableScan as an
    inner child, not a child, so the one-time adjacency build is not
    counted; the printed plan repeats it inside every superstep."""
    name = plan.nodeName()
    ex, bx = int(name == "Exchange"), int(name == "BroadcastExchange")
    children = plan.children()
    for i in range(children.size()):
        e, b = _loop_shape(children.apply(i))
        ex, bx = ex + e, bx + b
    return ex, bx


def _record_plan_shapes(monkeypatch, module_name, shape=_plan_string_shape):
    """Patch ``iterate`` as seen by an algorithm module so every superstep
    records ``shape`` of its state's executed plan."""
    module = importlib.import_module(module_name)
    iterate = module.iterate
    shapes = []

    def recording_iterate(init, superstep_fn, *args, **kwargs):
        def step(state, k):
            new = superstep_fn(state, k)
            shapes.append(shape(new._jdf.queryExecution().executedPlan()))
            return new

        return iterate(init, step, *args, **kwargs)

    monkeypatch.setattr(module, "iterate", recording_iterate)
    return shapes


@pytest.mark.parametrize("algo", ["pagerank", "cc"])
def test_checkpoint_keeps_superstep_plan(spark, webmap_edges, tmp_path, monkeypatch, algo):
    """A durable checkpoint is a side output of the loop: under
    CheckpointManager(every=1) every superstep plans the same exchanges
    as without one (no re-shuffle or broadcast of a re-read state), and
    each save costs exactly its own two jobs — the parquet write and the
    partition histogram, both under the caller's job group."""
    from linkgraph import CheckpointManager, connected_components, pagerank

    if algo == "pagerank":
        module = "linkgraph.algorithms.pagerank"

        def run(ck):
            return pagerank(webmap_edges, fixed_updates=4, num_partitions=2, ckpt=ck)
    else:
        module = "linkgraph.algorithms.cc"

        def run(ck):
            return connected_components(webmap_edges, num_partitions=2, ckpt=ck)

    webmap_edges.count()  # warm the edge cache outside the measured groups
    shapes = _record_plan_shapes(monkeypatch, module)
    (_, plain), plain_jobs = _jobs_in(spark, f"{algo}-no-ckpt", lambda: run(None))
    plain_shapes = list(shapes)
    shapes.clear()
    ck = CheckpointManager(spark, str(tmp_path / algo), every=1)
    (_, res), ckpt_jobs = _jobs_in(spark, f"{algo}-ckpt-every-1", lambda: run(ck))

    assert res.supersteps == plain.supersteps >= 3
    assert shapes == plain_shapes
    saves = len(ck.committed_supersteps())
    assert saves == res.supersteps
    assert ckpt_jobs - plain_jobs == 2 * saves, (plain_jobs, ckpt_jobs)


# Per-superstep (Exchange, BroadcastExchange) counts outside cached build
# plans, recorded on the webmap fixture (p=2) with the hand-written loops
# these algorithms had before they became VertexPrograms: one message
# combine exchange per superstep; the toy-sized cached adjacency (and, in
# superstep 1, the persisted initial state) is broadcast.
_PORTED_SHAPES = {
    "sssp": [(1, 2)] + [(1, 1)] * 19,
    "sssp_weighted": [(1, 2)] + [(1, 1)] * 19,
    "reachability": [(1, 2)] + [(1, 1)] * 5,
    "katz": [(1, 2), (1, 1), (1, 1)],
    "eigenvector": [(1, 2), (1, 1), (1, 1)],
}


@pytest.mark.parametrize("algo", sorted(_PORTED_SHAPES))
def test_vertex_program_ports_keep_superstep_plan(spark, webmap_edges, monkeypatch, algo):
    from linkgraph import (
        eigenvector_centrality,
        katz_centrality,
        reachability,
        shortest_paths,
    )

    weighted = webmap_edges.withColumn("w", (F.col("src") % 3 + 1).cast("double"))
    run = {
        "sssp": lambda: shortest_paths(webmap_edges, 0, num_partitions=2),
        "sssp_weighted": lambda: shortest_paths(
            weighted, 0, weight_col="w", num_partitions=2
        ),
        "reachability": lambda: reachability(webmap_edges, 1, 15, num_partitions=2),
        "katz": lambda: katz_centrality(webmap_edges, fixed_updates=3, num_partitions=2),
        "eigenvector": lambda: eigenvector_centrality(
            webmap_edges, updates=3, num_partitions=2
        ),
    }[algo]
    shapes = _record_plan_shapes(monkeypatch, "linkgraph.vertex_program", _loop_shape)
    run()
    assert shapes == _PORTED_SHAPES[algo]


# Per-round shapes of the loops that moved onto iterate, on the webmap
# fixture (p=2), recorded from the hand-written loops before the move.
# Three differ on purpose: hash-min round 1 reads its initial edge set
# from a cached frame, not a checkpoint ((5, 3) before); the betweenness
# backward levels read the cached adjacency again ((6, 1) before, when
# they rebuilt it); WL now plans with AQE off (under AQE the counts sat
# inside an adaptive plan, (0, 0)).
_ROUND_LOOP_SHAPES = {
    "anf": ("linkgraph.algorithms.anf", [(1, 2)] + [(1, 1)] * 3),
    "ball": ("linkgraph.algorithms.anf", [(1, 2)] + [(1, 1)] * 3),
    "coreness": ("linkgraph.algorithms.coreness", [(1, 2), (2, 2)]),
    "betweenness": (
        "linkgraph.algorithms.betweenness",
        [(2, 1)] * 5 + [(4, 1)] * 4,
    ),
    "ktruss": ("linkgraph.algorithms.ktruss", [(1, 3), (4, 0)]),
    "hashmin": ("linkgraph.algorithms.cc", [(2, 1), (8, 0), (8, 0)]),
    "wl": ("linkgraph.algorithms.wl", [(1, 2), (1, 1), (1, 1)]),
}


@pytest.mark.parametrize("loop", sorted(_ROUND_LOOP_SHAPES))
def test_round_loop_ports_keep_superstep_plan(spark, webmap_edges, monkeypatch, loop):
    from tests.test_loop_scope import _run_round_loop

    module, want = _ROUND_LOOP_SHAPES[loop]
    shapes = _record_plan_shapes(monkeypatch, module, _loop_shape)
    _run_round_loop(loop, webmap_edges)
    assert shapes == want


def test_cc_initial_state_reads_the_cached_adjacency(spark, webmap_edges, monkeypatch):
    """On symmetrized edges CC's vertex frame and superstep-1 labels are
    one aggregate over the cached adjacency, which is hash-partitioned
    on ``src``: the initial state plans no exchange (it re-symmetrized
    and re-grouped the edges before: 2 exchanges on webmap at p=2)."""
    from linkgraph import connected_components
    from linkgraph.superstep import iteration_conf

    module = importlib.import_module("linkgraph.algorithms.cc")
    iterate = module.iterate
    init_shapes = []

    def recording_iterate(init, superstep_fn, *args, **kwargs):
        with iteration_conf(spark, 2):
            init_shapes.append(_loop_shape(init._jdf.queryExecution().executedPlan()))
        return iterate(init, superstep_fn, *args, **kwargs)

    monkeypatch.setattr(module, "iterate", recording_iterate)
    labels, _ = connected_components(webmap_edges, num_partitions=2)
    assert init_shapes[0][0] == 0
    assert labels.count() == 20
