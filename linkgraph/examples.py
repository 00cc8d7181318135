"""Algorithms written against the PUBLIC VertexProgram API only.

These are the "user programs" of the engine — the analogue of the
reference's pregelix-example directory, where every algorithm is a
``Vertex`` subclass against the public API (e.g.
ShortestPathsVertex.java:125-145) and never touches runtime internals.
Nothing here imports from ``linkgraph.algorithms`` or builds raw
superstep DataFrames: each is a :class:`~linkgraph.vertex_program.
VertexProgram` spec (message expr + combiner agg + update expr) that
the engine assembles into the iteration.

The shipped algorithms that fit one message expression, one combiner
and one update (SSSP, reachability, Katz, eigenvector centrality) are
VertexPrograms too, but live with their siblings in
``linkgraph.algorithms``. ``degree_weighted_pagerank`` here is a
genuinely new user-defined analytic (degree-prior teleport — not in the
reference) demonstrating that new algorithms need zero engine edits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import vertices_from_edges
from .partitioning import out_degrees
from .superstep import LoopResult, iterate
from .vertex_program import VertexProgram, run_vertex_program


def pagerank_struct_program(n: int, damping: float = 0.85) -> VertexProgram:
    """PageRank with a COMPOSITE vertex value — struct<rank double,
    identifier string>.

    Reference: PageRankVertex2's StateWritable carries a double + Text
    identifier through the iteration (PageRankVertex2.java:139-171,
    golden expected/PageRankReal2 — same ranks as PageRankReal). The
    Spark rendition is simply a struct column flowing through the same
    declarative program: expressions address the fields
    (``value.rank``), the update rebuilds the struct and the identifier
    rides along unchanged. No engine support needed — any Spark SQL
    type works as the vertex value.
    """
    teleport = (1.0 - damping) / n
    return VertexProgram(
        init_expr=F.struct(
            F.lit(1.0 / n).alias("rank"),
            F.concat(F.lit("vertex-"), F.col("id")).alias("identifier"),
        ),
        message_expr=F.col("value.rank") / F.col("outdeg"),
        combine_agg=F.sum("msg"),
        update_expr=F.struct(
            (
                F.lit(teleport)
                + F.lit(damping) * F.coalesce(F.col("msg"), F.lit(0.0))
            ).alias("rank"),
            F.col("value.identifier").alias("identifier"),
        ),
        delta_expr=F.abs(F.col("_new.rank") - F.col("value.rank")),
        plan="outer",
    )


def pagerank_struct_demo(
    edges: DataFrame,
    fixed_updates: int = 9,
    vertices: DataFrame | None = None,
    **kwargs,
) -> tuple[DataFrame, LoopResult]:
    """Run :func:`pagerank_struct_program`; returns
    (DF(id, rank, identifier), LoopResult). ``fixed_updates=9``
    reproduces the reference's maxIter=10 goldens (PageRankReal2)."""
    if vertices is None:
        vertices = vertices_from_edges(edges)
    n = vertices.count()
    prog = pagerank_struct_program(n)
    state, res = run_vertex_program(
        edges,
        prog,
        vertices=vertices,
        max_supersteps=fixed_updates,
        stop_when=lambda s: False,
        **kwargs,
    )
    return (
        state.select(
            "id",
            F.col("value.rank").alias("rank"),
            F.col("value.identifier").alias("identifier"),
        ),
        res,
    )


def early_termination_demo(
    spark, num_vertices: int = 20, num_partitions: int = 4
) -> DataFrame:
    """``terminatePartition()`` fixture parity — DF(id, value) — written
    against the PUBLIC ``VertexProgram`` API only (the general
    ``terminate_partition_expr`` channel, vertex_program.py).

    Reference (EarlyTerminationVertex.java:42-60, golden
    expected/EarlyTermination over the 20-vertex webmap): superstep 1,
    vertices with id%4==2 call terminatePartition() — their whole
    partition freezes BEFORE the value update, so they keep value 0 —
    while everyone else sets value 1; superstep 2, id%4==3 freezes (at
    value 1) and the rest set value 2 and halt. The fixture's hash
    partitioner is id % numPartitions (VLongWritable hash), expressed
    here through the pluggable ``partition_expr``; messages play no
    role in the fixture, so the program sends a constant the update
    ignores.
    """
    from .vertex_program import VertexProgram, run_vertex_program

    verts = spark.range(num_vertices).select("id")
    ring = verts.select(
        F.col("id").alias("src"),
        ((F.col("id") + 1) % num_vertices).alias("dst"),
    )
    prog = VertexProgram(
        init_expr=F.lit(0),
        message_expr=F.lit(0),
        combine_agg=F.sum(F.col("msg")),
        update_expr=F.col("superstep"),
        terminate_partition_expr=(
            ((F.col("superstep") == 1) & (F.pmod(F.col("id"), F.lit(num_partitions)) == 2))
            | ((F.col("superstep") == 2) & (F.pmod(F.col("id"), F.lit(num_partitions)) == 3))
        ),
        partition_expr=F.pmod(F.col("id"), F.lit(num_partitions)),
    )
    out, _ = run_vertex_program(
        ring,
        prog,
        vertices=verts,
        num_partitions=num_partitions,
        max_supersteps=2,
    )
    return out.select("id", "value")


def message_overflow_demo(
    edges: DataFrame,
    clones: int = 10_000,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """No-combiner (collect) message path on the overflow fixtures —
    DF(id, value) with value = number of incoming messages.

    Reference (MessageOverflowVertex.java:54-79 and the Fixedsize/LSM
    variants, goldens expected/MessageOverflow*): superstep 1 every
    vertex sends ``clones`` messages per out-edge (values random and
    ignored); superstep 2 every vertex's value = its incoming message
    COUNT, i.e. clones * indegree. The reference exercises Hyracks
    frame segmentation with the default collect combiner; the Spark
    rendition carries the uncombined message multiset through
    ``collect_list`` (the engine's Default/collect combiner path,
    SURVEY.md §3.4) and counts it — frame segmentation itself is a
    Hyracks buffer artifact with no Spark analogue (documented
    non-goal, SURVEY.md §9).
    """
    if vertices is None:
        vertices = vertices_from_edges(edges)
    init = vertices.select("id", F.lit(0).alias("value"))

    def superstep(state: DataFrame, k: int) -> DataFrame:
        senders = state
        msgs = (
            edges.join(senders, edges["src"] == senders["id"])
            .select(
                F.col("dst").alias("id"),
                F.explode(F.sequence(F.lit(1), F.lit(clones))).alias("msg"),
            )
            .groupBy("id")
            # the Default (collect) combiner: the full message multiset
            .agg(F.collect_list("msg").alias("msgs"))
        )
        return (
            state.drop("value")
            .join(msgs, "id", "left_outer")
            .select(
                "id",
                F.coalesce(F.size("msgs"), F.lit(0)).cast("long").alias("value"),
                F.col("msgs").isNotNull().cast("long").alias("_msgs"),
            )
        )

    res = iterate(
        init,
        superstep,
        converged=lambda s: False,
        max_supersteps=1,
        num_partitions=num_partitions,
    )
    return res.state.select("id", "value")


def degree_weighted_pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    fixed_updates: int | None = None,
    tol: float = 1e-6,
    max_supersteps: int = 60,
    vertices: DataFrame | None = None,
    **kwargs,
) -> tuple[DataFrame, LoopResult]:
    """PageRank with a degree-proportional teleport prior — a
    user-defined variant (NOT shipped by the reference):

        r_v = (1-d) * outdeg(v)/|E|  +  d * sum_{u->v} r_u / outdeg(u)

    Dangling vertices get zero teleport mass (their prior is 0) and, as
    in the standard algorithm, send nothing. Initial value = the prior.
    Demonstrates vertex attributes: each vertex carries its out-degree
    as a static attr column used by the update expression.
    """
    if vertices is None:
        vertices = vertices_from_edges(edges)
    total_edges = edges.count()
    deg = out_degrees(edges).withColumnRenamed("src", "id").select(
        "id", F.col("outdeg").alias("deg")
    )
    prior = F.coalesce(F.col("deg"), F.lit(0)).cast("double") / F.lit(float(total_edges))

    prog = VertexProgram(
        init_expr=prior,
        # sender's value spread over its out-edges; outdeg comes from
        # the engine's CSR adjacency (total degree, salt-safe)
        message_expr=F.col("value") / F.col("outdeg"),
        combine_agg=F.sum("msg"),
        update_expr=(
            F.lit(1.0 - damping) * prior
            + F.lit(damping) * F.coalesce(F.col("msg"), F.lit(0.0))
        ),
        delta_expr=F.abs(F.col("_new") - F.col("value")),
        plan="outer",
    )
    if fixed_updates is not None:
        stop = lambda s: False  # noqa: E731
        max_iter = fixed_updates
    else:
        stop = lambda s: s.delta is not None and s.delta <= tol  # noqa: E731
        max_iter = max_supersteps
    state, res = run_vertex_program(
        edges,
        prog,
        vertices=vertices,
        vertex_attrs=deg,
        max_supersteps=max_iter,
        stop_when=stop,
        **kwargs,
    )
    return state.select("id", F.col("value").alias("rank")), res


def weighted_pagerank(
    edges: DataFrame,
    weight_col: str = "weight",
    damping: float = 0.85,
    fixed_updates: int | None = None,
    tol: float = 1e-6,
    max_supersteps: int = 60,
    vertices: DataFrame | None = None,
    num_vertices: int | None = None,
    **kwargs,
) -> tuple[DataFrame, LoopResult]:
    """Edge-weighted PageRank as a user program — rank mass splits over
    out-edges proportionally to edge weight instead of uniformly:

        r_v = (1-d)/N  +  d * sum_{u->v} r_u * w_uv / W_u,
        W_u = sum of u's out-edge weights.

    The natural ranker for the repo-granularity graph
    (:func:`linkgraph.derive.derive_repo_graph`), where an edge weight
    counts the file-level references behind a repo pair. Reference
    parity note: the reference's PageRankVertex is unweighted
    (PageRankVertex.java:124-145, sendMsgToAllEdges splits uniformly);
    this variant reduces to it when all weights are equal. Dangling
    semantics match the reference: no out-edges, nothing sent, mass not
    redistributed.

    Built on the public API alone: per-edge weights flow through
    ``VertexProgram.weight_col`` (row-per-edge scatter), and the
    sender's total out-weight rides as a static vertex attribute used
    by ``message_expr``.
    """
    if vertices is None:
        vertices = vertices_from_edges(edges.select("src", "dst"))
    n = num_vertices if num_vertices is not None else vertices.count()
    wsum = (
        edges.groupBy("src")
        .agg(F.sum(F.col(weight_col).cast("double")).alias("wsum"))
        .withColumnRenamed("src", "id")
    )
    prog = VertexProgram(
        init_expr=F.lit(1.0 / n),
        # per-edge scatter: sender value weighted by this edge's share
        # of the sender's total out-weight
        message_expr=F.col("value") * F.col(weight_col) / F.col("wsum"),
        combine_agg=F.sum("msg"),
        update_expr=(
            F.lit((1.0 - damping) / n)
            + F.lit(damping) * F.coalesce(F.col("msg"), F.lit(0.0))
        ),
        delta_expr=F.abs(F.col("_new") - F.col("value")),
        weight_col=weight_col,
        plan="outer",
    )
    if fixed_updates is not None:
        stop = lambda s: False  # noqa: E731
        max_iter = fixed_updates
    else:
        stop = lambda s: s.delta is not None and s.delta <= tol  # noqa: E731
        max_iter = max_supersteps
    state, res = run_vertex_program(
        edges,
        prog,
        vertices=vertices,
        vertex_attrs=wsum,
        max_supersteps=max_iter,
        stop_when=stop,
        **kwargs,
    )
    return state.select("id", F.col("value").alias("rank")), res


def personalized_pagerank(
    edges: DataFrame,
    sources: list[int],
    damping: float = 0.85,
    fixed_updates: int | None = None,
    tol: float = 1e-6,
    max_supersteps: int = 60,
    vertices: DataFrame | None = None,
    **kwargs,
) -> tuple[DataFrame, LoopResult]:
    """Personalized PageRank — random walks teleport back to a source
    SET instead of the uniform prior (the standard seed-centric ranking
    for "important relative to these repos/files" queries):

        r_v = (1-d) * 1[v in S]/|S|  +  d * sum_{u->v} r_u / outdeg(u)

    A user program against the public API alone (no engine edits):
    the teleport prior is a plain column expression over ``id``, so the
    whole spec is three expressions. Initial value = the prior (all
    mass on the sources). Dangling vertices send nothing, as in the
    engine PageRank's fixed-update mode; the reference's compute()
    analogue is PageRankVertex.java:124-145 with the teleport term
    personalized.
    """
    if not sources:
        raise ValueError("personalized_pagerank: empty source set")
    ids = [int(x) for x in sources]
    prior = (
        F.when(F.col("id").isin(ids), F.lit(1.0 / len(ids)))
        .otherwise(F.lit(0.0))
    )
    prog = VertexProgram(
        init_expr=prior,
        message_expr=F.col("value") / F.col("outdeg"),
        combine_agg=F.sum("msg"),
        update_expr=(
            F.lit(1.0 - damping) * prior
            + F.lit(damping) * F.coalesce(F.col("msg"), F.lit(0.0))
        ),
        delta_expr=F.abs(F.col("_new") - F.col("value")),
        plan="outer",
    )
    if fixed_updates is not None:
        stop = lambda s: False  # noqa: E731
        max_iter = fixed_updates
    else:
        stop = lambda s: s.delta is not None and s.delta <= tol  # noqa: E731
        max_iter = max_supersteps
    state, res = run_vertex_program(
        edges,
        prog,
        vertices=vertices,
        max_supersteps=max_iter,
        stop_when=stop,
        **kwargs,
    )
    return state.select("id", F.col("value").alias("rank")), res


def token_ring_program(wake_on_message: bool = True) -> VertexProgram:
    """Token circulation on a directed cycle — the set-union wake-up demo.

    Vertex value is a struct ``(tok, laps)``: ``tok`` is transient relay
    scratch (1 while this vertex holds the token), ``laps`` is the
    logical state (how many times the token has returned to vertex 0).
    The program votes to halt on *logical* state only
    (``changed_expr`` compares ``laps``), so every relay vertex is
    halted the moment it receives the token — yet it must still forward
    it. This is exactly the reference's halted-but-messaged wake-up:
    ``voteToHalt`` is overridden by an incoming message
    (Vertex.java:248-290; materialized by the sorted set-union join,
    JobGenInnerJoin.java:336-339). With ``wake_on_message=False`` the
    token dies at the first relay and ``laps`` stays 0 — asserted in
    tests/test_vertex_program.py as the reason this facility exists.
    """
    zero = F.lit(0).cast("long")
    return VertexProgram(
        init_expr=F.struct(
            F.when(F.col("id") == 0, F.lit(1)).otherwise(F.lit(0))
            .cast("long").alias("tok"),
            zero.alias("laps"),
        ),
        # only a token holder emits anything; NULL messages are dropped
        # by the max-combine, so they neither wake nor alter targets
        message_expr=F.when(F.col("value.tok") >= 1, F.col("value.tok")),
        combine_agg=F.max("msg"),
        update_expr=F.struct(
            F.coalesce(F.col("msg"), zero).alias("tok"),
            (
                F.col("value.laps")
                + F.when(
                    (F.col("id") == 0) & (F.coalesce(F.col("msg"), zero) >= 1),
                    F.lit(1),
                ).otherwise(F.lit(0)).cast("long")
            ).alias("laps"),
        ),
        changed_expr=F.col("_new.laps") != F.col("value.laps"),
        plan="delta",
        initial_active_expr=F.col("id") == 0,
        wake_on_message=wake_on_message,
    )


def token_circulation(
    edges: DataFrame,
    max_supersteps: int,
    wake_on_message: bool = True,
    **kwargs,
) -> tuple[DataFrame, LoopResult]:
    """Run :func:`token_ring_program` over ``edges`` (expected: a
    directed cycle through vertex 0). Returns (DF(id, tok, laps),
    LoopResult). The run stays live while the token is in flight even
    though zero vertices change in most supersteps — the wake-aware
    stop condition of :func:`~linkgraph.vertex_program
    .run_vertex_program`."""
    state, res = run_vertex_program(
        edges,
        token_ring_program(wake_on_message),
        max_supersteps=max_supersteps,
        **kwargs,
    )
    return (
        state.select(
            "id", F.col("value.tok").alias("tok"), F.col("value.laps").alias("laps")
        ),
        res,
    )


def hits_program(n_iterations_hint: int | None = None) -> VertexProgram:
    """HITS hubs-and-authorities (Kleinberg, JACM'99) — simultaneous
    (Jacobi) update variant, written against the public API only.

    A genuinely new user analytic (the reference ships no HITS job);
    demonstrates two API capabilities at once:

    - composite vertex value: ``struct<a double, h double>`` (the same
      StateWritable shape as the reference's PageRankVertex2 composite,
      PageRankVertex2.java:139-171);
    - per-edge attributes driving DIRECTION-TAGGED scatter: the caller
      passes the edge list unioned with its reverse, each row tagged
      ``dir`` (+1 forward, -1 reversed), so one superstep computes both
      half-updates:

          a'(v) = sum_{u->v} h(u)     (forward edges carry h)
          h'(v) = sum_{v->w} a(w)     (reversed edges carry a)

    Both halves read the PREVIOUS iteration's values (simultaneous
    update); scores are normalized to sum 1 after the loop, so the
    unnormalized growth inside the loop cancels out.
    """
    one = F.lit(1.0)
    zero = F.lit(0.0)
    return VertexProgram(
        init_expr=F.struct(one.alias("a"), one.alias("h")),
        # dir > 0: forward edge src->dst, contribute sender's hub score
        # to the target's authority; dir < 0: reversed row dst->src,
        # contribute sender's authority to the target's hub score
        message_expr=F.struct(
            F.when(F.col("dir") > 0, F.col("value.h")).otherwise(zero).alias("a"),
            F.when(F.col("dir") < 0, F.col("value.a")).otherwise(zero).alias("h"),
        ),
        combine_agg=F.struct(
            F.sum("msg.a").alias("a"), F.sum("msg.h").alias("h")
        ),
        update_expr=F.struct(
            F.coalesce(F.col("msg.a"), zero).alias("a"),
            F.coalesce(F.col("msg.h"), zero).alias("h"),
        ),
        plan="outer",
        weight_col="dir",
    )


def hits(
    edges: DataFrame,
    iterations: int = 10,
    vertices: DataFrame | None = None,
    **kwargs,
) -> tuple[DataFrame, LoopResult]:
    """Run :func:`hits_program` for a fixed number of simultaneous
    updates over directed ``edges(src, dst)``. Returns
    (DF(id, authority, hub) normalized to sum 1, LoopResult)."""
    if vertices is None:
        vertices = vertices_from_edges(edges)
    tagged = edges.select("src", "dst", F.lit(1.0).alias("dir")).unionByName(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"),
            F.lit(-1.0).alias("dir"),
        )
    )
    state, res = run_vertex_program(
        tagged,
        hits_program(iterations),
        vertices=vertices,
        max_supersteps=iterations,
        stop_when=lambda s: False,  # fixed-iteration mode
        **kwargs,
    )
    sums = state.agg(
        F.sum("value.a").alias("sa"), F.sum("value.h").alias("sh")
    )
    out = state.crossJoin(F.broadcast(sums)).select(
        "id",
        (F.col("value.a") / F.col("sa")).alias("authority"),
        (F.col("value.h") / F.col("sh")).alias("hub"),
    )
    return out, res


def kcore_program(k: int) -> VertexProgram:
    """k-core decomposition by iterative peeling, written against the
    public API only — a new user analytic (not shipped by the
    reference) that exercises the DELTA plan end to end: the active
    set is exactly the frontier of newly-removed vertices, the
    message-driven shape Pregel peeling has on a real cluster.

    Vertex value is ``struct<deg bigint, dead int>``: ``deg`` is the
    degree within the currently-surviving subgraph (frozen at removal
    time for removed vertices), ``dead`` flips to 1 once the vertex
    leaves the candidate core. Each superstep, vertices removed in the
    PREVIOUS superstep (the only active senders under the delta plan —
    ``changed_expr`` fires solely on the dead transition) broadcast a
    unit decrement to their neighbors; survivors whose degree drops
    below ``k`` die and become the next frontier. Fixpoint (changed=0)
    = no deaths this superstep = the k-core.

    At fixpoint, a surviving vertex's ``deg`` equals its degree inside
    the k-core subgraph (original degree minus every removed
    neighbor) — returned as ``core_deg``.
    """
    dead_now = F.col("value.dead") == 1
    new_deg = (F.col("value.deg") - F.coalesce(F.col("msg"), F.lit(0.0))).cast("long")
    return VertexProgram(
        init_expr=F.struct(
            F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("deg"),
            (F.coalesce(F.col("deg"), F.lit(0)) < k).cast("int").alias("dead"),
        ),
        # only newly-dead vertices are active senders; each notifies
        # every neighbor of one lost degree
        message_expr=F.lit(1.0),
        combine_agg=F.sum("msg"),
        update_expr=F.when(dead_now, F.col("value")).otherwise(
            F.struct(
                new_deg.alias("deg"),
                (new_deg < k).cast("int").alias("dead"),
            )
        ),
        # halting is on the dead TRANSITION only: degree decrements on
        # a surviving vertex update its state but do not re-scatter it
        changed_expr=F.col("_new.dead") != F.col("value.dead"),
        plan="delta",
        initial_active_expr=F.col("value.dead") == 1,
        symmetrize_edges=True,
    )


def kcore(
    edges: DataFrame,
    k: int,
    vertices: DataFrame | None = None,
    max_supersteps: int = 100,
    **kwargs,
) -> tuple[DataFrame, LoopResult]:
    """Peel directed ``edges(src, dst)`` (treated as undirected) to the
    ``k``-core. Returns (DF(id, in_core int, core_deg bigint),
    LoopResult); ``core_deg`` is the vertex's degree within the k-core
    (0 for peeled vertices)."""
    from .partitioning import symmetrize

    if vertices is None:
        vertices = vertices_from_edges(edges)
    deg = (
        symmetrize(edges)
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    state, res = run_vertex_program(
        edges,
        kcore_program(k),
        vertices=vertices,
        vertex_attrs=deg,
        max_supersteps=max_supersteps,
        **kwargs,
    )
    alive = F.col("value.dead") == 0
    out = state.select(
        "id",
        (~F.col("value.dead").cast("boolean")).cast("int").alias("in_core"),
        F.when(alive, F.col("value.deg")).otherwise(F.lit(0)).cast("long").alias("core_deg"),
    )
    return out, res


def graph_mutation_program() -> VertexProgram:
    """The reference's GraphMutationVertex demo
    (GraphMutationVertex.java:47-70) written against the PUBLIC
    VertexProgram mutation channels alone — no engine internals:

    - superstep 1: every vertex with id < 100 deletes itself when
      id % 2 == 0 or id % 3 == 0, otherwise spawns vertex 100*id with
      value 0.0 (the insert channel);
    - superstep 2: vertex 1900 (spawned by 19 at superstep 1, visible
      from superstep 2 — the reference's insert-visibility rule)
      deletes itself.

    Values never change, so the run halts the first superstep that
    neither spawns nor changes anything; the surviving vertex set is
    the reference's expected/GraphMutation golden (reproduced in
    tests/test_parity_extras.py).
    """
    doomed = (F.col("id") < 100) & (
        (F.col("id") % 2 == 0) | (F.col("id") % 3 == 0)
    )
    no_ids = F.expr("CAST(array() AS ARRAY<BIGINT>)")
    no_adds = F.expr("CAST(array() AS ARRAY<STRUCT<id: BIGINT, value: DOUBLE>>)")
    return VertexProgram(
        init_expr=F.lit(0.0),
        message_expr=F.lit(0.0),
        combine_agg=F.min("msg"),
        update_expr=F.col("value"),
        changed_expr=F.lit(False),
        plan="outer",
        mutate_delete_expr=F.when(
            (F.col("superstep") == 1) & doomed, F.array(F.col("id"))
        )
        .when(
            (F.col("superstep") == 2) & (F.col("id") == 1900),
            F.array(F.col("id")),
        )
        .otherwise(no_ids),
        mutate_add_expr=F.when(
            (F.col("superstep") == 1) & (F.col("id") < 100) & ~doomed,
            F.array(
                F.struct(
                    (F.col("id") * 100).cast("bigint").alias("id"),
                    F.lit(0.0).alias("value"),
                )
            ),
        ).otherwise(no_adds),
    )


def graph_mutation_vp(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    **kwargs,
) -> tuple[DataFrame, LoopResult]:
    """Run :func:`graph_mutation_program`; returns (DF(id, value),
    LoopResult). The spawn-then-self-delete schedule needs one superstep
    per mutation wave plus the quiescent one that ends the run."""
    state, res = run_vertex_program(
        edges, graph_mutation_program(), vertices=vertices, **kwargs
    )
    return state.select("id", "value"), res
