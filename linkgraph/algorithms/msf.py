"""Minimum spanning forest via distributed Borůvka rounds.

The MSF of the link graph is the cheapest skeleton that keeps every
component connected — the backbone extractor (visual summarization of
dependency graphs, hierarchical clustering via single-linkage, network
design). Borůvka (1926) is THE dataflow-parallel MST algorithm: every
round, each component selects its minimum-weight outgoing edge, all
selected edges join the forest simultaneously, and touching components
merge — the component count at least halves per round, so O(log V)
rounds total.

Determinism / uniqueness: edges are ranked by the TOTAL order
``(weight, u, v)`` (with ``u < v`` canonical endpoints, the pair is
unique per edge, so no ties exist). Under a total edge order the
minimum spanning forest is unique, which makes the output a pure
function of the input — and lets the driver gate verify it against an
independently-computed Kruskal oracle (a recursive CTE in DuckDB):
both algorithms must produce the identical edge set.

Component merging: each round's per-component minimum edges define a
FUNCTIONAL graph over component labels (every component points at the
other endpoint of its pick), whose weak components are exactly the
merge groups and whose cycles are all mutual-minimum 2-cycles (the
edge order is total). That structure admits classic pointer doubling:
anchor each 2-cycle at its smaller label, then square the parent
function until fixpoint — O(log chain depth) iterations of ONE
self-equi-join each over an O(components) frame. This matters at both
ends of the scale: merge groups are chains in the worst case (a path
graph's first round picks V/2 edges forming one long chain), so
min-label propagation would cost O(chain length) supersteps exactly
when the graph is largest; and a full CC engine's per-round machinery
(adjacency build, vertex-state frames, set checksums) is measurable
overhead when the merge graph is tiny — a measured 1.5-2x of this
operator's toy-scale wall time. Pointer doubling is the cheap AND
depth-robust middle.

Distributed shape (the 100 TB story): the canonical weighted edge
relation is built once, hash-partitioned, and persisted; each round
re-labels it with current component ids (two co-partitioned joins
against the label frame), takes one groupBy(component).min(struct) —
a two-phase partial/final aggregate, one exchange — and unions the
O(components) selected edges into the forest accumulator.
Cross-component edges only shrink round over round; no driver-side
state beyond loop counters and O(rounds) forest frame handles.

Reference parity: the reference ships no MST, but this is the
per-round global-aggregator + contraction shape of its Pregelix
vertex programs (SURVEY.md §3.4, §3.10) applied to the classic
textbook workload its graph module stops short of.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import choose_partitions
from ..superstep import (
    iteration_conf,
    local_checkpoint_fresh_stats,
    release_local_checkpoint,
)


def minimum_spanning_forest(
    edges: DataFrame,
    weight_col: str | None = None,
    num_partitions: int | None = None,
    max_rounds: int = 40,
) -> tuple[DataFrame, int]:
    """Returns (DF(u BIGINT, v BIGINT, weight BIGINT), rounds) — the
    unique minimum spanning forest of the UNDIRECTED graph under the
    total edge order ``(weight, u, v)``.

    Edges are canonicalized to ``u = least(src, dst) <
    v = greatest(src, dst)``; self-loops are dropped; parallel edges
    keep their minimum weight. ``weight_col`` must be integral
    (micro-unit convention — exact in BIGINT on both engines); when
    ``None`` every edge weighs 1 and the result is a spanning forest
    of minimum edge count per component (still unique via the
    ``(u, v)`` tie order).
    """
    spark = edges.sparkSession
    p = choose_partitions(edges, lambda: edges.count(), num_partitions)

    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    # each round's picked edges: the result. Every other frame is freed
    # once its successor exists, and in the finally
    forest: list[DataFrame] = []
    canon = lab = bridge = par = None
    try:
        with iteration_conf(spark, p):
            canon = (
                edges.select(
                    F.least("src", "dst").alias("u"),
                    F.greatest("src", "dst").alias("v"),
                    w.alias("weight"),
                )
                .filter(F.col("u") != F.col("v"))
                .groupBy("u", "v")
                .agg(F.min("weight").alias("weight"))
                .repartition(p, "u")
                .localCheckpoint(eager=True)
            )

            # labels: vertex -> current component (starts as itself)
            lab = (
                canon.select(F.col("u").alias("id"))
                .unionAll(canon.select(F.col("v").alias("id")))
                .distinct()
                .select("id", F.col("id").alias("comp"))
                .repartition(p, "id")
                .localCheckpoint(eager=True)
            )

            rounds = 0
            for _ in range(max_rounds):
                # edges bridging two current components, labeled both sides
                lu = lab.select(F.col("id").alias("u"), F.col("comp").alias("cu"))
                lv = lab.select(F.col("id").alias("v"), F.col("comp").alias("cv"))
                bridge = local_checkpoint_fresh_stats(
                    canon.join(lu, "u")
                    .join(lv, "v")
                    .filter(F.col("cu") != F.col("cv"))
                )
                if bridge.isEmpty():
                    break
                rounds += 1

                # every component picks its minimum outgoing edge under the
                # total order (weight, u, v): struct-min IS that order, one
                # partial/final aggregate per side riding a single exchange
                cand = F.struct("weight", "u", "v", "cu", "cv")
                offers = bridge.select(F.col("cu").alias("c"), cand.alias("m")).unionAll(
                    bridge.select(F.col("cv").alias("c"), cand.alias("m"))
                )
                mins = offers.groupBy("c").agg(F.min("m").alias("m"))
                forest.append(
                    local_checkpoint_fresh_stats(
                        mins.select("m.weight", "m.u", "m.v", "m.cu", "m.cv")
                        .distinct()  # mutual-minimum pairs pick the same edge twice
                    )
                )

                # contract by pointer doubling (see module docstring):
                # parent(c) = other endpoint of c's pick; anchor each
                # mutual-minimum 2-cycle at its smaller label...
                picks = mins.select(
                    "c",
                    F.when(F.col("m.cu") == F.col("c"), F.col("m.cv"))
                    .otherwise(F.col("m.cu"))
                    .alias("p"),
                )
                g = picks.select(F.col("c").alias("c2"), F.col("p").alias("gp"))
                par = local_checkpoint_fresh_stats(
                    picks.join(g, picks["p"] == g["c2"]).select(
                        "c",
                        F.when(
                            (F.col("gp") == F.col("c")) & (F.col("c") < F.col("p")),
                            F.col("c"),
                        )
                        .otherwise(F.col("p"))
                        .alias("p"),
                    )
                )
                release_local_checkpoint(bridge)  # its last reader is done
                bridge = None
                # ...then square the parent function to fixpoint
                for _jump in range(64):
                    g = par.select(F.col("c").alias("c2"), F.col("p").alias("gp"))
                    nxt = local_checkpoint_fresh_stats(
                        par.join(g, par["p"] == g["c2"]).select(
                            "c",
                            F.col("gp").alias("p"),
                            (F.col("gp") != F.col("p")).alias("_moved"),
                        )
                    )
                    release_local_checkpoint(par)
                    par = nxt
                    if nxt.filter("_moved").isEmpty():
                        break
                new_comp = par.select(F.col("c").alias("comp"), F.col("p").alias("nc"))
                new_lab = local_checkpoint_fresh_stats(
                    lab.join(new_comp, "comp", "left_outer")
                    .select("id", F.coalesce("nc", "comp").alias("comp"))
                    .repartition(p, "id")
                )
                for df in (lab, par):
                    release_local_checkpoint(df)
                lab, par = new_lab, None

            if forest:
                out = forest[0]
                for fdf in forest[1:]:
                    out = out.unionAll(fdf)
            else:
                out = spark.createDataFrame([], "u LONG, v LONG, weight LONG")
    except BaseException:
        for df in forest:
            release_local_checkpoint(df)
        raise
    finally:
        for df in (canon, lab, bridge, par):
            if df is not None:
                release_local_checkpoint(df)
    return out.select("u", "v", "weight"), rounds
