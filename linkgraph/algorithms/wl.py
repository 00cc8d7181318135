"""Weisfeiler-Lehman color refinement — structural-role labels.

1-WL refinement is the canonical structural-equivalence primitive: two
vertices keep the same label after k rounds iff their k-hop
neighborhood trees are isomorphic. The per-vertex labels are the
standard structural-role features (WL graph kernels, GNN
expressiveness analysis), and the label histogram after k rounds is a
graph fingerprint. The reference engine has no such operator but its
compute() could express it; ours runs it as K
:func:`~linkgraph.superstep.iterate` supersteps of the engine's gather
shape (SURVEY.md §3.3/§3.4: per round ONE co-partitioned edge-join +
ONE groupBy combine, one SQL execution).

Round rule over the SYMMETRIZED graph (WL is defined on undirected
neighborhoods):

    l_0(v)     = deg(v)                         # symmetrized degree
    sig_k(v)   = str(l_k(v)) ++ ':' ++ join(',', sorted multiset
                                            [l_k(u) for u in N(v)])
    l_{k+1}(v) = H(sig_k(v))                    # BIGINT hash

The multiset is made canonical by sorting (``sort_array`` over the
``collect_list`` of neighbor labels), so the signature — and therefore
the refinement — is a pure function of the graph, independent of
partitioning, core count, or engine. Two hash families, the house
pattern (phash.py): ``portable=False`` (production) uses one native
``xxhash64`` per signature; ``portable=True`` derives the label from
md5 hex digits via one ``conv(substr(md5(..)))`` so an external DuckDB
oracle replays the identical refinement (``string_agg(.. ORDER BY ..)``
is its sorted-multiset spelling) to a full hash match. Label width is
14 hex digits (56 bits) portable / 64 bits fast — collision probability
over n vertices x k rounds is ~ (nk)^2 / 2^56, negligible below 10^7
labels; collisions only ever MERGE role classes (WL stays sound, never
splits wrongly).

100 TB shape: per round exactly one shuffle (the groupBy on dst;
the join against the src-partitioned symmetric edge relation is
co-located, and the label join back lands on the same id hashing).
Neighbor label lists exist only inside the combine — the collected
array is reduced to its joined string in the same projection, so no
per-vertex array outlives a round. K is small (2-4 rounds separate
essentially all separable vertices in practice — refinement stabilizes
in O(diameter) but information saturates far earlier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..partitioning import symmetrize
from ..phash import md5_digits_spark_sql as _md5_digits_spark_sql
from ..superstep import iterate, loop_scope

WL_DIGITS = 14  # md5 hex digits per portable label (56 bits, BIGINT-exact)


def _wl_hash_spark(sig_sql: str, portable: bool) -> str:
    if portable:
        return _md5_digits_spark_sql(f"md5({sig_sql})", WL_DIGITS)
    return f"xxhash64({sig_sql})"


def wl_refinement(
    edges: DataFrame,
    rounds: int = 3,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """K rounds of 1-WL color refinement over the symmetrized graph.

    Returns DF(id, wl0, wl1, ..., wl{rounds}) — the refinement label at
    every round, wl0 = symmetrized degree (isolated vertices: 0). All
    labels BIGINT; ``portable`` picks the hash family (module doc).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    with loop_scope(edges, num_partitions) as scope:
        p = scope.p
        sym = scope.cache(symmetrize(edges).repartition(p, "src"))
        verts = (
            vertices.select("id")
            if vertices is not None
            else sym.select(F.col("src").alias("id")).distinct()
        )
        deg = sym.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).cast("long").alias("_deg")
        )
        init = (
            verts.join(deg, "id", "left")
            .select("id", F.coalesce("_deg", F.lit(0)).cast("long").alias("wl0"))
            .repartition(p, "id")
        )

        def superstep(state: DataFrame, k: int) -> DataFrame:
            cur = f"wl{k - 1}"
            nbr = (
                sym.join(
                    state.select(F.col("id").alias("src"), F.col(cur).alias("_l")), "src"
                )
                .groupBy(F.col("dst").alias("id"))
                # the collected multiset collapses to its canonical string
                # inside this projection — no array column leaves the agg
                .agg(
                    F.array_join(F.sort_array(F.collect_list("_l")), ",").alias("_nb")
                )
            )
            sig = f"concat(CAST({cur} AS STRING), ':', coalesce(_nb, ''))"
            return (
                state.join(nbr, "id", "left")
                .withColumn(f"wl{k}", F.expr(_wl_hash_spark(sig, portable)))
                .drop("_nb")
            )

        res = iterate(
            init, superstep, lambda s: False, max_supersteps=rounds, num_partitions=p
        )
    return res.state


def wl_class_sizes(labels: DataFrame, col: str) -> DataFrame:
    """Histogram of one refinement round's labels — DF(wl_label,
    class_size) sorted nowhere (callers order); the multiset of class
    sizes is the k-round WL graph fingerprint."""
    return labels.groupBy(F.col(col).alias("wl_label")).agg(
        F.count(F.lit(1)).cast("long").alias("class_size")
    )
