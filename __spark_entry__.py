"""Driver contract for the spark-graft builder (PySpark target).

queries() cover SURVEY.md SS2/SS3: the four north-rule graph analytics
(PageRank, CC, LPA, triangles) + SSSP parity over a deterministic edge
graph derived from the ``documents`` table (linkgraph/docgraph.py — the
arithmetic rule evaluates identically in Spark and DuckDB so the oracle
gate can verify the whole pipeline), plus the training-data pipeline
operators (dedup, text analysis, similarity search) and events rollups.

Iterative oracles: fixed-iteration unrolled CTEs (PageRank 8 updates,
LPA 4 supersteps, Lloyd k-means, BGD, graph sampling with its md5-digit
coins and fill-rate stopping, IVF train->assign->probe->score) or
recursive CTEs (CC label closure, hop-bounded SSSP, clique extension).
Step CTEs that reference the previous step twice are AS MATERIALIZED —
DuckDB inlines CTEs by default, which doubles the plan per unrolled
step (2^k blowup). Floats are rounded BEFORE any ranking/tie-break so
ordering is engine-independent. MinHash-LSH / SimHash / hyperplane-LSH
use xxhash64 / seeded numpy and are not SQL-expressible -> rows-only.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linkgraph import (
    connected_components,
    connected_components_hashmin,
    clustering_coefficients,
    transitivity,
    label_propagation,
    pagerank,
    reachability,
    shortest_paths,
    strongly_connected_components,
    triangle_counts,
)
from linkgraph.docgraph import EDGES_CTES, SYM_CTE, document_edges, document_vertices, load_documents
from linkgraph.pipeline import (
    cosine_topk,
    doc_fingerprint,
    exact_duplicates,
    ivf_cosine_topk,
    language_id,
    lsh_cosine_topk,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    quality_score,
    simhash64,
    token_count,
)

PR_UPDATES = 8
DW_UPDATES = 6
REPO_MOD = 25  # repo key for the rollup queries: repo(d) = d % 25
WPR_UPDATES = 8  # weighted-PageRank updates over the repo rollup
LINKPRED_MIN_COMMON = 3  # link prediction: >=3 shared neighbors
# link prediction hub cap (the production default): centers above this
# degree are excluded from the wedge join in BOTH engines, so the gate
# stays a full hash match with the cap active
LINKPRED_MAX_CENTER_DEG = 10_000
KATZ_UPDATES = 6  # truncated Katz series depth (oracle-unrolled)
EIG_UPDATES = 6  # eigenvector power-iteration depth (exact BIGINT walk counts)
KATZ_ALPHA = 0.05  # attenuation; conservative vs 1/lambda_max here
PPR_UPDATES = 6
PPR_SOURCES = [0, 7]  # teleport seed set for personalized PageRank
SWEEP_T = 32  # sweep-cut prefix budget (ACL local community)
BETW_SOURCES = [0, 7, 13]  # Brandes sample for source-sampled betweenness
# unrolled forward/backward BFS passes in the betweenness oracle; the
# sf0.01 doc graph's BFS depth is ~6, +slack (loud failure if exceeded)
BETW_DEPTH = 10
# unrolled h-index passes in the coreness oracle; the sf0.001/sf0.01
# doc graphs reach the fixpoint in 20 rounds (measured), +4 slack
# passes are no-ops at fixpoint (loud failure if exceeded)
CORENESS_PASSES = 24
HITS_ITERS = 10
KCORE_K = 6
# unrolled oracle peel passes; the sf0.01 cascade at k=6 is 20 deep
# (measured), +4 slack passes are no-ops at fixpoint
KCORE_PASSES = 24
KTRUSS_K = 3
# the unrolled k-truss oracle peels this many times; _q_ktruss fails
# loudly if the engine needs more rounds (same rule as KCORE_PASSES)
KTRUSS_PASSES = 12
ANF_MAPS = 16   # FM bitmaps per vertex for the neighborhood function
ANF_MAX_H = 6   # fixed sketch depth: both engines run exactly 6 passes
EFFDIAM_Q = 0.9  # Boldi-Vigna effective-diameter quantile
BGD_UPDATES = 5
LPA_STEPS = 4
# one-level Louvain: fixed synchronous move rounds (even count so both
# alternating move directions fire equally)
LOUVAIN_ROUNDS = 4
SSSP_HOPS = 12
# weighted SSSP: oracle-derivable edge weight 1 + (src+dst) % 5 and an
# unrolled Bellman-Ford oracle; the sf0.01 fixpoint is 7 supersteps
# (measured), unrolled with >2x slack (extra passes are no-ops) and the
# engine ASSERTS convergence so a deeper future fixture fails loudly
WSSSP_STEPS = 16
# temporal reachability: oracle-derivable edge timestamp
# (src*13 + dst*7) % 97 and an unrolled min-relaxation oracle; the
# engine asserts its superstep count fits (full-pass relaxation reaches
# fixpoint at least as fast as the engine's frontier plan)
TEMPORAL_STEPS = 16
# landmark labels: 4 top-degree pivots, hop-bounded BFS — both engines
# bound at the same depth, so the gate is exact even on deeper graphs
LM_COUNT = 4
LM_HOPS = 8
# neighborhood MinHash-LSH: 16 hashes x 8 bands of 2 over the
# symmetrized adjacency sets; exact-Jaccard verification at 0.2
NMH_HASHES = 16
NMH_BANDS = 8
NMH_T = 0.2
NMH_SEED = 42
JACCARD_T = 0.12
MINHASH_VERIFY_T = 0.4  # exact-Jaccard cut for the verified dedup tier
# count-min sketch params: narrow width so collisions actually occur at
# sf0.01 (the gate then checks the sketch's collision arithmetic, not
# just a pass-through); probes = 3 present tokens + 1 absent
CMS_DEPTH = 4
CMS_WIDTH = 64
CMS_PROBES = ["spark", "join", "window", "zzz-absent-term"]
KMV_K = 24  # bottom-k size; the synthetic vocab is tiny (~31 terms) so
# a small k keeps the estimator in its non-degenerate regime at sf0.01
TOPK = 10
N_QUERY_VECS = 5
# product quantization: M subspaces x KS sub-centroids, Lloyd iters
PQ_M = 4
PQ_KS = 8
PQ_ITERS = 4
# RAG chunking: window / overlap in whitespace tokens
CHUNK_SIZE = 32
CHUNK_OVERLAP = 8
TFIDF_TOPK = 3
DUPSPAN_N = 4  # duplicate_spans word n-gram width (sf docs are short)
# BM25 retrieval: query bag from the synthetic vocabulary; k1/b are the
# Robertson defaults, shared verbatim with the oracle expression
BM25_QUERY = ["spark", "hash", "join", "window"]
BM25_K1 = 1.2
BM25_B = 0.75
# seeded LPA: seeds doc_id % 17 == 0, classes doc_id % 3; the sf0.01
# cascade reaches its fixpoint in 4 supersteps (measured) — 10 unrolled
# oracle rounds are >2x slack (no-ops past the fixpoint) and the engine
# asserts convergence within them, failing loudly otherwise
SLPA_SEED_MOD = 17
SLPA_LBL_MOD = 3
SLPA_STEPS = 10
# decontamination probes: two phrases drawn from the synthetic vocab
# (real hits) + one that can never occur (exercises the zero path)
CONTAM_PROBES = ["key agg row", "spark order", "quux zilch never"]
# n-gram decontamination tier: probe "benchmark documents". The first
# two open with real sf0.01 document prefixes (verbatim-excerpt runs >
# 1), the third is vocab soup (scattered single-3-gram hits), the
# fourth can never match (zero path). NGRAM_N=3 because the synthetic
# vocab is ~31 words — real corpora run 8-13.
NGRAM_PROBES = [
    "key agg row scan slow fast table value part hash",
    "batch window spark order data column agg join small line",
    "table value fast spark a the line sort group big",
    "quux zilch never occurs anywhere at all in this corpus",
]
NGRAM_N = 3
# duplicated-span audit shingle width: 5 keeps real duplication signal
# on the ~54-token synthetic docs (real corpora run 20-50 tokens)
DUPGRAM_N = 5
# The driver's embeddings table is near-orthogonal noise (max pairwise
# cosine 0.51 at sf0.01) — 0.4 exercises the near-dup path with a
# non-trivial answer set; real corpora run the 0.95 default.
NEARDUP_TAU = 0.4
# corpus sampling: priority-sample size / per-language stratum size
WSAMPLE_K = 50
STRAT_K = 5
SAMPLE_SEED = 42
# random-walk corpus: walks per vertex / steps after step 0 / coin seed
RW_W = 2
RW_LEN = 6
RW_SEED = 7
# skip-gram context window over the walk corpus
SG_WINDOW = 2
# integer SGNS trainer: dim / epochs / negatives / lr / coin seed /
# embedding scale (coordinates are BIGINTs in units of 2^-SCALE_BITS)
SGNS_DIM = 4
SGNS_EPOCHS = 2
SGNS_NEG = 2
SGNS_LR_NUM = 1
SGNS_LR_DEN = 4
SGNS_SEED = 11
SGNS_SCALE_BITS = 14
# k-hop feature propagation depth
KHOP_HOPS = 2
# 1-WL color-refinement rounds for the structural-role query; 3 rounds
# separate essentially all separable roles on the doc graph (refinement
# information saturates far before the O(diameter) fixpoint)
WL_ROUNDS = 3
# BPE tokenizer training: number of learned merges
BPE_MERGES = 16
# Collocation mining: minimum bigram occurrences
COLLOC_MIN_PAIRS = 3
# Luby MIS: coin seed / oracle unroll depth (engine fails loudly if it
# needs more rounds — same rule as KCORE_PASSES)
MIS_SEED = 3
MIS_ROUNDS = 10
# Maximal matching: coin seed / oracle unroll depth (engine fails
# loudly if it needs more rounds — same rule as MIS_ROUNDS)
MM_SEED = 3
MM_ROUNDS = 14
# Dependency levels (Kahn peel): oracle unroll depth (engine fails
# loudly if it peels deeper — same rule as MIS_ROUNDS). The raw doc
# graph has no sources (outdeg >= 1 everywhere), so the gated fixture
# keeps forward edges plus a deterministic slice of back-edges: a DAG
# skeleton with planted cycles, exercising layering AND residue.
TOPO_ROUNDS = 20
TOPO_BACK_MOD, TOPO_BACK_RES = 23, 5
# Jones-Plassmann coloring: coin seed / oracle unroll depth (engine
# fails loudly if it needs more rounds — same rule as MIS_ROUNDS)
COLORING_SEED = 11
COLORING_ROUNDS = 16
# MSF derived-weight modulus (weight = 1 + (31u+v) % MOD on canonical
# u < v endpoints — identical formula in engine and oracle)
MSF_WEIGHT_MOD = 97
# sequence packing: context-window token budget / parallel streams
PACK_BUDGET = 512
PACK_GROUPS = 8
PACK_SEED = 13
# training-batch composition: canonical dedup survivors with integer
# quality key >= this enter the packed batch stream
PIPE_QMIN = 8
# corpus mixing: per-language keep rates (unlisted strata -> 0.1)
MIX_RATES = {"en": 1.0, "de": 0.5, "zh": 0.25}
MIX_DEFAULT = 0.1
# node2vec bias multipliers: return / common-neighbor / far (integer
# spellings of 1/p : 1 : 1/q, kept integer for oracle exactness)
N2V_MULTS = (4, 2, 1)


# --------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PageRank to L1 1e-6 convergence on the edge graph
    derived from sf0.001 documents."""
    sf_dir = "/root/testdata/sf0.001"
    edges = document_edges(spark, sf_dir)
    ranks, _ = pagerank(
        edges, tol=1e-6, max_supersteps=60, vertices=document_vertices(spark, sf_dir)
    )
    return ranks.select("id", F.round("rank", 6).alias("pr"))


# --------------------------------------------------------------------
# Spark queries
# --------------------------------------------------------------------

def _q_edges(spark, sf):
    return document_edges(spark, sf)


def _q_degree_distribution(spark, sf):
    return (
        document_edges(spark, sf)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .groupBy("outdeg")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
    )


def _q_pagerank(spark, sf):
    edges = document_edges(spark, sf)
    ranks, _ = pagerank(
        edges, fixed_updates=PR_UPDATES, vertices=document_vertices(spark, sf)
    )
    return ranks.select("id", F.round("rank", 6).alias("pr"))


def _q_cc(spark, sf):
    edges = document_edges(spark, sf)
    comp, _ = connected_components(edges, vertices=document_vertices(spark, sf))
    return comp


def _q_cc_hashmin(spark, sf):
    """Alternating-star (hash-to-min) CC — same contract as _q_cc
    (component = min id of the undirected component), reached in
    O(log n) diameter-independent rounds; shares the reachability
    oracle with connected_components."""
    edges = document_edges(spark, sf)
    comp, _ = connected_components_hashmin(
        edges, vertices=document_vertices(spark, sf)
    )
    return comp


def _q_scc(spark, sf):
    """Strongly connected components of the DIRECTED document graph
    (forward/backward min-label intersection); label = min member id.
    Oracle: transitive-closure recursive CTE — u, v share an SCC iff
    reach(u, v) AND reach(v, u)."""
    edges = document_edges(spark, sf)
    scc, _ = strongly_connected_components(
        edges, vertices=document_vertices(spark, sf)
    )
    return scc


def _q_lpa(spark, sf):
    edges = document_edges(spark, sf)
    labels, _ = label_propagation(
        edges, max_supersteps=LPA_STEPS, vertices=document_vertices(spark, sf)
    )
    return labels


def _q_lpa_modularity(spark, sf):
    """Quality score of the LPA communities: Newman modularity Q,
    rewritten as exact BIGINT moments (within-edge count, sum of
    squared community degrees) + one fixed float expression — no
    per-community float summation order to disagree on."""
    from linkgraph import modularity

    edges = document_edges(spark, sf)
    labels, _ = label_propagation(
        edges, max_supersteps=LPA_STEPS, vertices=document_vertices(spark, sf)
    )
    return modularity(edges, labels)


def _q_community_conductance(spark, sf):
    """Per-community conductance of the LPA labels — exact BIGINT
    cut/volume ends over the symmetrized relation, one float division
    per community row."""
    from linkgraph.algorithms.stats import community_conductance

    edges = document_edges(spark, sf)
    labels, _ = label_propagation(
        edges, max_supersteps=LPA_STEPS, vertices=document_vertices(spark, sf)
    )
    return community_conductance(edges, labels)


def _q_triangles(spark, sf):
    edges = document_edges(spark, sf)
    return triangle_counts(edges, vertices=document_vertices(spark, sf))


def _q_clustering(spark, sf):
    """Local clustering coefficient + degree + through-triangles per
    document vertex (undirected simple graph)."""
    edges = document_edges(spark, sf)
    return clustering_coefficients(
        edges, vertices=document_vertices(spark, sf)
    ).select(
        "id", "degree", "triangles", F.round("coeff", 6).alias("coeff")
    )


def _q_transitivity(spark, sf):
    """Global transitivity: closed/open wedge ratio of the doc graph."""
    edges = document_edges(spark, sf)
    return transitivity(edges).select(
        F.round("transitivity", 6).alias("transitivity")
    )


def _q_triangle_total(spark, sf):
    edges = document_edges(spark, sf)
    return (
        triangle_counts(edges, include_zero=False)
        .agg(F.coalesce(F.sum("triangles"), F.lit(0)).alias("total_triangles"))
    )


def _q_sssp(spark, sf):
    edges = document_edges(spark, sf)
    dist, _ = shortest_paths(
        edges, source=0, vertices=document_vertices(spark, sf), max_supersteps=SSSP_HOPS
    )
    return dist


def _q_sssp_vp(spark, sf):
    """SSSP via the declarative VertexProgram public API (the user
    compute() surface): ``sssp_program`` run directly by
    ``run_vertex_program`` — same contract as _q_sssp, so it shares the
    hop-bounded recursive-CTE oracle."""
    from linkgraph import run_vertex_program, sssp_program

    edges = document_edges(spark, sf).withColumn("_w1", F.lit(1.0))
    state, _ = run_vertex_program(
        edges,
        sssp_program(0),
        vertices=document_vertices(spark, sf),
        max_supersteps=SSSP_HOPS,
    )
    return state.select(
        "id",
        F.when(F.col("value") == float("inf"), F.lit(None))
        .otherwise(F.col("value"))
        .alias("distance"),
    )


def _q_sssp_weighted(spark, sf):
    """Weighted SSSP through the VertexProgram weight_col path
    (row-per-edge scatter): weight = 1 + (src+dst) % 5, derivable in
    SQL, so the full weighted delta-plan relaxation is oracle-gated by
    an unrolled Bellman-Ford CTE."""
    edges = document_edges(spark, sf).withColumn(
        "w", (F.lit(1) + (F.col("src") + F.col("dst")) % 5).cast("double")
    )
    dist, res = shortest_paths(
        edges,
        source=0,
        weight_col="w",
        vertices=document_vertices(spark, sf),
        max_supersteps=4 * WSSSP_STEPS,
    )
    if not res.converged or res.supersteps > WSSSP_STEPS:
        raise RuntimeError(
            f"weighted SSSP needed {res.supersteps} supersteps "
            f"(converged={res.converged}); the unrolled oracle covers "
            f"{WSSSP_STEPS} — raise WSSSP_STEPS"
        )
    return dist.select("id", F.round("distance", 6).alias("distance"))


def _q_temporal_reachability(spark, sf):
    """Time-respecting earliest arrival from doc 0 over temporal edges
    whose timestamp (src*13 + dst*7) % 97 is derivable in SQL — the
    guarded delta-plan fixpoint (algorithms/temporal.py) gated by an
    unrolled min-relaxation oracle."""
    from linkgraph.algorithms.temporal import temporal_earliest_arrival

    tedges = document_edges(spark, sf).withColumn(
        "t", ((F.col("src") * 13 + F.col("dst") * 7) % 97).cast("long")
    )
    arr, res = temporal_earliest_arrival(
        tedges,
        source=0,
        vertices=document_vertices(spark, sf),
        max_supersteps=4 * TEMPORAL_STEPS,
    )
    if not res.converged or res.supersteps > TEMPORAL_STEPS:
        raise RuntimeError(
            f"temporal reachability needed {res.supersteps} supersteps "
            f"(converged={res.converged}); the unrolled oracle covers "
            f"{TEMPORAL_STEPS} — raise TEMPORAL_STEPS"
        )
    return arr


def _q_temporal_departure(spark, sf):
    """Latest time-respecting departure reaching doc 0 by deadline 96
    (the max derivable timestamp) — the reverse temporal fixpoint,
    max-relaxation along reverse edges (algorithms/temporal.py)."""
    from linkgraph.algorithms.temporal import temporal_latest_departure

    tedges = document_edges(spark, sf).withColumn(
        "t", ((F.col("src") * 13 + F.col("dst") * 7) % 97).cast("long")
    )
    dep, res = temporal_latest_departure(
        tedges,
        target=0,
        deadline=96,
        vertices=document_vertices(spark, sf),
        max_supersteps=4 * TEMPORAL_STEPS,
    )
    if not res.converged or res.supersteps > TEMPORAL_STEPS:
        raise RuntimeError(
            f"temporal departure needed {res.supersteps} supersteps "
            f"(converged={res.converged}); the unrolled oracle covers "
            f"{TEMPORAL_STEPS} — raise TEMPORAL_STEPS"
        )
    return dep


def _q_dw_pagerank(spark, sf):
    """Degree-weighted PageRank — a user-defined VertexProgram (degree-
    proportional teleport prior), oracle-checked via an unrolled CTE."""
    from linkgraph import degree_weighted_pagerank

    edges = document_edges(spark, sf)
    ranks, _ = degree_weighted_pagerank(
        edges, fixed_updates=DW_UPDATES, vertices=document_vertices(spark, sf)
    )
    return ranks.select("id", F.round("rank", 6).alias("dw_rank"))


def _q_repo_rollup(spark, sf):
    """Repo-granularity rollup of the link graph (north_star: "vertices
    are repos/files"): the file/doc graph aggregated by repo key with
    reference-count edge weights — linkgraph.derive.derive_repo_graph's
    aggregation shape on the oracle-derivable arithmetic graph (repo key
    = doc_id % REPO_MOD, so DuckDB computes the identical rollup)."""
    edges = document_edges(spark, sf)
    return (
        edges.select(
            (F.col("src") % REPO_MOD).alias("src_repo"),
            (F.col("dst") % REPO_MOD).alias("dst_repo"),
        )
        .filter(F.col("src_repo") != F.col("dst_repo"))
        .groupBy("src_repo", "dst_repo")
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
    )


def _q_weighted_repo_pagerank(spark, sf):
    """Edge-weighted PageRank over the repo rollup — the user-defined
    weighted_pagerank VertexProgram (rank mass splits by edge weight);
    unrolled weighted-CTE oracle."""
    from linkgraph import weighted_pagerank

    redges = _q_repo_rollup(spark, sf).select(
        F.col("src_repo").alias("src"),
        F.col("dst_repo").alias("dst"),
        F.col("weight").cast("double").alias("weight"),
    )
    ranks, _ = weighted_pagerank(redges, fixed_updates=WPR_UPDATES)
    return ranks.select(
        F.col("id").alias("repo"), F.round("rank", 6).alias("wpr")
    )


def _q_link_prediction(spark, sf):
    """Common-neighbor link prediction (Jaccard + Adamic-Adar over the
    symmetrized graph, non-adjacent pairs with >= LINKPRED_MIN_COMMON
    shared neighbors) — wedge-join + anti-join, all JVM-side."""
    from linkgraph import common_neighbor_scores

    edges = document_edges(spark, sf)
    scores = common_neighbor_scores(
        edges,
        min_common=LINKPRED_MIN_COMMON,
        max_center_degree=LINKPRED_MAX_CENTER_DEG,
    )
    return scores.select(
        "u",
        "v",
        "common",
        F.round("jaccard", 6).alias("jaccard"),
        F.round("adamic_adar", 6).alias("adamic_adar"),
    )


def _q_ppr(spark, sf):
    """Personalized PageRank (teleport to a seed set) — a user-defined
    VertexProgram; unrolled-CTE oracle with the personalized prior."""
    from linkgraph import personalized_pagerank

    edges = document_edges(spark, sf)
    ranks, _ = personalized_pagerank(
        edges,
        PPR_SOURCES,
        fixed_updates=PPR_UPDATES,
        vertices=document_vertices(spark, sf),
    )
    return ranks.select("id", F.round("rank", 6).alias("ppr"))


def _q_sweep_cut(spark, sf):
    """ACL-style local community sweep: PPR ranking (the gated vertex
    program) -> degree-normalized ordering -> per-prefix conductance,
    all exact integer cut/volume arithmetic over the top-T prefix."""
    from linkgraph.algorithms.localcluster import ppr_sweep_cut

    return ppr_sweep_cut(
        document_edges(spark, sf),
        PPR_SOURCES,
        fixed_updates=PPR_UPDATES,
        top_t=SWEEP_T,
        vertices=document_vertices(spark, sf),
    )


def _q_hits(spark, sf):
    """HITS hubs/authorities — a user-defined VertexProgram with a
    composite struct value and direction-tagged scatter (simultaneous
    update, final sum-1 normalization); unrolled-CTE oracle."""
    from linkgraph import hits

    edges = document_edges(spark, sf)
    scores, _ = hits(
        edges,
        iterations=HITS_ITERS,
        vertices=document_vertices(spark, sf),
    )
    return scores.select(
        "id",
        F.round("authority", 6).alias("authority"),
        F.round("hub", 6).alias("hub"),
    )


def _q_kcore(spark, sf):
    """k-core membership + within-core degree by iterative peeling — a
    user-defined VertexProgram on the DELTA plan (the active set is the
    newly-peeled frontier); unrolled peel-pass oracle."""
    from linkgraph import kcore

    edges = document_edges(spark, sf)
    out, res = kcore(
        edges,
        KCORE_K,
        vertices=document_vertices(spark, sf),
    )
    # the unrolled oracle peels KCORE_PASSES times; a deeper cascade
    # would make it silently under-peel — fail LOUDLY instead (one
    # engine superstep = one peel wave, so supersteps bound the depth)
    if not res.converged or res.supersteps > KCORE_PASSES:
        raise RuntimeError(
            f"k-core peel ran {res.supersteps} supersteps "
            f"(converged={res.converged}); the unrolled oracle covers "
            f"{KCORE_PASSES} passes — raise KCORE_PASSES"
        )
    return out


def _q_anf(spark, sf):
    """HyperANF-style neighborhood function: N(h) for h=1..ANF_MAX_H
    over the undirected doc graph — FM bitmap union supersteps, all
    bit_or algebra. sum_rank is the bit-exact integer anchor; the FM
    estimate column is rounded per-vertex then summed."""
    from linkgraph.algorithms.anf import neighborhood_function

    edges = document_edges(spark, sf)
    out, _ = neighborhood_function(
        edges,
        num_maps=ANF_MAPS,
        max_h=ANF_MAX_H,
        vertices=document_vertices(spark, sf),
        portable=True,
    )
    return out


def _q_effective_diameter(spark, sf):
    """Boldi-Vigna 90% effective diameter computed ENGINE-SIDE from
    the neighborhood function (smallest h with N(h) >= 0.9 N(max_h),
    linearly interpolated) — the selection is a window over the max_h
    summary rows, not data-sized state, and the oracle replays the
    identical expression over the same unrolled FM passes."""
    from linkgraph.algorithms.anf import (
        effective_diameter_df,
        neighborhood_function,
    )

    edges = document_edges(spark, sf)
    nh, _ = neighborhood_function(
        edges,
        num_maps=ANF_MAPS,
        max_h=ANF_MAX_H,
        vertices=document_vertices(spark, sf),
        portable=True,
    )
    return effective_diameter_df(nh, quantile=EFFDIAM_Q)


def _q_harmonic(spark, sf):
    """HyperBall-style harmonic centrality: per-vertex 1/h-weighted
    ball-size deltas riding the same FM sketch loop as the
    neighborhood function. harmonic_units is the integer-exact
    LCM-scaled accumulator (the hash anchor); harmonic_est the
    rescaled float."""
    from linkgraph.algorithms.anf import harmonic_centrality

    edges = document_edges(spark, sf)
    out, _ = harmonic_centrality(
        edges,
        num_maps=ANF_MAPS,
        max_h=ANF_MAX_H,
        vertices=document_vertices(spark, sf),
        portable=True,
    )
    return out


def _q_coreness(spark, sf):
    """Full core decomposition via the h-index fixpoint (Lü et al.):
    c0 = degree, c_{t+1} = min(c_t, h-index of neighbor values) —
    integer-exact, tie-order invariant, so the unrolled oracle matches
    bit for bit. Loud failure if the fixpoint needs more rounds than
    the oracle unrolls (same rule as KCORE_PASSES)."""
    from linkgraph import core_decomposition

    edges = document_edges(spark, sf)
    out, res = core_decomposition(
        edges,
        vertices=document_vertices(spark, sf),
        max_iters=CORENESS_PASSES,
    )
    if not res.converged:
        raise AssertionError(
            f"coreness fixpoint not reached in {CORENESS_PASSES} rounds —"
            " raise CORENESS_PASSES"
        )
    return out


def _q_katz(spark, sf):
    """Truncated Katz centrality (KATZ_UPDATES terms of the attenuation
    series, alpha=KATZ_ALPHA, beta=1) on the directed doc graph —
    PageRank's superstep plan with the per-edge normalization removed;
    the oracle unrolls the same recurrence in SQL."""
    from linkgraph import katz_centrality

    edges = document_edges(spark, sf)
    out, _ = katz_centrality(
        edges,
        alpha=KATZ_ALPHA,
        beta=1.0,
        fixed_updates=KATZ_UPDATES,
        vertices=document_vertices(spark, sf),
    )
    return out.select("id", F.round("katz", 6).alias("katz"))


def _q_eigenvector(spark, sf):
    """Eigenvector centrality as EIG_UPDATES exact-integer power steps
    (walks(v) = # length-k walks ending at v, BIGINT end to end), then
    one max-normalizing division rounded to 6dp. The oracle unrolls the
    identical BIGINT recurrence, so the gate is bit-exact up to the one
    shared final ROUND."""
    from linkgraph import eigenvector_centrality

    edges = document_edges(spark, sf)
    out, _ = eigenvector_centrality(
        edges, updates=EIG_UPDATES, vertices=document_vertices(spark, sf)
    )
    return out.select("id", "walks", "eig")


def _q_triad_census_full(spark, sf):
    """Full 16-type triad census (Batagelj-Mrvar complementary
    counting): closed types from the triangle join, open types from
    exact integer dyad/wedge moments, 003 by subtraction."""
    from linkgraph.algorithms.motifs import triad_census

    return triad_census(
        document_edges(spark, sf), vertices=document_vertices(spark, sf)
    )


def _q_knn_accuracy(spark, sf):
    """Brute-force cosine kNN majority-vote label eval on the
    embeddings table (the intrinsic embedding-quality check); vote and
    tie-breaks are total orders so the oracle matches exactly."""
    from linkgraph.pipeline import knn_label_accuracy

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return knn_label_accuracy(emb, k=TOPK, n_queries=N_QUERY_VECS)


def _q_knn_accuracy_ann(spark, sf):
    """kNN label eval over the sign-LSH candidate set (VERDICT r3 #4:
    the ANN-composed variant of knn_label_accuracy) — neighbors come
    from the banded bucket join instead of the brute-force scan, the
    majority vote is shared code, and the oracle replays the identical
    plane projections + vote."""
    from linkgraph.pipeline import knn_label_accuracy_ann

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    return knn_label_accuracy_ann(
        emb, dim, k=TOPK, n_queries=N_QUERY_VECS, method="lsh"
    )


def _q_ann_recall(spark, sf):
    """Per-query recall of the sign-LSH top-k against the exact
    brute-force top-k — the index-quality report (similarity.ann_recall)
    gated end to end: candidate generation, both rankings, and the
    overlap count all replayed by the oracle."""
    from linkgraph.pipeline import ann_recall

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    return ann_recall(emb, dim, k=TOPK, n_queries=N_QUERY_VECS, method="lsh")


def _q_knn_accuracy_ivf(spark, sf):
    """kNN label eval over the IVF candidate set (VERDICT r4 #3: the
    IVF tier of the ANN-kNN composition gated): neighbors come from
    the n_probe-cluster probe join, the vote is the shared
    _majority_vote, and the oracle composes the unrolled IVF top-k
    (_ivf_sql — the embedding_ivf_topk oracle verbatim) with the vote
    CTEs."""
    from linkgraph.pipeline import knn_label_accuracy_ann

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    return knn_label_accuracy_ann(
        emb, dim, k=TOPK, n_queries=N_QUERY_VECS, method="ivf",
        n_clusters=8, n_probe=4,
    )


def _q_knn_accuracy_pq(spark, sf):
    """kNN label eval over the PQ ADC candidate set (VERDICT r4 #3):
    neighbors ranked by the m-lookup ADC distance at the PQ gate's own
    6dp rounding; oracle = the embedding_pq_topk unroll composed with
    the vote CTEs."""
    from linkgraph.pipeline import knn_label_accuracy_ann

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    return knn_label_accuracy_ann(
        emb, dim, k=TOPK, n_queries=N_QUERY_VECS, method="pq",
        round_to=6, m=PQ_M, ks=PQ_KS, kmeans_iterations=PQ_ITERS,
    )


def _q_semantic_dedup(spark, sf):
    """SemDeDup-style semantic dedup (similarity.semantic_dedup):
    IMRU k-means clusters the embedding space, within-cluster pairs
    with cosine >= tau drop the higher vec_id. The oracle reuses the
    IVF gate's unrolled train+assign CTEs verbatim, then replays the
    pair prune — so the whole cluster-then-prune chain is
    value-checked."""
    from linkgraph.pipeline import semantic_dedup

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return semantic_dedup(
        emb, n_clusters=8, tau=NEARDUP_TAU, kmeans_iterations=5
    )


def _q_ann_recall_ivf(spark, sf):
    """Per-query recall of the IVF top-k against the exact brute-force
    top-k — the index-quality report for the probe-join tier."""
    from linkgraph.pipeline import ann_recall

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    return ann_recall(
        emb, dim, k=TOPK, n_queries=N_QUERY_VECS, method="ivf",
        n_clusters=8, n_probe=4,
    )


def _q_ann_recall_pq(spark, sf):
    """Per-query recall of the PQ ADC top-k against the exact cosine
    top-k: ADC distances rank at 6dp (the PQ gate's rounding), the
    exact side stays at the brute-force gate's 4dp
    (exact_round_to)."""
    from linkgraph.pipeline import ann_recall

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    return ann_recall(
        emb, dim, k=TOPK, n_queries=N_QUERY_VECS, method="pq",
        round_to=6, exact_round_to=4, m=PQ_M, ks=PQ_KS,
        kmeans_iterations=PQ_ITERS,
    )


def _q_triad_census(spark, sf):
    """Closed-triad census over the directed doc graph: the triangle
    join of §4.4 carrying per-pair direction codes, classified by the
    TRIAD_CASE_SQL expression the oracle evaluates verbatim."""
    from linkgraph.algorithms.motifs import closed_triad_census

    return closed_triad_census(document_edges(spark, sf))


def _q_betweenness(spark, sf):
    """Source-sampled Brandes betweenness from BETW_SOURCES: forward
    shortest-path-DAG supersteps + integer micro-unit dependency
    accumulation (per-term quantization keeps every SUM
    order-independent). Loud failure if the BFS outruns the unrolled
    oracle's BETW_DEPTH passes — same rule as KCORE_PASSES."""
    from linkgraph.algorithms.betweenness import betweenness_centrality

    edges = document_edges(spark, sf)
    out, res = betweenness_centrality(
        edges,
        BETW_SOURCES,
        max_depth=BETW_DEPTH,
        vertices=document_vertices(spark, sf),
    )
    if not res.converged:
        raise AssertionError(
            f"betweenness BFS truncated at {BETW_DEPTH} levels —"
            " raise BETW_DEPTH"
        )
    return out


def _q_closeness(spark, sf):
    """HyperBall closeness centrality: h-weighted and unweighted
    ball-delta accumulators riding the same FM sketch loop; closeness
    = reachable/dist_sum (1/avg distance, finite on disconnected
    graphs)."""
    from linkgraph.algorithms.anf import closeness_centrality

    edges = document_edges(spark, sf)
    out, _ = closeness_centrality(
        edges,
        num_maps=ANF_MAPS,
        max_h=ANF_MAX_H,
        vertices=document_vertices(spark, sf),
        portable=True,
    )
    return out


def _q_ktruss(spark, sf):
    """k-truss edge set + within-truss support by iterative
    triangle-support peeling (edge-relation state); unrolled
    peel-pass oracle with loud under-coverage failure."""
    from linkgraph import ktruss

    edges = document_edges(spark, sf)
    out, res = ktruss(edges, KTRUSS_K)
    if not res.converged or res.supersteps > KTRUSS_PASSES:
        raise RuntimeError(
            f"k-truss peel ran {res.supersteps} rounds "
            f"(converged={res.converged}); the unrolled oracle covers "
            f"{KTRUSS_PASSES} passes — raise KTRUSS_PASSES"
        )
    return out


def _q_reachability(spark, sf):
    edges = document_edges(spark, sf)
    states, _, _ = reachability(
        edges,
        source=0,
        dest=1,
        early_terminate=False,
        vertices=document_vertices(spark, sf),
    )
    return states


def _q_exact_dedup(spark, sf):
    return exact_duplicates(load_documents(spark, sf))


def _q_token_count(spark, sf):
    return token_count(load_documents(spark, sf)).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens")
    )


def _q_bpe_token_count(spark, sf):
    """Whitespace + BPE-ish-regex token counts in one codegen pass."""
    from linkgraph.pipeline import bpe_token_count

    df = bpe_token_count(load_documents(spark, sf))
    return df.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "n_subtokens",
    )


def _q_quality(spark, sf):
    q = quality_score(load_documents(spark, sf))
    return q.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        "stop_ratio",
        "avg_token_len",
        "quality",
    )


def _q_lang_id(spark, sf):
    return language_id(load_documents(spark, sf))


def _q_fingerprint(spark, sf):
    return doc_fingerprint(load_documents(spark, sf))


def _q_jaccard(spark, sf):
    return ngram_jaccard_pairs(load_documents(spark, sf), n=3, threshold=JACCARD_T)


def _q_dup_ngrams(spark, sf):
    """Per-doc duplicated-n-gram coverage (Lee et al. 2022 repeated-
    substring audit): span-level duplication the doc-granular near-dup
    tiers under-report. Portable mode keys shingles by their exact
    string, so the oracle shares identity with zero hash porting."""
    from linkgraph.pipeline.dedup import duplicated_ngram_stats

    return duplicated_ngram_stats(
        load_documents(spark, sf), n=DUPGRAM_N, portable=True
    )


def _q_pack_sequences(spark, sf):
    """Concatenate-then-chunk batch assembly: every document's (group,
    bin, offset) in PACK_GROUPS parallel token streams chunked every
    PACK_BUDGET tokens (portable group coin; the oracle replays the
    identical window arithmetic)."""
    from linkgraph.pipeline import pack_sequences

    return pack_sequences(
        load_documents(spark, sf),
        budget=PACK_BUDGET,
        n_groups=PACK_GROUPS,
        seed=PACK_SEED,
        portable=True,
    )


def _q_proportional_sample(spark, sf):
    """Bernoulli corpus mixing: per-language keep rates via integer
    threshold compare (exact to 2^-60 in both engines)."""
    from linkgraph.pipeline import proportional_sample

    return proportional_sample(
        load_documents(spark, sf),
        MIX_RATES,
        seed=SAMPLE_SEED,
        default_rate=MIX_DEFAULT,
        portable=True,
    )


def _q_weighted_sample(spark, sf):
    """Priority sampling proportional to n_chars (portable coins so the
    selected SET is recomputable by the DuckDB oracle)."""
    from linkgraph.pipeline import weighted_sample

    return weighted_sample(
        load_documents(spark, sf), k=WSAMPLE_K, seed=SAMPLE_SEED, portable=True
    )


def _q_stratified_sample(spark, sf):
    """Per-language uniform sample of STRAT_K docs via hashed keys."""
    from linkgraph.pipeline import stratified_sample

    return stratified_sample(
        load_documents(spark, sf),
        k_per_stratum=STRAT_K,
        seed=SAMPLE_SEED,
        portable=True,
    )


def _q_topk(spark, sf):
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return cosine_topk(emb, queries, k=TOPK)


# Relational join/agg parity — the reference exercises its equi-join
# strategies on TPC-H-style customer/orders inputs (pregelix-core
# JoinTest.java:625); Spark's broadcast/shuffled-hash/sort-merge
# selection via Catalyst is the engine analogue. Money sums aggregate in
# DECIMAL so both engines produce bit-identical results regardless of
# per-partition accumulation order.


def _q_customer_orders(spark, sf):
    c = spark.read.parquet(f"{sf}/customer.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    n = spark.read.parquet(f"{sf}/nation.parquet")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
    )


def _q_pricing_summary(spark, sf):
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
        F.sum(
            (F.col("l_extendedprice").cast("decimal(18,2)") * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")))
        ).cast("double").alias("sum_disc_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


def _q_big_spenders_semi(spark, sf):
    c = spark.read.parquet(f"{sf}/customer.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet").filter(F.col("o_totalprice") > 100000)
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        "c_custkey", "c_name"
    )


def _q_customers_without_orders(spark, sf):
    c = spark.read.parquet(f"{sf}/customer.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


def _q_events_per_type(spark, sf):
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


def _q_events_hourly(spark, sf):
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n_events"))


def _q_sessionize(spark, sf):
    """Gap-based sessionization of the event stream: one user-keyed
    window exchange, integer-microsecond gap compares, per-session
    rollup (30-minute gap)."""
    from linkgraph.pipeline import sessionize_events

    return sessionize_events(spark.read.parquet(f"{sf}/events.parquet"))


def _q_minhash_lsh(spark, sf):
    return minhash_lsh_pairs(load_documents(spark, sf), threshold=0.3, portable=True)


def _q_minhash_verified(spark, sf):
    """Estimate-to-find, exact-to-decide: LSH candidates verified with
    the exact shingle-set Jaccard (the removal-decision tier)."""
    from linkgraph.pipeline import minhash_verified_pairs

    return minhash_verified_pairs(
        load_documents(spark, sf), threshold=MINHASH_VERIFY_T, portable=True
    )


def _q_dedup_clusters(spark, sf):
    """Pipeline x graph-engine composition: MinHash-LSH pair edges
    closed by the CC superstep loop into dedup clusters."""
    from linkgraph.pipeline.dedup import dedup_clusters

    return dedup_clusters(load_documents(spark, sf), threshold=0.3, portable=True)


def _q_canonical_docs(spark, sf):
    """Quality-aware dedup pass: one surviving doc per near-dup
    cluster, chosen by the integer quality key (ties to lowest
    doc_id) — dedup that actually drops documents."""
    from linkgraph.pipeline.dedup import canonical_docs

    return canonical_docs(load_documents(spark, sf), threshold=0.3, portable=True)


def _q_training_pipeline(spark, sf):
    """END-TO-END training-batch assembly — the composition a real
    corpus run executes as ONE dataflow: near-dup clustering picks the
    best-quality survivor per cluster (canonical_docs), survivors below
    the integer quality floor drop, and the kept docs pack into
    token-budget bins (pack_sequences). Every stage is the already-
    gated operator; the gate here checks the COMPOSITION end to end."""
    from linkgraph.pipeline import pack_sequences
    from linkgraph.pipeline.dedup import canonical_docs

    docs = load_documents(spark, sf)
    surv = canonical_docs(docs, threshold=0.3, portable=True)
    kept = docs.join(
        surv.filter(F.col("q10") >= PIPE_QMIN).select(
            F.col("kept_doc_id").alias("doc_id")
        ),
        "doc_id",
    )
    return pack_sequences(
        kept,
        budget=PACK_BUDGET,
        n_groups=PACK_GROUPS,
        seed=PACK_SEED,
        portable=True,
    )


def _training_pipeline_sql() -> str:
    """The identical composition in DuckDB: the full canonical-docs
    statement (MinHash-LSH + recursive closure + integer quality
    argmax) nested as a CTE, quality-floored survivors re-joined to the
    corpus, then the pack window arithmetic over the KEPT set only."""
    from linkgraph.pipeline.packing import pack_group_sql

    canon = _canonical_docs_sql(64, 16, 3, 0.3, 42)
    g = pack_group_sql("d.doc_id", PACK_GROUPS, PACK_SEED)
    return (
        f"WITH canon AS MATERIALIZED ({canon}),"
        f" kept AS (SELECT kept_doc_id AS doc_id FROM canon"
        f"  WHERE q10 >= {PIPE_QMIN}),"
        " base AS (SELECT d.doc_id,"
        "  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,"
        f"  CAST({g} AS INT) AS \"group\""
        "  FROM documents d JOIN kept k USING (doc_id)),"
        " pos AS (SELECT doc_id, n_tokens, \"group\","
        "  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY \"group\""
        "   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),"
        "   0) AS BIGINT) AS start FROM base)"
        " SELECT doc_id, n_tokens, \"group\", start,"
        f" CAST(start // {PACK_BUDGET} AS BIGINT) AS bin,"
        f" CAST(start % {PACK_BUDGET} AS BIGINT) AS \"offset\","
        f" CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE"
        f"  CEIL((start % {PACK_BUDGET} + n_tokens) / CAST({PACK_BUDGET} AS DOUBLE))"
        f" END AS BIGINT) AS n_spans FROM pos"
    )


def _q_skipgram_pairs(spark, sf):
    """Embedding-pipeline composition: the portable walk corpus turned
    into aggregated (center, context) SGNS training pairs."""
    from linkgraph import random_walks
    from linkgraph.algorithms.walks import skipgram_pairs

    corpus, _ = random_walks(
        document_edges(spark, sf),
        walks_per_vertex=RW_W,
        walk_length=RW_LEN,
        seed=RW_SEED,
        vertices=document_vertices(spark, sf),
        portable=True,
    )
    return skipgram_pairs(corpus, window=SG_WINDOW)


def _q_khop_features(spark, sf):
    """GNN-style feature propagation: whitespace token counts pushed
    KHOP_HOPS hops through the document graph — floor-mean of
    in-neighbors combined with the own value, all integer."""
    from linkgraph.algorithms.khop import khop_features
    from linkgraph.pipeline.textstats import token_count

    feats = token_count(load_documents(spark, sf)).select(
        F.col("doc_id").alias("id"), F.col("n_tokens").cast("long").alias("f")
    )
    return khop_features(
        document_edges(spark, sf),
        feats,
        hops=KHOP_HOPS,
        vertices=document_vertices(spark, sf),
    )


def _q_wl_roles(spark, sf):
    """Structural-role labels: WL_ROUNDS rounds of 1-WL color
    refinement over the symmetrized document graph — per round one
    gather join + one sorted-multiset combine (algorithms/wl.py);
    portable md5 labels so the oracle replays the refinement
    bit-exactly."""
    from linkgraph.algorithms.wl import wl_refinement

    return wl_refinement(
        document_edges(spark, sf),
        rounds=WL_ROUNDS,
        vertices=document_vertices(spark, sf),
        portable=True,
    )


def _q_wl_fingerprint(spark, sf):
    """WL graph fingerprint: the class-size histogram of the round-
    WL_ROUNDS refinement labels — the multiset that summarizes the
    graph's structural-role composition in O(#classes) rows."""
    from linkgraph.algorithms.wl import wl_class_sizes, wl_refinement

    labels = wl_refinement(
        document_edges(spark, sf),
        rounds=WL_ROUNDS,
        vertices=document_vertices(spark, sf),
        portable=True,
    )
    return wl_class_sizes(labels, f"wl{WL_ROUNDS}")


def _q_bpe_merges(spark, sf):
    """Distributed BPE tokenizer training: BPE_MERGES rounds of
    pair-count -> argmax -> merge over the word-type table (the
    corpus is scanned exactly once)."""
    from linkgraph.pipeline.bpe import bpe_merges

    return bpe_merges(load_documents(spark, sf), num_merges=BPE_MERGES)


def _q_bpe_encode_counts(spark, sf):
    """Encode the corpus with the learned BPE merges (broadcast
    vocab join) and count subword tokens per document."""
    from linkgraph.pipeline.bpe import bpe_token_counts

    return bpe_token_counts(load_documents(spark, sf), num_merges=BPE_MERGES)


def _q_collocations(spark, sf):
    """Collocation (phrase) mining: exact integer lift scores for
    adjacent-token bigrams — one corpus scan, two vocabulary-sized
    shuffles, broadcast unigram join."""
    from linkgraph.pipeline.collocations import collocation_pairs

    return collocation_pairs(
        load_documents(spark, sf), min_pair_count=COLLOC_MIN_PAIRS
    )


def _q_sgns_embeddings(spark, sf):
    """Bit-exact integer SGNS: walks -> skip-gram pairs -> scaled-
    integer embedding training (hard sigmoid, counter-based init and
    negatives) — the full graph-embedding pipeline, every coordinate a
    BIGINT the oracle replays exactly."""
    from linkgraph import random_walks
    from linkgraph.algorithms.walks import skipgram_pairs
    from linkgraph.pipeline.sgns import train_sgns_sharded

    corpus, _ = random_walks(
        document_edges(spark, sf),
        walks_per_vertex=RW_W,
        walk_length=RW_LEN,
        seed=RW_SEED,
        vertices=document_vertices(spark, sf),
        portable=True,
    )
    pairs = skipgram_pairs(corpus, window=SG_WINDOW)
    # the model-sharded trainer (bit-identical to the driver-held IMRU
    # variant, tests/test_sgns.py::TestSharded) so the gate exercises
    # the 100 TB path
    return train_sgns_sharded(
        pairs,
        vertices=document_vertices(spark, sf),
        dim=SGNS_DIM,
        epochs=SGNS_EPOCHS,
        negatives=SGNS_NEG,
        lr_num=SGNS_LR_NUM,
        lr_den=SGNS_LR_DEN,
        seed=SGNS_SEED,
        scale_bits=SGNS_SCALE_BITS,
        portable=True,
    )


def _q_sgns_auc(spark, sf):
    """Link-prediction AUC of the SGNS embeddings (exact Mann-Whitney
    rank-sum over integer dot products): re-trains the bit-exact
    portable embeddings, then scores true edges vs the deterministic
    negative sample. One row; u2 is the exact integer numerator."""
    from linkgraph import random_walks
    from linkgraph.algorithms.walks import skipgram_pairs
    from linkgraph.pipeline.embed_eval import linkpred_auc
    from linkgraph.pipeline.sgns import train_sgns_sharded

    edges = document_edges(spark, sf)
    verts = document_vertices(spark, sf)
    n = load_documents(spark, sf).count()
    corpus, _ = random_walks(
        edges,
        walks_per_vertex=RW_W,
        walk_length=RW_LEN,
        seed=RW_SEED,
        vertices=verts,
        portable=True,
    )
    emb = train_sgns_sharded(
        skipgram_pairs(corpus, window=SG_WINDOW),
        vertices=verts,
        dim=SGNS_DIM,
        epochs=SGNS_EPOCHS,
        negatives=SGNS_NEG,
        lr_num=SGNS_LR_NUM,
        lr_den=SGNS_LR_DEN,
        seed=SGNS_SEED,
        scale_bits=SGNS_SCALE_BITS,
        portable=True,
    )
    return linkpred_auc(emb, edges, verts, n)


def _sgns_auc_sql() -> str:
    """The same statistic in DuckDB with the full bit-exact SGNS chain
    nested as a CTE: canonical positive edges, the engine's arithmetic
    negative rule anti-joined against true edges, integer dot products,
    average ranks via RANK + tie COUNT windows, u2 = 2U exact."""
    from linkgraph.pipeline.embed_eval import NEG_A, NEG_B

    emb = _sgns_sql(
        RW_W, RW_LEN, RW_SEED, SG_WINDOW,
        SGNS_DIM, SGNS_EPOCHS, SGNS_NEG, SGNS_LR_NUM, SGNS_LR_DEN,
        SGNS_SEED, SGNS_SCALE_BITS,
    )
    return (
        "WITH " + EDGES_CTES.strip() + ","
        f" embx AS MATERIALIZED ({emb}),"
        " ein AS (SELECT vertex, dim, value FROM embx WHERE side = 'in'),"
        " pos AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v"
        "  FROM edges WHERE src != dst),"
        " nn AS (SELECT COUNT(*) AS n FROM documents),"
        f" cand AS (SELECT DISTINCT LEAST(doc_id, (doc_id*{NEG_A} + {NEG_B}) % nn.n) AS u,"
        f"  GREATEST(doc_id, (doc_id*{NEG_A} + {NEG_B}) % nn.n) AS v"
        f"  FROM documents, nn WHERE doc_id != (doc_id*{NEG_A} + {NEG_B}) % nn.n),"
        " neg AS (SELECT c.u, c.v FROM cand c ANTI JOIN pos p"
        "  ON p.u = c.u AND p.v = c.v),"
        " pairs AS (SELECT u, v, 1 AS label FROM pos"
        "  UNION ALL SELECT u, v, 0 AS label FROM neg),"
        " scored AS (SELECT p.u, p.v, p.label,"
        "  SUM(a.value * b.value) AS score"
        "  FROM pairs p JOIN ein a ON a.vertex = p.u"
        "  JOIN ein b ON b.vertex = p.v AND b.dim = a.dim"
        "  GROUP BY p.u, p.v, p.label),"
        " ranked AS (SELECT label,"
        "  2 * RANK() OVER (ORDER BY score)"
        "  + COUNT(*) OVER (PARTITION BY score) - 1 AS avg2 FROM scored),"
        " agg AS (SELECT CAST(SUM(label) AS BIGINT) AS n_pos,"
        "  CAST(SUM(1 - label) AS BIGINT) AS n_neg,"
        "  CAST(SUM(CASE WHEN label = 1 THEN avg2 ELSE 0 END)"
        "   - SUM(label) * (SUM(label) + 1) AS BIGINT) AS u2 FROM ranked)"
        " SELECT n_pos, n_neg, u2,"
        "  CAST(u2 AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc"
        " FROM agg"
    )


def _q_vocabulary(spark, sf):
    from linkgraph.pipeline.textstats import vocabulary

    return vocabulary(load_documents(spark, sf), top_k=50)


def _q_tfidf(spark, sf):
    """Per-document top-k terms by smoothed TF-IDF (score rounded to
    6dp before ranking, ties to term asc — engine-independent order)."""
    from linkgraph.pipeline import tfidf_top_terms

    return tfidf_top_terms(load_documents(spark, sf), top_k=TFIDF_TOPK)


def _q_bm25(spark, sf):
    """Okapi BM25 relevance of every document against the fixed query
    bag — per-(doc, term) contributions become exact micro-unit BIGINTs
    before the per-document sum, so no float reduction order exists for
    the engines to disagree on."""
    from linkgraph.pipeline import bm25_scores

    return bm25_scores(load_documents(spark, sf), BM25_QUERY, k1=BM25_K1, b=BM25_B)


def _q_unigram_lm(spark, sf):
    """CCNet-style unigram-LM quality score: mean token log-prob under
    the corpus's own unigram model (integer counts; per-term log made
    BIGINT micro-units before the exact per-document integer sum)."""
    from linkgraph.pipeline import unigram_lm_score

    return unigram_lm_score(load_documents(spark, sf))


def _q_seeded_lpa(spark, sf):
    """Semi-supervised seeded label propagation: seeds are
    doc_id % SLPA_SEED_MOD == 0 with class doc_id % SLPA_LBL_MOD;
    unlabeled vertices adopt the most frequent label among labeled
    neighbors (count DESC, label ASC) and freeze; -1 = unreachable.
    The oracle unrolls SLPA_STEPS rounds; extra rounds past the
    fixpoint are no-ops, and the engine fails loudly if a future
    fixture ever cascades deeper (same rule as KCORE_PASSES)."""
    from linkgraph.algorithms import seeded_label_propagation

    edges = document_edges(spark, sf)
    verts = document_vertices(spark, sf)
    seeds = verts.filter(F.col("id") % SLPA_SEED_MOD == 0).select(
        "id", (F.col("id") % SLPA_LBL_MOD).alias("label")
    )
    out, res = seeded_label_propagation(edges, seeds, vertices=verts)
    if not res.converged or res.supersteps > SLPA_STEPS:
        raise RuntimeError(
            f"seeded LPA needed {res.supersteps} supersteps (oracle unrolls "
            f"{SLPA_STEPS}); raise SLPA_STEPS so the gate stays exact"
        )
    return out


PII_PLANT = (
    " contact user{id}@mail.example.com at 10.2.3.4 or +44 20 7946 0958"
)


def _q_pii(spark, sf):
    """PII scrub gate: plant a deterministic email+IP+phone snippet on
    every 7th document (the base corpus is digit-free word salad), then
    redact. One codegen scan; the oracle mirrors the plant and the
    sequential regexp_replace pipeline verbatim."""
    from linkgraph.pipeline import pii_redact

    planted = load_documents(spark, sf).selectExpr(
        "doc_id",
        "concat(text, CASE WHEN doc_id % 7 = 0 THEN"
        " concat(' contact user', CAST(doc_id AS STRING),"
        " '@mail.example.com at 10.2.3.4 or +44 20 7946 0958')"
        " ELSE '' END) AS text",
    )
    return pii_redact(planted)


def _q_repetition(spark, sf):
    """Gopher-style repetition quality signals per document."""
    from linkgraph.pipeline import repetition_stats

    return repetition_stats(load_documents(spark, sf))


def _q_normalize(spark, sf):
    """Canonical pre-dedup normalization + fingerprint, one codegen
    scan (lower/regexp_replace/trim/md5 are all JVM built-ins)."""
    from linkgraph.pipeline import normalize_text

    return normalize_text(load_documents(spark, sf))


def _q_contamination(spark, sf):
    """Benchmark decontamination: broadcast probe strings, flag docs
    containing any (the exact-substring tier of eval contamination
    checking)."""
    from linkgraph.pipeline import contamination_check

    probes = spark.createDataFrame([(p,) for p in CONTAM_PROBES], "probe STRING")
    return contamination_check(load_documents(spark, sf), probes)


def _q_ngram_decontaminate(spark, sf):
    """N-gram-overlap decontamination (the industry-default tier):
    matched-position counts + longest verbatim run per document,
    portable string-key mode so the DuckDB oracle reproduces it."""
    from linkgraph.pipeline import ngram_decontaminate

    probes = spark.createDataFrame([(p,) for p in NGRAM_PROBES], "probe STRING")
    return ngram_decontaminate(
        load_documents(spark, sf), probes, n=NGRAM_N, portable=True
    )


def _q_kmv_sketch(spark, sf):
    """KMV bottom-k distinct-token sketch — oracle-verifiable sketch
    tier of the vocabulary operator (exact tier: _q_vocabulary)."""
    from linkgraph.pipeline import kmv_distinct_tokens

    return kmv_distinct_tokens(load_documents(spark, sf), k=KMV_K)


def _q_kmv_by_lang(spark, sf):
    """Per-language KMV distinct-token estimates — one bottom-k sketch
    per group via a WindowGroupLimit-pushed rank window; one row per
    language regardless of corpus size."""
    from linkgraph.pipeline.sketches import kmv_distinct_by

    return kmv_distinct_by(load_documents(spark, sf), group_col="lang", k=KMV_K)


def _q_cms_probe(spark, sf):
    """Count-min-sketch point queries for CMS_PROBES: fixed-size
    sketch (depth x width counters, map-side partial agg) + broadcast
    probe join; every counter is an exact integer over portable md5
    buckets, so the estimates gate bit-exactly."""
    from linkgraph.pipeline import cms_probe_counts

    return cms_probe_counts(
        load_documents(spark, sf),
        CMS_PROBES,
        depth=CMS_DEPTH,
        width=CMS_WIDTH,
        portable=True,
    )


def _q_simhash(spark, sf):
    return simhash64(load_documents(spark, sf), portable=True)


def _q_simhash_pairs(spark, sf):
    """Hamming-banded near-dup join over SimHash fingerprints (exact
    recall via the pigeonhole bands + bit_count verify; brute-force
    pytest oracle in tests/test_pipeline.py)."""
    from linkgraph.pipeline import simhash_pairs

    # max_distance=7 -> 8 byte-aligned bands of 8 bits. A realistic
    # near-dup radius (production SimHash runs k~3 of 64, Manku et al.
    # WWW'07); the previous k=16 demo made each band a 3-bit filter
    # (8 buckets), which at sf0.1 ballooned to ~26M candidate pairs —
    # 65x the candidate volume for pairs that are not near-dups.
    return simhash_pairs(load_documents(spark, sf), max_distance=7, portable=True)


def _q_lsh_topk(spark, sf):
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    dim = len(emb.select("embedding").first()["embedding"])
    return lsh_cosine_topk(emb, dim, queries, k=TOPK)


def _q_embedding_neardup(spark, sf):
    from linkgraph.pipeline.similarity import embedding_neardup_pairs

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    return embedding_neardup_pairs(emb, dim, threshold=NEARDUP_TAU)


def _q_maximum_cliques(spark, sf):
    from linkgraph import maximum_cliques

    # ARRAY columns break the driver's pandas canonicalizer
    # (sort_values on lists); emit the clique as a sortable
    # comma-joined string instead. Engine API still returns arrays.
    edges = document_edges(spark, sf)
    return maximum_cliques(edges).select(
        F.array_join(F.col("clique").cast("array<string>"), ",").alias("clique"),
        F.col("size").cast("int").alias("size"),
    )


def _q_graph_sample(spark, sf):
    from linkgraph import graph_sample

    edges = document_edges(spark, sf)
    sel, _ = graph_sample(
        edges,
        target_rate=0.3,
        seed=7,
        vertices=document_vertices(spark, sf),
        portable=True,
    )
    return sel


def _q_random_walks(spark, sf):
    """DeepWalk-style corpus: RW_W walks of RW_LEN steps from every
    document vertex, neighbor picked by a counter-based portable coin
    (oracle unrolls the identical steps in SQL)."""
    from linkgraph import random_walks

    corpus, _ = random_walks(
        document_edges(spark, sf),
        walks_per_vertex=RW_W,
        walk_length=RW_LEN,
        seed=RW_SEED,
        vertices=document_vertices(spark, sf),
        portable=True,
    )
    return corpus


def _q_random_walks_weighted(spark, sf):
    """Edge-weight-proportional walks: weight = 1 + (src+dst) % 5 (the
    sssp_weighted convention, derivable in SQL) picked via the
    cumulative-weight interval — the weighted scatter path oracle-gated
    end to end."""
    from linkgraph import random_walks

    wedges = document_edges(spark, sf).withColumn(
        "w", F.lit(1) + (F.col("src") + F.col("dst")) % 5
    )
    corpus, _ = random_walks(
        wedges,
        walks_per_vertex=1,
        walk_length=RW_LEN,
        seed=RW_SEED,
        vertices=document_vertices(spark, sf),
        portable=True,
        weight_col="w",
    )
    return corpus


def _weighted_walks_sql(length: int, seed: int) -> str:
    """Unrolled weighted walk chain: the indexed edge relation carries
    the cumulative-weight interval [lo, lo+w) per edge and step k keeps
    the edge whose interval contains coin % total_weight."""
    from linkgraph.algorithms.walks import walk_coin_sql

    parts = [
        "WITH " + EDGES_CTES.strip() + ",",
        " we AS (SELECT src, dst, 1 + (src + dst) % 5 AS w FROM edges),",
        " ie AS (SELECT src, dst, w,"
        "  CAST(COALESCE(SUM(w) OVER (PARTITION BY src ORDER BY dst"
        "   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)"
        "   AS lo,"
        "  CAST(SUM(w) OVER (PARTITION BY src) AS BIGINT) AS tot FROM we),",
        " w0 AS (SELECT doc_id AS walk_id, doc_id AS v FROM documents)",
    ]
    for k in range(1, length + 1):
        coin = walk_coin_sql("w.walk_id", k, seed)
        parts.append(
            f", w{k} AS (SELECT w.walk_id, i.dst AS v FROM w{k - 1} w"
            f"  JOIN ie i ON i.src = w.v"
            f"  AND i.lo <= ({coin} % i.tot)"
            f"  AND ({coin} % i.tot) < i.lo + i.w)"
        )
    selects = " UNION ALL ".join(
        f"SELECT walk_id, CAST({k} AS INT) AS step, v AS vertex FROM w{k}"
        for k in range(0, length + 1)
    )
    return "".join(parts) + " " + selects


def _q_node2vec_walks(spark, sf):
    """Second-order biased walks (node2vec search bias with integer
    multipliers); every step's biased cumulative-interval pick is
    replayed by the oracle."""
    from linkgraph import node2vec_walks

    mr, mc, mf = N2V_MULTS
    corpus, _ = node2vec_walks(
        document_edges(spark, sf),
        walks_per_vertex=1,
        walk_length=RW_LEN,
        seed=RW_SEED,
        mult_return=mr,
        mult_common=mc,
        mult_far=mf,
        vertices=document_vertices(spark, sf),
        portable=True,
    )
    return corpus


def _node2vec_sql(length: int, seed: int, mr: int, mc: int, mf: int) -> str:
    """Unrolled node2vec chain: per step, candidate edges of the
    current vertex are rescaled by the (return / common-neighbor / far)
    CASE — common-neighbor via a correlated EXISTS wedge probe — and
    the per-walker running sum turns biased weights into cumulative
    intervals; the coin lands in exactly one."""
    from linkgraph.algorithms.walks import walk_coin_sql

    parts = [
        "WITH " + EDGES_CTES.strip() + ",",
        " w0 AS (SELECT doc_id AS walk_id,"
        "  CAST(NULL AS BIGINT) AS prev, doc_id AS v FROM documents)",
    ]
    for k in range(1, length + 1):
        coin = walk_coin_sql("walk_id", k, seed)
        parts.append(
            f", cand{k} AS MATERIALIZED (SELECT w.walk_id, w.v AS cur,"
            f"   i.dst AS nxt,"
            f"   CAST(CASE WHEN i.dst = w.prev THEN {mr}"
            f"    WHEN EXISTS (SELECT 1 FROM edges m"
            f"     WHERE m.src = i.dst AND m.dst = w.prev) THEN {mc}"
            f"    ELSE {mf} END AS BIGINT) AS bw"
            f"   FROM w{k - 1} w JOIN edges i ON i.src = w.v)"
            f", pos{k} AS (SELECT walk_id, cur, nxt, bw,"
            f"   CAST(COALESCE(SUM(bw) OVER (PARTITION BY walk_id ORDER BY nxt"
            f"    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
            f"    AS BIGINT) AS lo,"
            f"   CAST(SUM(bw) OVER (PARTITION BY walk_id) AS BIGINT) AS tot"
            f"   FROM cand{k} WHERE bw > 0)"
            f", w{k} AS MATERIALIZED (SELECT walk_id, cur AS prev, nxt AS v"
            f"   FROM pos{k} WHERE lo <= ({coin} % tot)"
            f"   AND ({coin} % tot) < lo + bw)"
        )
    selects = " UNION ALL ".join(
        f"SELECT walk_id, CAST({k} AS INT) AS step, v AS vertex FROM w{k}"
        for k in range(0, length + 1)
    )
    return "".join(parts) + " " + selects


def _q_graph_summary(spark, sf):
    """One-row structural summary (counts, reciprocity, density,
    degree assortativity) of the doc graph."""
    from linkgraph import graph_summary

    return graph_summary(document_edges(spark, sf))


def _q_avg_neighbor_degree(spark, sf):
    """Degree-mixing profile knn(k): average neighbor degree per
    undirected degree class — one degree agg + one vertex-keyed
    self-join, SUM/COUNT division exact."""
    from linkgraph import avg_neighbor_degree

    return avg_neighbor_degree(document_edges(spark, sf))


def _q_rich_club(spark, sf):
    """Rich-club profile phi(k) for every k from suffix sums of the
    degree and min-endpoint-degree histograms — two shuffles total,
    no per-k scans."""
    from linkgraph import rich_club_profile

    return rich_club_profile(document_edges(spark, sf))


def _q_mis(spark, sf):
    """Luby maximal independent set over the undirected doc graph —
    coin-flip rounds; unrolled round-by-round oracle."""
    from linkgraph import maximal_independent_set

    out, res = maximal_independent_set(
        document_edges(spark, sf),
        seed=MIS_SEED,
        vertices=document_vertices(spark, sf),
        portable=True,
    )
    # the unrolled oracle replays MIS_ROUNDS rounds; more live rounds
    # would make it silently under-select — fail LOUDLY instead
    if not res.converged or res.supersteps > MIS_ROUNDS:
        raise RuntimeError(
            f"Luby MIS ran {res.supersteps} rounds "
            f"(converged={res.converged}); the unrolled oracle covers "
            f"{MIS_ROUNDS} rounds — raise MIS_ROUNDS"
        )
    return out


def _mis_sql(rounds: int, seed: int) -> str:
    """Unrolled Luby rounds: per round, live vertices draw the
    engine-neutral md5 coin (mis.mis_coin_sql), a vertex wins when its
    coin is strictly below every live neighbor's, and winners plus
    their neighbors leave the live set — the exact per-superstep rule
    algorithms/mis.py applies."""
    from linkgraph.algorithms.mis import mis_coin_sql

    parts = [
        "WITH " + EDGES_CTES.strip() + ", " + SYM_CTE.strip() + ",",
        " live0 AS (SELECT doc_id AS id FROM documents)",
    ]
    for k in range(1, rounds + 1):
        coin = mis_coin_sql("id", k, seed)
        # MATERIALIZED: each CTE is referenced several times; inlined
        # expansion would grow exponentially in the round count
        parts.append(
            f", coins{k} AS MATERIALIZED (SELECT id, {coin} AS ck FROM live{k - 1})"
            f", mn{k} AS (SELECT s.src AS id, MIN(c2.ck) AS mn FROM sym s"
            f"   JOIN coins{k} c1 ON c1.id = s.src"
            f"   JOIN coins{k} c2 ON c2.id = s.dst GROUP BY s.src)"
            f", sel{k} AS MATERIALIZED (SELECT c.id FROM coins{k} c"
            f"   LEFT JOIN mn{k} m ON m.id = c.id"
            f"   WHERE m.mn IS NULL OR c.ck < m.mn)"
            f", rem{k} AS (SELECT DISTINCT s.dst AS id FROM sym s"
            f"   JOIN sel{k} x ON x.id = s.src)"
            f", live{k} AS MATERIALIZED (SELECT id FROM live{k - 1}"
            f"   EXCEPT SELECT id FROM sel{k} EXCEPT SELECT id FROM rem{k})"
        )
    union = " UNION ALL ".join(f"SELECT id FROM sel{k}" for k in range(1, rounds + 1))
    parts.append(f", mis AS ({union})")
    parts.append(
        " SELECT d.doc_id AS id,"
        " CAST(CASE WHEN m.id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS in_mis"
        " FROM documents d LEFT JOIN mis m ON m.id = d.doc_id"
    )
    return "".join(parts)


def _q_topo(spark, sf):
    """Dependency levels (distributed Kahn peel) over the doc graph's
    forward-edge DAG skeleton with planted back-edge cycles — level =
    peel round, -1 = on/downstream of a cycle; unrolled oracle."""
    from pyspark.sql import functions as F

    from linkgraph.algorithms.toposort import dependency_levels

    dag = document_edges(spark, sf).filter(
        (F.col("src") < F.col("dst"))
        | (F.col("src") % TOPO_BACK_MOD == TOPO_BACK_RES)
    )
    out, res = dependency_levels(
        dag, vertices=document_vertices(spark, sf)
    )
    # the unrolled oracle replays TOPO_ROUNDS peel rounds; a deeper
    # peel would leave the oracle under-leveled — fail LOUDLY instead
    # (the final engine superstep is the no-op fixpoint check)
    if not res.converged or res.supersteps - 1 > TOPO_ROUNDS:
        raise RuntimeError(
            f"Kahn peel ran {res.supersteps} rounds "
            f"(converged={res.converged}); the unrolled oracle covers "
            f"{TOPO_ROUNDS} rounds — raise TOPO_ROUNDS"
        )
    return out


def _topo_sql(rounds: int) -> str:
    """Unrolled Kahn peel rounds over the same forward+back-edge view:
    per round, live vertices (level = -1) with no incoming edge from a
    live vertex take level k; the cyclic residue keeps -1 — the exact
    per-superstep rule algorithms/toposort.py applies."""
    parts = [
        "WITH " + EDGES_CTES.strip() + ",",
        f" dedges AS (SELECT src, dst FROM edges WHERE src < dst"
        f"   OR src % {TOPO_BACK_MOD} = {TOPO_BACK_RES}),",
        " lab0 AS (SELECT doc_id AS id, CAST(-1 AS BIGINT) AS level"
        "   FROM documents)",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f", hasin{k} AS (SELECT DISTINCT e.dst AS id FROM dedges e"
            f"   JOIN lab{k - 1} s ON s.id = e.src AND s.level = -1"
            f"   JOIN lab{k - 1} d ON d.id = e.dst AND d.level = -1)"
            f", lab{k} AS MATERIALIZED (SELECT l.id,"
            f"   CASE WHEN l.level = -1 AND h.id IS NULL"
            f"     THEN CAST({k - 1} AS BIGINT) ELSE l.level END AS level"
            f"   FROM lab{k - 1} l LEFT JOIN hasin{k} h ON h.id = l.id)"
        )
    parts.append(f" SELECT id, level FROM lab{rounds}")
    return "".join(parts)


def _q_matching(spark, sf):
    """Maximal matching over the undirected doc graph — local-minimum
    edge coins (Luby on the line graph); unrolled round-by-round
    oracle."""
    from linkgraph import maximal_matching

    out, res = maximal_matching(
        document_edges(spark, sf),
        seed=MM_SEED,
        vertices=document_vertices(spark, sf),
        portable=True,
    )
    # the unrolled oracle replays MM_ROUNDS matching rounds; more LIVE
    # rounds would make it silently under-match — fail LOUDLY instead.
    # The engine's stop signal is the round-START live-edge count, so a
    # converged run ends with one trailing empty round (hence + 1).
    if not res.converged or res.supersteps > MM_ROUNDS + 1:
        raise RuntimeError(
            f"maximal matching ran {res.supersteps} rounds "
            f"(converged={res.converged}); the unrolled oracle covers "
            f"{MM_ROUNDS} rounds — raise MM_ROUNDS"
        )
    return out


def _matching_sql(rounds: int, seed: int) -> str:
    """Unrolled matching rounds: per round, live canonical edges draw
    the engine-neutral md5 coin (matching.matching_coin_sql), each
    live vertex points at its lexicographically smallest incident live
    edge by (coin, u, v), an edge wins when BOTH endpoints point at
    it, and winners' endpoints record each other as mates — the exact
    per-superstep rule algorithms/matching.py applies (the argmin is
    ROW_NUMBER here, MIN(STRUCT(ck, u, v)) engine-side: same total
    order, same unique edge)."""
    from linkgraph.algorithms.matching import matching_coin_sql

    parts = [
        "WITH " + EDGES_CTES.strip() + ", " + SYM_CTE.strip() + ",",
        " canon AS (SELECT src AS u, dst AS v FROM sym WHERE src < dst),",
        " mate0 AS (SELECT doc_id AS id, CAST(-1 AS BIGINT) AS mate"
        "   FROM documents)",
    ]
    for k in range(1, rounds + 1):
        coin = matching_coin_sql("c.u", "c.v", k, seed)
        # MATERIALIZED: each CTE is referenced several times; inlined
        # expansion would grow exponentially in the round count
        parts.append(
            f", le{k} AS MATERIALIZED (SELECT c.u, c.v, {coin} AS ck"
            f"   FROM canon c"
            f"   JOIN mate{k - 1} mu ON mu.id = c.u AND mu.mate = -1"
            f"   JOIN mate{k - 1} mv ON mv.id = c.v AND mv.mate = -1)"
            f", inc{k} AS (SELECT u AS vid, u, v, ck FROM le{k}"
            f"   UNION ALL SELECT v AS vid, u, v, ck FROM le{k})"
            f", vm{k} AS (SELECT vid, u, v FROM (SELECT vid, u, v,"
            f"   ROW_NUMBER() OVER (PARTITION BY vid ORDER BY ck, u, v) AS rn"
            f"   FROM inc{k}) t WHERE rn = 1)"
            f", win{k} AS MATERIALIZED (SELECT u, v FROM vm{k}"
            f"   GROUP BY u, v HAVING COUNT(*) = 2)"
            f", mate{k} AS MATERIALIZED (SELECT m.id,"
            f"   COALESCE(w.mt, m.mate) AS mate FROM mate{k - 1} m"
            f"   LEFT JOIN (SELECT u AS id, v AS mt FROM win{k}"
            f"     UNION ALL SELECT v AS id, u AS mt FROM win{k}) w"
            f"   ON w.id = m.id)"
        )
    parts.append(f" SELECT id, mate FROM mate{rounds}")
    return "".join(parts)


def _q_msf(spark, sf):
    """Borůvka minimum spanning forest over the undirected doc graph
    with derived integer weights — the oracle recomputes it via an
    INDEPENDENT algorithm (sequential Kruskal as a single DuckDB
    list_reduce fold over the rank-ordered edge list), so the gate
    checks algorithmic agreement, not a replay of the engine's own
    rule. Unique under the total order (weight, u, v)."""
    from linkgraph.algorithms.msf import minimum_spanning_forest

    e = document_edges(spark, sf).selectExpr(
        "src",
        "dst",
        f"1 + (LEAST(src, dst)*31 + GREATEST(src, dst)) % {MSF_WEIGHT_MOD} AS w",
    )
    out, _rounds = minimum_spanning_forest(e, weight_col="w")
    return out


def _msf_sql() -> str:
    """Sequential Kruskal folded into ONE DuckDB list_reduce: the
    accumulator is an INT list holding dense component labels up front
    and picked edge ranks (offset by 10^6 so they can never collide
    with a label) appended at the back; each rank-ordered edge either
    merges two labels (one list_transform relabel + append its rank)
    or leaves the accumulator unchanged. Under the total order
    (weight, u, v) the MSF is unique, so this independent algorithm
    must produce exactly the engine's Borůvka edge set."""
    off = 1000000
    return (
        "WITH " + EDGES_CTES.strip() + ","
        " verts AS (SELECT doc_id AS id,"
        "   CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS INT) AS ix FROM documents),"
        " canon AS (SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v,"
        f"   MIN(1 + (LEAST(src, dst)*31 + GREATEST(src, dst)) % {MSF_WEIGHT_MOD}) AS w"
        "   FROM edges WHERE src <> dst GROUP BY 1, 2),"
        " krank AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY w, u, v) AS INT) AS k,"
        "   u, v, w, vu.ix AS iu, vv.ix AS iv"
        "   FROM canon JOIN verts vu ON vu.id = u JOIN verts vv ON vv.id = v),"
        " fold AS (SELECT list_reduce("
        "   list_prepend((SELECT list(ix ORDER BY ix) FROM verts),"
        "                (SELECT list([iu, iv, k] ORDER BY k) FROM krank)),"
        "   (acc, x) -> CASE WHEN acc[x[1]] <> acc[x[2]]"
        "     THEN list_append(list_transform(acc,"
        "       c -> CASE WHEN c = acc[x[2]] THEN acc[x[1]] ELSE c END),"
        f"       x[3] + {off})"
        "     ELSE acc END) AS st),"
        f" pickedk AS (SELECT unnest(list_filter(st, c -> c >= {off})) - {off} AS k"
        "   FROM fold)"
        " SELECT e.u, e.v, CAST(e.w AS BIGINT) AS weight"
        " FROM krank e JOIN pickedk p ON p.k = e.k"
    )


def _q_coloring(spark, sf):
    """Jones-Plassmann greedy coloring over the undirected doc graph —
    per-round coin winners pick the mex of colored-neighbor colors;
    unrolled round-by-round oracle."""
    from linkgraph import greedy_coloring

    out, res = greedy_coloring(
        document_edges(spark, sf),
        seed=COLORING_SEED,
        vertices=document_vertices(spark, sf),
        portable=True,
    )
    # the unrolled oracle replays COLORING_ROUNDS rounds; more live
    # rounds would leave oracle vertices uncolored — fail LOUDLY
    if not res.converged or res.supersteps > COLORING_ROUNDS:
        raise RuntimeError(
            f"Jones-Plassmann ran {res.supersteps} rounds "
            f"(converged={res.converged}); the unrolled oracle covers "
            f"{COLORING_ROUNDS} rounds — raise COLORING_ROUNDS"
        )
    return out


def _coloring_sql(rounds: int, seed: int) -> str:
    """Unrolled Jones-Plassmann rounds: per round, uncolored vertices
    draw the engine-neutral md5 coin (coloring.coloring_coin_sql), a
    vertex wins when its coin is strictly below every uncolored
    neighbor's, and each winner takes the mex of its already-colored
    neighbors' colors — computed relationally (mex = MIN over the
    candidates {0} ∪ {c+1 : c used} that are themselves unused), the
    exact per-superstep rule algorithms/coloring.py applies JVM-side
    via aggregate(array_sort(used), ...)."""
    from linkgraph.algorithms.coloring import coloring_coin_sql

    parts = [
        "WITH " + EDGES_CTES.strip() + ", " + SYM_CTE.strip() + ",",
        " live0 AS (SELECT doc_id AS id FROM documents),",
        " colored0 AS (SELECT CAST(NULL AS BIGINT) AS id,"
        "   CAST(NULL AS INT) AS color WHERE 1 = 0)",
    ]
    for k in range(1, rounds + 1):
        coin = coloring_coin_sql("id", k, seed)
        # MATERIALIZED: each CTE is referenced several times; inlined
        # expansion would grow exponentially in the round count
        parts.append(
            f", coins{k} AS MATERIALIZED (SELECT id, {coin} AS ck FROM live{k - 1})"
            f", mn{k} AS (SELECT s.src AS id, MIN(c2.ck) AS mn FROM sym s"
            f"   JOIN coins{k} c1 ON c1.id = s.src"
            f"   JOIN coins{k} c2 ON c2.id = s.dst GROUP BY s.src)"
            f", win{k} AS MATERIALIZED (SELECT c.id FROM coins{k} c"
            f"   LEFT JOIN mn{k} m ON m.id = c.id"
            f"   WHERE m.mn IS NULL OR c.ck < m.mn)"
            f", used{k} AS MATERIALIZED (SELECT DISTINCT s.src AS id, t.color"
            f"   FROM sym s JOIN win{k} w ON w.id = s.src"
            f"   JOIN colored{k - 1} t ON t.id = s.dst)"
            f", cand{k} AS ("
            f"   SELECT w.id, 0 AS c FROM win{k} w WHERE NOT EXISTS"
            f"     (SELECT 1 FROM used{k} u WHERE u.id = w.id AND u.color = 0)"
            f"   UNION ALL"
            f"   SELECT u.id, u.color + 1 AS c FROM used{k} u WHERE NOT EXISTS"
            f"     (SELECT 1 FROM used{k} u2 WHERE u2.id = u.id"
            f"      AND u2.color = u.color + 1))"
            f", pick{k} AS MATERIALIZED (SELECT id, CAST(MIN(c) AS INT) AS color"
            f"   FROM cand{k} GROUP BY id)"
            f", colored{k} AS MATERIALIZED (SELECT id, color FROM colored{k - 1}"
            f"   UNION ALL SELECT id, color FROM pick{k})"
            f", live{k} AS MATERIALIZED (SELECT id FROM live{k - 1}"
            f"   EXCEPT SELECT id FROM pick{k})"
        )
    parts.append(
        f" SELECT d.doc_id AS id, CAST(t.color AS INT) AS color"
        f" FROM documents d JOIN colored{rounds} t ON t.id = d.doc_id"
    )
    return "".join(parts)


def _q_bipartite(spark, sf):
    """Bipartiteness test + 2-coloring via parity-mask propagation over
    the undirected doc graph. The output is a pure function of the
    graph (no coin, no tie order): side = the parity of every walk from
    the component representative when that parity is unique, NULL when
    the component holds an odd cycle."""
    from linkgraph.algorithms.bipartite import bipartite_check

    out, res = bipartite_check(
        document_edges(spark, sf), vertices=document_vertices(spark, sf)
    )
    if not res.converged:
        raise RuntimeError(
            f"bipartite_check did not converge in {res.supersteps} "
            "supersteps — raise max_supersteps"
        )
    return out


def _bipartite_sql() -> str:
    """Independent parity-closure oracle: a recursive CTE enumerates
    (vertex, source, parity) walk states over the symmetrized edges, so
    (v, rep, p) holds iff some walk rep->v has parity p. The component
    label is min-reachable-id (the engine's CC rule); a component is
    bipartite iff no vertex is reachable from its representative at
    both parities, and then each vertex's unique parity IS its side —
    the graph-theoretic definition, not a replay of the engine's
    bitmask lattice."""
    return (
        "WITH RECURSIVE "
        + EDGES_CTES.strip()
        + ", "
        + SYM_CTE.strip()
        + ", reach(id, lbl, par) AS ("
        "   SELECT doc_id, doc_id, 0 FROM documents"
        "   UNION"
        "   SELECT s.dst, r.lbl, 1 - r.par FROM reach r JOIN sym s ON s.src = r.id"
        " ),"
        " comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id),"
        " pr AS (SELECT r.id, r.par FROM reach r"
        "   JOIN comp c ON c.id = r.id AND c.component = r.lbl),"
        " mask AS (SELECT id, MIN(par) AS mn, MAX(par) AS mx FROM pr GROUP BY id),"
        " cw AS (SELECT c.component,"
        "   MAX(CASE WHEN m.mn <> m.mx THEN 1 ELSE 0 END) AS bad"
        "   FROM comp c JOIN mask m ON m.id = c.id GROUP BY c.component)"
        " SELECT c.id, c.component,"
        "   CAST(CASE WHEN w.bad = 0 THEN m.mn END AS INT) AS side,"
        "   CAST(1 - w.bad AS INT) AS is_bipartite"
        " FROM comp c JOIN mask m ON m.id = c.id"
        " JOIN cw w ON w.component = c.component"
    )


def _q_cocitation(spark, sf):
    """Co-citation pairs (shared citers) over the DIRECTED doc graph —
    one center self-join + pair groupBy, cosine over true in-degrees."""
    from linkgraph.algorithms.cocitation import cocitation

    return cocitation(document_edges(spark, sf), min_common=2)


def _q_coupling(spark, sf):
    """Bibliographic-coupling pairs (shared targets) over the DIRECTED
    doc graph — same shape centered on the cited vertex."""
    from linkgraph.algorithms.cocitation import bibliographic_coupling

    return bibliographic_coupling(document_edges(spark, sf), min_common=2)


def _cocitation_sql(center: str, leaf: str) -> str:
    """Shared-center pair counts + cosine: center self-join with the
    identical 10_000 center cap (a no-op on this fixture, asserted by
    construction: doc out-degree tops out at 38) and HAVING >= 2; both
    engines compute cosine as one count / sqrt(bigint product) — single
    correctly-rounded IEEE ops, so the hash match is exact."""
    return (
        "WITH " + EDGES_CTES.strip() + ","
        f" rel AS (SELECT DISTINCT {center} AS center, {leaf} AS leaf FROM edges),"
        " nl AS (SELECT leaf, COUNT(*) AS n FROM rel GROUP BY leaf),"
        " cd AS (SELECT center, COUNT(*) AS cdeg FROM rel GROUP BY center),"
        " capped AS (SELECT r.center, r.leaf FROM rel r"
        "   JOIN cd ON cd.center = r.center WHERE cd.cdeg <= 10000),"
        " pairs AS (SELECT a.leaf AS u, b.leaf AS v,"
        "   CAST(COUNT(*) AS BIGINT) AS common"
        "   FROM capped a JOIN capped b"
        "   ON a.center = b.center AND a.leaf < b.leaf"
        "   GROUP BY 1, 2 HAVING COUNT(*) >= 2)"
        " SELECT p.u, p.v, p.common,"
        "   p.common / SQRT(CAST(nu.n * nv.n AS DOUBLE)) AS cosine"
        " FROM pairs p JOIN nl nu ON nu.leaf = p.u JOIN nl nv ON nv.leaf = p.v"
    )


def _q_rectangles(spark, sf):
    """Per-vertex rectangle (4-cycle) counts over the undirected doc
    graph via the opposite-pair identity rect(a) = sum_c C(codeg(a,c),2)
    — one center self-join + two integer aggregates, exact BIGINT."""
    from linkgraph.algorithms.rectangles import rectangle_counts

    return rectangle_counts(
        document_edges(spark, sf), vertices=document_vertices(spark, sf)
    )


def _rectangles_sql() -> str:
    """Same identity in DuckDB: symmetrized incidence self-joined on the
    shared center with the identical 10_000 center cap (a no-op on this
    fixture: symmetrized doc degree tops out well below it), codeg pairs
    with codeg >= 2, C(codeg, 2) exact in BIGINT (consecutive-integer
    product is even, and the double division is exact below 2^53),
    zero-filled over all documents."""
    return (
        "WITH " + EDGES_CTES.strip() + "," + SYM_CTE.strip() + ","
        " rel AS (SELECT src AS center, dst AS leaf FROM sym),"
        " cd AS (SELECT center, COUNT(*) AS cdeg FROM rel GROUP BY center),"
        " capped AS (SELECT r.center, r.leaf FROM rel r"
        "   JOIN cd ON cd.center = r.center WHERE cd.cdeg <= 10000),"
        " pairs AS (SELECT a.leaf AS u, b.leaf AS v,"
        "   CAST(COUNT(*) AS BIGINT) AS codeg"
        "   FROM capped a JOIN capped b"
        "   ON a.center = b.center AND a.leaf < b.leaf"
        "   GROUP BY 1, 2 HAVING COUNT(*) >= 2),"
        " pr AS (SELECT u, v, CAST(codeg*(codeg-1)/2 AS BIGINT) AS pr FROM pairs),"
        " per_v AS (SELECT id, CAST(SUM(pr) AS BIGINT) AS rect FROM"
        "   (SELECT u AS id, pr FROM pr UNION ALL SELECT v AS id, pr FROM pr)"
        "   GROUP BY id)"
        " SELECT d.doc_id AS id, COALESCE(p.rect, 0) AS rect"
        " FROM documents d LEFT JOIN per_v p ON p.id = d.doc_id"
    )


def _q_louvain(spark, sf):
    """One-level Louvain communities: synchronous greedy modularity
    moves with the alternating-direction oscillation guard, exact
    integer gain comparisons — fixed LOUVAIN_ROUNDS rounds on both
    engines so the gate is an exact unrolled replay."""
    from linkgraph.algorithms.louvain import greedy_modularity_communities

    return greedy_modularity_communities(
        document_edges(spark, sf),
        rounds=LOUVAIN_ROUNDS,
        vertices=document_vertices(spark, sf),
    )


def _louvain_sql(rounds: int) -> str:
    """Unrolled synchronous Louvain rounds in DuckDB: per round, the
    community-volume and edge-to-community aggregates, HUGEINT gain
    scores 2m*(e_vc-e_va') - deg_v*(vol_c-vol_rest), the direction
    filter (even: lower ids, odd: higher), and the directional
    tie-broken argmax."""
    parts = [
        "WITH " + EDGES_CTES.strip() + "," + SYM_CTE.strip() + ",",
        " vdeg AS (SELECT src AS id, COUNT(*) AS deg FROM sym GROUP BY src),",
        " twom AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m2 FROM sym),",
        " lab0 AS (SELECT doc_id AS id, doc_id AS community FROM documents)",
    ]
    for k in range(rounds):
        cmp_dir = "<" if k % 2 == 0 else ">"
        tie = "ASC" if k % 2 == 0 else "DESC"
        parts.append(
            f", vol{k} AS MATERIALIZED (SELECT l.community, SUM(d.deg) AS vol"
            f"   FROM lab{k} l JOIN vdeg d USING (id) GROUP BY 1)"
            f", evc{k} AS MATERIALIZED (SELECT s.src AS id, l.community AS c2,"
            f"   COUNT(*) AS e FROM sym s JOIN lab{k} l ON l.id = s.dst"
            f"   GROUP BY 1, 2)"
            f", cur{k} AS MATERIALIZED (SELECT l.id, l.community AS a,"
            f"   COALESCE(d.deg, 0) AS deg_v,"
            f"   COALESCE(v.vol, 0) - COALESCE(d.deg, 0) AS vol_rest,"
            f"   COALESCE(ea.e, 0) AS e_a"
            f"   FROM lab{k} l LEFT JOIN vdeg d USING (id)"
            f"   LEFT JOIN vol{k} v ON v.community = l.community"
            f"   LEFT JOIN evc{k} ea ON ea.id = l.id AND ea.c2 = l.community)"
            f", cand{k} AS MATERIALIZED (SELECT e.id, c.a, e.c2,"
            f"   (SELECT m2 FROM twom) * (e.e - c.e_a)"
            f"   - CAST(c.deg_v AS HUGEINT) * (v.vol - c.vol_rest) AS score"
            f"   FROM evc{k} e JOIN cur{k} c ON c.id = e.id"
            f"   JOIN vol{k} v ON v.community = e.c2"
            f"   WHERE e.c2 {cmp_dir} c.a)"
            f", best{k} AS (SELECT id, score, c2 AS c_new FROM ("
            f"   SELECT cand{k}.*, ROW_NUMBER() OVER (PARTITION BY id"
            f"    ORDER BY score DESC, c2 {tie}) AS rn FROM cand{k})"
            f"   WHERE rn = 1)"
            f", lab{k + 1} AS MATERIALIZED (SELECT l.id,"
            f"   CASE WHEN b.score > 0 THEN b.c_new ELSE l.community END"
            f"   AS community FROM lab{k} l"
            f"   LEFT JOIN best{k} b ON b.id = l.id)"
        )
    parts.append(f" SELECT id, community FROM lab{rounds}")
    return "".join(parts)


def _louvain_round_ctes(lvl: str, rel: str, rounds: int) -> str:
    """Weighted synchronous-move round CTEs over relation ``rel``
    (src, dst, w; self rows allowed) starting from ``{lvl}lab0`` — the
    _louvain_sql recurrence generalized to SUM(w) gathers with self
    rows excluded from edge-to-community weights (they move with the
    vertex, algorithms/louvain.py)."""
    parts = [
        f", {lvl}vdeg AS (SELECT src AS id, SUM(w) AS deg FROM {rel}"
        f"  GROUP BY src)"
    ]
    for k in range(rounds):
        cmp_dir = "<" if k % 2 == 0 else ">"
        tie = "ASC" if k % 2 == 0 else "DESC"
        parts.append(
            f", {lvl}vol{k} AS MATERIALIZED (SELECT l.community,"
            f"   SUM(d.deg) AS vol"
            f"   FROM {lvl}lab{k} l JOIN {lvl}vdeg d USING (id) GROUP BY 1)"
            f", {lvl}evc{k} AS MATERIALIZED (SELECT s.src AS id,"
            f"   l.community AS c2, SUM(s.w) AS e"
            f"   FROM {rel} s JOIN {lvl}lab{k} l ON l.id = s.dst"
            f"   WHERE s.src != s.dst GROUP BY 1, 2)"
            f", {lvl}cur{k} AS MATERIALIZED (SELECT l.id, l.community AS a,"
            f"   COALESCE(d.deg, 0) AS deg_v,"
            f"   COALESCE(v.vol, 0) - COALESCE(d.deg, 0) AS vol_rest,"
            f"   COALESCE(ea.e, 0) AS e_a"
            f"   FROM {lvl}lab{k} l LEFT JOIN {lvl}vdeg d USING (id)"
            f"   LEFT JOIN {lvl}vol{k} v ON v.community = l.community"
            f"   LEFT JOIN {lvl}evc{k} ea ON ea.id = l.id"
            f"    AND ea.c2 = l.community)"
            f", {lvl}cand{k} AS MATERIALIZED (SELECT e.id, c.a, e.c2,"
            f"   (SELECT m2 FROM twom) * (e.e - c.e_a)"
            f"   - CAST(c.deg_v AS HUGEINT) * (v.vol - c.vol_rest) AS score"
            f"   FROM {lvl}evc{k} e JOIN {lvl}cur{k} c ON c.id = e.id"
            f"   JOIN {lvl}vol{k} v ON v.community = e.c2"
            f"   WHERE e.c2 {cmp_dir} c.a)"
            f", {lvl}best{k} AS (SELECT id, score, c2 AS c_new FROM ("
            f"   SELECT {lvl}cand{k}.*, ROW_NUMBER() OVER (PARTITION BY id"
            f"    ORDER BY score DESC, c2 {tie}) AS rn FROM {lvl}cand{k})"
            f"   WHERE rn = 1)"
            f", {lvl}lab{k + 1} AS MATERIALIZED (SELECT l.id,"
            f"   CASE WHEN b.score > 0 THEN b.c_new ELSE l.community END"
            f"   AS community FROM {lvl}lab{k} l"
            f"   LEFT JOIN {lvl}best{k} b ON b.id = l.id)"
        )
    return "".join(parts)


def _louvain_ml_sql(rounds: int) -> str:
    """Unrolled TWO-level Louvain: level-1 weighted rounds over the
    w = 1 symmetric relation, one contraction aggregate (intra weight
    on self rows), level-2 rounds over the contracted relation, final
    down-mapping — 2m shared across levels (contraction preserves total
    weight)."""
    parts = [
        "WITH " + EDGES_CTES.strip() + "," + SYM_CTE.strip() + ",",
        " ws1 AS (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM sym),",
        " twom AS (SELECT CAST(SUM(w) AS HUGEINT) AS m2 FROM ws1),",
        " L1lab0 AS (SELECT doc_id AS id, doc_id AS community FROM documents)",
        _louvain_round_ctes("L1", "ws1", rounds),
        f", ws2 AS MATERIALIZED (SELECT la.community AS src,"
        f"  lb.community AS dst, SUM(s.w) AS w"
        f"  FROM ws1 s JOIN L1lab{rounds} la ON la.id = s.src"
        f"  JOIN L1lab{rounds} lb ON lb.id = s.dst GROUP BY 1, 2)",
        f", L2lab0 AS (SELECT DISTINCT community AS id, community"
        f"  FROM L1lab{rounds})",
        _louvain_round_ctes("L2", "ws2", rounds),
        f" SELECT f.id, f.community AS c1, t.community AS c2,"
        f" t.community AS community"
        f" FROM L1lab{rounds} f JOIN L2lab{rounds} t ON t.id = f.community",
    ]
    return "".join(parts)


def _q_repo_communities(spark, sf):
    """WEIGHTED Louvain over the repo rollup — reference-count edge
    weights drive the modularity gains (the weighted move core,
    algorithms/louvain.py), exact-integer under 2m = total symmetric
    weight."""
    from linkgraph.algorithms.louvain import greedy_modularity_communities

    redges = _q_repo_rollup(spark, sf).select(
        F.col("src_repo").alias("src"),
        F.col("dst_repo").alias("dst"),
        "weight",
    )
    return greedy_modularity_communities(
        redges, rounds=LOUVAIN_ROUNDS, weight_col="weight"
    )


def _repo_communities_sql(rounds: int) -> str:
    """Unrolled weighted Louvain over the repo rollup: both-direction
    weight symmetrization, then the weighted round CTEs."""
    return (
        "WITH "
        + EDGES_CTES.strip()
        + ", "
        + _REPO_EDGES_CTE
        + ", und AS (SELECT LEAST(src_repo, dst_repo) AS u,"
        "  GREATEST(src_repo, dst_repo) AS v, SUM(weight) AS w"
        "  FROM repo_edges GROUP BY 1, 2)"
        ", wsr AS (SELECT u AS src, v AS dst, w FROM und"
        "  UNION ALL SELECT v AS src, u AS dst, w FROM und)"
        ", twom AS (SELECT CAST(SUM(w) AS HUGEINT) AS m2 FROM wsr)"
        ", Rlab0 AS (SELECT DISTINCT src AS id, src AS community FROM wsr)"
        + _louvain_round_ctes("R", "wsr", rounds)
        + f" SELECT id, community FROM Rlab{rounds}"
    )


def _q_louvain_hierarchy(spark, sf):
    """Full multi-level Louvain: two move phases with one contraction
    between them (algorithms/louvain.louvain_multilevel) — per-level
    and final labels per original vertex, all exact-integer gains under
    the shared 2m."""
    from linkgraph.algorithms.louvain import louvain_multilevel

    return louvain_multilevel(
        document_edges(spark, sf),
        levels=2,
        rounds=LOUVAIN_ROUNDS,
        vertices=document_vertices(spark, sf),
    )


def _q_landmarks(spark, sf):
    """Landmark distance labels: ONE composite-key BFS from the top-4
    degree pivots of the symmetrized doc graph, hop-bounded at LM_HOPS
    on both engines so the gate is exact by construction."""
    from linkgraph.algorithms.landmarks import landmark_distances

    out, _lms = landmark_distances(
        document_edges(spark, sf), num_landmarks=LM_COUNT, max_depth=LM_HOPS
    )
    return out


def _landmarks_sql() -> str:
    """Same labels in DuckDB: degree-ordered LIMIT picks the identical
    pivots (deterministic id tiebreak), a hop-bounded recursive CTE
    walks the symmetrized edges, MIN(d) per (landmark, vertex)."""
    return (
        "WITH RECURSIVE " + EDGES_CTES.strip() + "," + SYM_CTE.strip() + ","
        " lms AS (SELECT src AS lm FROM ("
        "   SELECT src, COUNT(*) AS dg FROM sym GROUP BY src"
        f"   ORDER BY dg DESC, src LIMIT {LM_COUNT})),"
        " walk(lm, id, d) AS ("
        "   SELECT lm, lm, 0 FROM lms"
        "   UNION"
        "   SELECT w.lm, e.dst, w.d + 1 FROM walk w"
        f"   JOIN sym e ON e.src = w.id WHERE w.d < {LM_HOPS}"
        " )"
        " SELECT id, lm AS landmark, CAST(MIN(d) AS INT) AS dist"
        " FROM walk GROUP BY id, lm"
    )


def _q_structsim(spark, sf):
    """Structural similarity (neighborhood MinHash-LSH + exact-Jaccard
    verify) over the symmetrized doc graph — the 100 TB tier of the
    cocitation matrix; portable md5 base hash so the full LSH chain is
    oracle-reproducible."""
    from linkgraph.algorithms.structsim import neighborhood_minhash_pairs

    return neighborhood_minhash_pairs(
        document_edges(spark, sf),
        num_hashes=NMH_HASHES,
        bands=NMH_BANDS,
        threshold=NMH_T,
        seed=NMH_SEED,
        portable=True,
    )


def _structsim_sql() -> str:
    """The identical LSH chain in DuckDB: md5-digit base hash,
    (a*x+b) mod 2^31-1 signature mins with the engine's literal (a, b)
    draws, md5 band buckets, bucket-join candidates, exact Jaccard
    common/(deg_u+deg_v-common) in one IEEE division."""
    from linkgraph.phash import md5_digits_sql
    from linkgraph.pipeline.dedup import MINHASH_P, _hash_params

    a, b = _hash_params(NMH_HASHES, NMH_SEED)
    r = NMH_HASHES // NMH_BANDS
    params = ", ".join(
        f"({i + 1}, {int(a[i])}, {int(b[i])})" for i in range(NMH_HASHES)
    )
    return (
        "WITH " + EDGES_CTES.strip() + "," + SYM_CTE.strip() + ","
        " nx AS MATERIALIZED (SELECT src AS v, dst AS n FROM sym),"
        " nh AS MATERIALIZED (SELECT v, n,"
        "  md5(concat_ws(':', 'nmh', CAST(n AS VARCHAR))) AS h FROM nx),"
        f" nxx AS MATERIALIZED (SELECT v, {md5_digits_sql('h', 7)} AS x FROM nh),"
        f" params AS (SELECT * FROM (VALUES {params}) p(i, a, b)),"
        f" sigs AS MATERIALIZED (SELECT s.v, p.i,"
        f"  MIN((s.x * p.a + p.b) % {MINHASH_P}) AS m"
        f"  FROM nxx s CROSS JOIN params p GROUP BY s.v, p.i),"
        " sigarr AS MATERIALIZED (SELECT v, list(m ORDER BY i) AS sig"
        "  FROM sigs GROUP BY v),"
        " banded AS MATERIALIZED (SELECT v, g.bd AS band,"
        f"  md5(array_to_string(sig[g.bd*{r}+1:g.bd*{r}+{r}], ',')) AS bucket"
        f"  FROM sigarr CROSS JOIN generate_series(0, {NMH_BANDS - 1}) g(bd)),"
        " cands AS MATERIALIZED (SELECT DISTINCT a.v AS u, b.v AS v"
        "  FROM banded a JOIN banded b"
        "  ON a.band = b.band AND a.bucket = b.bucket AND a.v < b.v),"
        " vdeg AS (SELECT v, COUNT(*) AS dg FROM nx GROUP BY v),"
        " com AS (SELECT c.u, c.v, CAST(COUNT(*) AS BIGINT) AS common"
        "  FROM cands c JOIN nx x1 ON x1.v = c.u JOIN nx x2 ON x2.v = c.v"
        "  AND x2.n = x1.n GROUP BY c.u, c.v)"
        " SELECT m.u, m.v, m.common,"
        "  CAST(m.common AS DOUBLE) /"
        "  CAST(du.dg + dv.dg - m.common AS DOUBLE) AS jaccard"
        " FROM com m JOIN vdeg du ON du.v = m.u JOIN vdeg dv ON dv.v = m.v"
        f" WHERE CAST(m.common AS DOUBLE) /"
        f"  CAST(du.dg + dv.dg - m.common AS DOUBLE) >= {NMH_T}"
    )


def _q_salsa(spark, sf):
    """SALSA hub/authority scores via the closed form: degree ratios
    within double-cover components (one CC run over |E| edges, no
    power iteration, no quadratic projection). Exact integer ratios in
    ONE double division each, so the gate is a full hash match."""
    from linkgraph.algorithms.salsa import salsa_scores

    out, res = salsa_scores(
        document_edges(spark, sf), vertices=document_vertices(spark, sf)
    )
    if not res.converged:
        raise RuntimeError(
            f"salsa CC phase did not converge in {res.supersteps} "
            "supersteps — raise max_supersteps"
        )
    return out


def _salsa_sql() -> str:
    """Independent oracle: recursive min-label closure over the
    symmetrized double cover (hub copy 2u, authority copy 2v+1), then
    indeg/outdeg window ratios per component — the Lempel-Moran
    stationary distribution computed from the definition."""
    return (
        "WITH RECURSIVE "
        + EDGES_CTES.strip()
        + ","
        " dc AS (SELECT src*2 AS s, dst*2+1 AS d FROM edges),"
        " symdc AS (SELECT s, d FROM dc UNION SELECT d, s FROM dc),"
        " dverts AS (SELECT DISTINCT s AS v FROM symdc),"
        " reach(id, lbl) AS ("
        "   SELECT v, v FROM dverts"
        "   UNION"
        "   SELECT sy.d, r.lbl FROM reach r JOIN symdc sy ON sy.s = r.id"
        " ),"
        " comp AS (SELECT id, MIN(lbl) AS c FROM reach GROUP BY id),"
        " odeg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS od"
        "   FROM edges GROUP BY src),"
        " ideg AS (SELECT dst AS id, CAST(COUNT(*) AS BIGINT) AS idg"
        "   FROM edges GROUP BY dst),"
        " hubs AS (SELECT o.id, CAST(o.od AS DOUBLE) /"
        "   CAST(SUM(o.od) OVER (PARTITION BY cm.c) AS DOUBLE) AS hub"
        "   FROM odeg o JOIN comp cm ON cm.id = o.id*2),"
        " auths AS (SELECT i.id, CAST(i.idg AS DOUBLE) /"
        "   CAST(SUM(i.idg) OVER (PARTITION BY cm.c) AS DOUBLE) AS authority"
        "   FROM ideg i JOIN comp cm ON cm.id = i.id*2+1)"
        " SELECT d.doc_id AS id, h.hub, a.authority"
        " FROM documents d LEFT JOIN hubs h ON h.id = d.doc_id"
        " LEFT JOIN auths a ON a.id = d.doc_id"
    )


def _q_cooccur(spark, sf):
    """Token co-occurrence graph built FROM the corpus (doc-level
    distinct-token pairs, df caps shared exactly with the oracle). The
    fixture vocabulary has 30 near-ubiquitous terms (df 373-402 of 500)
    plus one rare term; max_df=390 keeps the lower half so the cap is
    exercised, not vacuous."""
    from linkgraph.pipeline.cooccur import token_cooccurrence

    return token_cooccurrence(
        load_documents(spark, sf), min_df=2, max_df=390, min_count=2
    )


def _cooccur_sql() -> str:
    """Same construction relationally: distinct incidence -> df filter
    -> doc-centered self-join -> pair counts; integer counts only."""
    return (
        "WITH dt AS (SELECT DISTINCT doc_id, t AS term FROM"
        "   (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)"
        "   WHERE t <> ''),"
        " dfx AS (SELECT term, COUNT(*) AS df FROM dt GROUP BY term),"
        " kept AS (SELECT dt.doc_id, dt.term FROM dt"
        "   JOIN dfx ON dfx.term = dt.term WHERE df BETWEEN 2 AND 390)"
        " SELECT a.term AS u, b.term AS v, CAST(COUNT(*) AS BIGINT) AS n_docs"
        " FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.term < b.term"
        " GROUP BY 1, 2 HAVING COUNT(*) >= 2"
    )


def _random_walks_sql(w: int, length: int, seed: int) -> str:
    """Unrolled walk chain: step k joins step k-1 against the indexed
    edge relation on (src, idx = coin % deg) — the exact rule
    algorithms/walks.py applies per superstep, coin =
    walks.walk_coin_sql (engine-neutral md5 digit terms)."""
    from linkgraph.algorithms.walks import walk_coin_sql

    parts = [
        "WITH " + EDGES_CTES.strip() + ",",
        " ie AS (SELECT src, dst,"
        "  ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,"
        "  COUNT(*) OVER (PARTITION BY src) AS odeg FROM edges),",
        f" w0 AS (SELECT doc_id * {w} + r.r AS walk_id, doc_id AS v"
        f"  FROM documents CROSS JOIN"
        f"  (SELECT unnest(generate_series(0, {w - 1})) AS r) r)",
    ]
    for k in range(1, length + 1):
        coin = walk_coin_sql("w.walk_id", k, seed)
        parts.append(
            f", w{k} AS (SELECT w.walk_id, i.dst AS v FROM w{k - 1} w"
            f"  JOIN ie i ON i.src = w.v AND i.idx = ({coin} % i.odeg))"
        )
    selects = " UNION ALL ".join(
        f"SELECT walk_id, CAST({k} AS INT) AS step, v AS vertex FROM w{k}"
        for k in range(0, length + 1)
    )
    return "".join(parts) + " " + selects


def _q_kmeans(spark, sf):
    from linkgraph import kmeans

    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("features")
    )
    res = kmeans(emb, k=5, max_iterations=5)
    # scalar (cluster, dim, value) rows — ARRAY<DOUBLE> centers break
    # the driver's pandas canonicalizer (sort_values on lists)
    rows = [
        (ci, di, round(float(x), 6))
        for ci, center in enumerate(res.model)
        for di, x in enumerate(center)
    ]
    return spark.createDataFrame(rows, "cluster INT, dim INT, value DOUBLE")


def _q_bgd(spark, sf):
    """IMRU batch gradient descent (reference BGDJob): linear
    regression over the embeddings with a deterministic synthetic
    label 2*x0 - x1 + 0.5*x2; 5 fixed updates from a zero weight
    vector. Output (dim, weight) scalar rows; oracle = unrolled
    gradient steps in SQL (_bgd_sql)."""
    from linkgraph import batch_gradient_descent

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    ex = emb.select(
        F.col("embedding").cast("array<double>").alias("features"),
        (
            2 * F.col("embedding").getItem(0).cast("double")
            - F.col("embedding").getItem(1).cast("double")
            + 0.5 * F.col("embedding").getItem(2).cast("double")
        ).alias("label"),
    )
    res = batch_gradient_descent(ex, max_iterations=BGD_UPDATES, learning_rate=0.1)
    rows = [(d, round(float(x), 6)) for d, x in enumerate(res.model)]
    return spark.createDataFrame(rows, "dim INT, weight DOUBLE")


def _q_ivf_topk(spark, sf):
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return ivf_cosine_topk(emb, queries, k=TOPK, n_clusters=8, n_probe=4)


def _q_motif_time_chains(spark, sf):
    """Temporal motifs via NAMED pattern edges: time-respecting 2-chains
    a-e1->b-e2->c with e2.t >= e1.t over the derivable timestamps —
    edge attributes ride the match as e1_t/e2_t columns, temporal order
    is one where-clause (algorithms/motif_match.py named-edge tier)."""
    from linkgraph.algorithms.motif_match import motif_find

    tedges = document_edges(spark, sf).withColumn(
        "t", ((F.col("src") * 13 + F.col("dst") * 7) % 97).cast("long")
    )
    return motif_find(
        tedges,
        "(a)-[e1]->(b); (b)-[e2]->(c)",
        where="e2_t >= e1_t AND a != c",
    )


def _q_partition_report(spark, sf):
    """Partition-quality introspection: per-partition vertex/edge
    balance + cut edges of the md5-coin hash assignment over the doc
    graph (algorithms/partition_stats.py) — the meter for sizing
    num_partitions and judging placement changes."""
    from linkgraph.algorithms.partition_stats import partition_quality

    return partition_quality(
        document_edges(spark, sf),
        n_parts=8,
        vertices=document_vertices(spark, sf),
        portable=True,
    )


def _q_graph_delta(spark, sf):
    """Snapshot diff: per-vertex degree deltas between the document
    graph and a derivable perturbation of it (drop edges with
    (src+dst)%17==0, add reversed edges with (src*7+dst)%23==0) — the
    warm-restart activation frontier (algorithms/diff.py)."""
    from linkgraph.algorithms.diff import vertex_delta

    old = document_edges(spark, sf)
    kept = old.filter((F.col("src") + F.col("dst")) % 17 != 0)
    flipped = old.filter((F.col("src") * 7 + F.col("dst")) % 23 == 0).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return vertex_delta(old, kept.unionByName(flipped))


def _q_triangle_delta(spark, sf):
    """Incremental triangle maintenance over the snapshot diff: the
    engine enumerates only triangles incident to changed pairs
    (churn-proportional); the oracle independently enumerates ALL
    triangles of both snapshots and classifies them."""
    from linkgraph.algorithms.diff import triangle_delta

    old = document_edges(spark, sf)
    kept = old.filter((F.col("src") + F.col("dst")) % 17 != 0)
    flipped = old.filter((F.col("src") * 7 + F.col("dst")) % 23 == 0).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return triangle_delta(old, kept.unionByName(flipped))


def _q_incremental_cc(spark, sf):
    """Composed incremental update (VERDICT r3 #6): snapshot diff →
    deletion-aware warm CC restart (algorithms/incremental.py). Old
    snapshot = the document graph; new = the same 17/23 perturbation as
    graph_delta (deletions AND additions, so the component-reset path
    runs). The oracle computes the NEW graph's components cold — a
    hash match proves the warm path lands on the exact cold answer."""
    from linkgraph import connected_components
    from linkgraph.algorithms.incremental import incremental_cc

    old = document_edges(spark, sf)
    kept = old.filter((F.col("src") + F.col("dst")) % 17 != 0)
    flipped = old.filter((F.col("src") * 7 + F.col("dst")) % 23 == 0).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    new = kept.unionByName(flipped)
    verts = document_vertices(spark, sf)
    old_labels, _ = connected_components(old, vertices=verts)
    labels, _ = incremental_cc(new, old, old_labels, vertices=verts)
    return labels


def _q_duplicate_spans(spark, sf):
    """Cross-doc duplicated text spans (span-granular substring dedup,
    Lee et al. 2022 tier): maximal token ranges whose every word 4-gram
    occurs in >= 2 distinct documents; the oracle replays positional
    shingles, document frequency, and the gaps-and-islands merge."""
    from linkgraph.pipeline import duplicate_spans

    return duplicate_spans(
        load_documents(spark, sf), n=DUPSPAN_N, min_docs=2, portable=True
    )


def _q_dedup_cut_pipeline(spark, sf):
    """The Lee-et-al two-stage dedup a training corpus actually runs,
    as ONE dataflow: doc-granular near-dup dedup first (canonical_docs
    keeps the best-quality survivor per MinHash-LSH cluster), then
    span-granular substring dedup over the KEPT corpus
    (cut_duplicate_spans removes the cross-doc boilerplate the doc
    pass cannot see). Both stages are individually gated operators;
    this gate checks the composition end to end."""
    from linkgraph.pipeline.dedup import canonical_docs, cut_duplicate_spans

    docs = load_documents(spark, sf)
    surv = canonical_docs(docs, threshold=0.3, portable=True)
    kept = docs.join(
        surv.select(F.col("kept_doc_id").alias("doc_id")), "doc_id"
    )
    return cut_duplicate_spans(kept, n=DUPSPAN_N, min_docs=2, portable=True)


def _q_maintained_stream(spark, sf):
    """Maintained-stream state gated in batch (VERDICT r4 #5): the
    document graph's edges land as a deterministic two-batch arrival
    sequence ((src + dst) % 3 split) and fold through
    maintained_graph_stream's foreachBatch into the versioned state
    dir — epoch 0 cold, epoch 1 via the deletion-aware warm CC restart
    and the maintained triangle delta. Returns the committed epoch's
    labels joined with the maintained triangle total and the epoch
    number; the oracle COLD-computes CC + the wedge-join triangle
    count on the union and pins epoch = 1, so the gate proves both
    that two folds committed and that the incrementally maintained
    state equals the from-scratch answer."""
    import os
    import shutil
    import tempfile

    from linkgraph.streaming import (
        maintained_graph_stream,
        read_maintained_state,
    )

    base = tempfile.mkdtemp(prefix="mstream_gate_")
    try:
        ingest = os.path.join(base, "ingest")
        os.makedirs(ingest)
        state = os.path.join(base, "state")
        ck = os.path.join(base, "ck")
        edges = document_edges(spark, sf)
        key = (F.col("src") + F.col("dst")) % 3
        edges.filter(key != 0).coalesce(1).write.parquet(os.path.join(ingest, "b1"))
        maintained_graph_stream(spark, ingest + "/*", state, ck)
        edges.filter(key == 0).coalesce(1).write.parquet(os.path.join(ingest, "b2"))
        maintained_graph_stream(spark, ingest + "/*", state, ck)
        _, labels, tri, epoch = read_maintained_state(spark, state)
        # materialized before the state tree goes
        return labels.select(
            "id",
            "component",
            F.lit(int(tri)).cast("long").alias("total_triangles"),
            F.lit(int(epoch)).cast("long").alias("epoch"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _q_cut_duplicate_spans(spark, sf):
    """The substring-dedup CUT (dedup.py cut_duplicate_spans): the
    corpus rewritten with every cross-doc duplicated span removed —
    tokens outside the spans survive in order, one output row per doc.
    The oracle replays span discovery then rebuilds each text from the
    uncovered token positions with string_agg."""
    from linkgraph.pipeline import cut_duplicate_spans

    return cut_duplicate_spans(
        load_documents(spark, sf), n=DUPSPAN_N, min_docs=2, portable=True
    )


def _q_component_renumber(spark, sf):
    """Locality renumbering (partition_stats.renumber_by_label): dense
    contiguous ids ordered by (component, id) over the document graph's
    CC labels — the placement prelude that makes range partitioning
    community-aligned. JVM-side dense rank (partitioning.dense_index:
    range repartition + per-partition row_number + O(p) offsets); the
    oracle is ROW_NUMBER over the recursive-CC labels."""
    from linkgraph import connected_components
    from linkgraph.algorithms.partition_stats import renumber_by_label

    labels, _ = connected_components(
        document_edges(spark, sf),
        vertices=document_vertices(spark, sf),
    )
    return renumber_by_label(labels)


def _q_chunk_documents(spark, sf):
    """RAG-corpus chunking: sliding CHUNK_SIZE-token windows with
    CHUNK_OVERLAP shared tokens (pipeline/packing.chunk_documents) —
    one scan, exact integer window arithmetic, chunk text string-equal
    across engines."""
    from linkgraph.pipeline.packing import chunk_documents

    return chunk_documents(
        load_documents(spark, sf), chunk_size=CHUNK_SIZE, overlap=CHUNK_OVERLAP
    )


def _q_motif_open_triads(spark, sf):
    """The general motif query surface: feed-forward OPEN triads
    (a->b->c with no closing a->c edge, a != c) via the declarative
    pattern compiler (algorithms/motif_match.py) — joins + anti-join
    generated from the pattern string."""
    from linkgraph.algorithms.motif_match import motif_find

    return motif_find(
        document_edges(spark, sf),
        "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)",
        where="a != c",
    )


def _q_pq_topk(spark, sf):
    """Product-quantization ADC top-k: per-subspace IMRU codebooks,
    m-byte codes, distance-table scan as a pure JVM expression
    (pipeline/similarity.pq_topk); the whole train->encode->scan chain
    unrolls into the oracle."""
    from linkgraph.pipeline.similarity import pq_topk

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return pq_topk(
        emb, queries, k=TOPK, m=PQ_M, ks=PQ_KS, kmeans_iterations=PQ_ITERS
    )


def _q_multimodal(spark, sf):
    from linkgraph.pipeline.multimodal import extract_features, synth_media

    return extract_features(synth_media(spark, n=64)).drop("feature").withColumn(
        "n_bytes", F.col("n_bytes").cast("long")
    )


def _q_multimodal_raw(spark, sf):
    """REAL decode tier: RAWI/RAWA payloads decoded to pixels/PCM, then
    resize + feature-extract in the Arrow batches. The feature values
    come from seeded-numpy payloads (not SQL-expressible) but the
    scalar projection is fully determined by synth_raw_media's
    construction, so gating it verifies the decode path ran (a length
    mismatch or bad magic raises inside the UDF) and the binary
    round-trip was exact."""
    from linkgraph.pipeline.multimodal import extract_features, synth_raw_media

    return extract_features(synth_raw_media(spark, n=48), decode_stub="raw").drop(
        "feature"
    ).withColumn("n_bytes", F.col("n_bytes").cast("long"))


def _q_multimodal_codec(spark, sf):
    """REAL container-codec tier (round 4): PNG payloads inflate through
    stdlib zlib + numpy per-row unfilter (all five filter types appear
    in the fixture), WAV through the RIFF struct parse; the decoded
    pixel/sample data reduces to exact-integer invariants (unit count +
    content sum) whose closed forms the oracle recomputes. MP4 remains
    the one honest stub."""
    from linkgraph.pipeline.multimodal import decode_summary, synth_codec_media

    return decode_summary(synth_codec_media(spark, n=40))


def _q_mp4_metadata(spark, sf):
    """MP4 metadata box walk (VERDICT r4 #6): REAL ISO-BMFF containers
    (hand-built box writer, closed-form tracks) parsed by the stdlib
    ftyp/moov/mvhd/trak walk (codecs.mp4_metadata) into exact-integer
    routing metadata; the oracle recomputes every closed form. Frame
    decode stays honestly out of scope — this is the header
    projection a video pipeline filters on without touching mdat."""
    from linkgraph.pipeline.multimodal import mp4_summary, synth_mp4_media

    return mp4_summary(synth_mp4_media(spark, n=30))


def _q_video_frame_plan(spark, sf):
    """Video frame-sampling plan over the real MP4 table: one row per
    planned frame timestamp (JVM-side sequence explode on the
    container-walked duration) — the scheduling half of frame
    extraction, with the grab itself out of scope (ffmpeg)."""
    from linkgraph.pipeline.multimodal import frame_sample_plan, synth_mp4_media

    return frame_sample_plan(synth_mp4_media(spark, n=30), every_ms=700)


# Gate rotation: the per-round CORRECTNESS gate checks the
# FIRST ~50 entries of queries() in dict order.  The window is filled
# oldest-gate-first: never-gated queries, then those whose latest green
# gate (CORRECTNESS_r*.json) is oldest, so the longest-ungated
# queries are always gated next.  tools/gate_rotation.py derives /
# audits this list (regenerate it with `--emit`).
_GATE_FRONT = [
    # latest green gate: r02
    "normalize_text",
    "contamination_check",
    "embedding_cosine_topk",
    "customer_orders_by_nation",
    "pricing_summary",
    "big_spenders_semi",
    "customers_without_orders",
    "events_per_type",
    "events_hourly",
    "minhash_lsh_pairs",
    "dedup_clusters",
    "distinct_token_sketch",
    "simhash64",
    "simhash_pairs",
    "embedding_lsh_topk",
    "embedding_neardup_pairs",
    "embedding_ivf_topk",
    "multimodal_features",
    "multimodal_raw_decode",
    "graph_sample",
    "kmeans_centers",
    "maximum_cliques",
    "bgd_weights",
    # latest green gate: r03
    "edge_derivation",
    "degree_distribution",
    "pagerank",
    "connected_components",
    "connected_components_hashmin",
    "strongly_connected_components",
    "label_propagation",
    "lpa_modularity",
    "community_conductance",
    "triangles_per_vertex",
    "triangle_total",
    "clustering_coefficient",
    "transitivity",
    "sssp_hops",
    "sssp_vertex_program",
    "sssp_weighted",
    "temporal_reachability",
    "temporal_departure",
    "degree_weighted_pagerank",
    "repo_rollup",
    "weighted_repo_pagerank",
    "link_prediction",
    "personalized_pagerank",
    "ppr_sweep_cut",
    "hits_scores",
    "kcore_membership",
    "ktruss_edges",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = _base_queries()
    ordered = {name: base[name] for name in _GATE_FRONT}
    ordered.update({k: v for k, v in base.items() if k not in ordered})
    return ordered


def _base_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "edge_derivation": _q_edges,
        "degree_distribution": _q_degree_distribution,
        "pagerank": _q_pagerank,
        "connected_components": _q_cc,
        "connected_components_hashmin": _q_cc_hashmin,
        "strongly_connected_components": _q_scc,
        "label_propagation": _q_lpa,
        "lpa_modularity": _q_lpa_modularity,
        "community_conductance": _q_community_conductance,
        "triangles_per_vertex": _q_triangles,
        "triangle_total": _q_triangle_total,
        "clustering_coefficient": _q_clustering,
        "transitivity": _q_transitivity,
        "sssp_hops": _q_sssp,
        "sssp_vertex_program": _q_sssp_vp,
        "sssp_weighted": _q_sssp_weighted,
        "temporal_reachability": _q_temporal_reachability,
        "temporal_departure": _q_temporal_departure,
        "degree_weighted_pagerank": _q_dw_pagerank,
        "repo_rollup": _q_repo_rollup,
        "weighted_repo_pagerank": _q_weighted_repo_pagerank,
        "link_prediction": _q_link_prediction,
        "personalized_pagerank": _q_ppr,
        "ppr_sweep_cut": _q_sweep_cut,
        "hits_scores": _q_hits,
        "kcore_membership": _q_kcore,
        "ktruss_edges": _q_ktruss,
        "neighborhood_function": _q_anf,
        "effective_diameter": _q_effective_diameter,
        "harmonic_centrality": _q_harmonic,
        "closeness_centrality": _q_closeness,
        "betweenness_centrality": _q_betweenness,
        "katz_centrality": _q_katz,
        "eigenvector_centrality": _q_eigenvector,
        "closed_triad_census": _q_triad_census,
        "triad_census_full": _q_triad_census_full,
        "knn_label_accuracy": _q_knn_accuracy,
        "knn_label_accuracy_ann": _q_knn_accuracy_ann,
        "ann_recall": _q_ann_recall,
        "knn_label_accuracy_ivf": _q_knn_accuracy_ivf,
        "knn_label_accuracy_pq": _q_knn_accuracy_pq,
        "ann_recall_ivf": _q_ann_recall_ivf,
        "ann_recall_pq": _q_ann_recall_pq,
        "semantic_dedup": _q_semantic_dedup,
        "core_decomposition": _q_coreness,
        "reachability": _q_reachability,
        "exact_dedup": _q_exact_dedup,
        "token_count": _q_token_count,
        "bpe_token_count": _q_bpe_token_count,
        "quality_score": _q_quality,
        "lang_id": _q_lang_id,
        "doc_fingerprint": _q_fingerprint,
        "ngram_jaccard_pairs": _q_jaccard,
        "duplicated_ngram_stats": _q_dup_ngrams,
        "vocabulary": _q_vocabulary,
        "tfidf_top_terms": _q_tfidf,
        "bm25_scores": _q_bm25,
        "unigram_lm_score": _q_unigram_lm,
        "seeded_label_propagation": _q_seeded_lpa,
        "normalize_text": _q_normalize,
        "pii_redaction": _q_pii,
        "repetition_stats": _q_repetition,
        "contamination_check": _q_contamination,
        "ngram_decontamination": _q_ngram_decontaminate,
        "pack_sequences": _q_pack_sequences,
        "proportional_sample": _q_proportional_sample,
        "weighted_sample": _q_weighted_sample,
        "stratified_sample": _q_stratified_sample,
        "embedding_cosine_topk": _q_topk,
        "customer_orders_by_nation": _q_customer_orders,
        "pricing_summary": _q_pricing_summary,
        "big_spenders_semi": _q_big_spenders_semi,
        "customers_without_orders": _q_customers_without_orders,
        "events_per_type": _q_events_per_type,
        "events_hourly": _q_events_hourly,
        "event_sessions": _q_sessionize,
        "minhash_lsh_pairs": _q_minhash_lsh,
        "minhash_verified_pairs": _q_minhash_verified,
        "dedup_clusters": _q_dedup_clusters,
        "canonical_docs": _q_canonical_docs,
        "training_batch_pipeline": _q_training_pipeline,
        "skipgram_pairs": _q_skipgram_pairs,
        "sgns_embeddings": _q_sgns_embeddings,
        "sgns_linkpred_auc": _q_sgns_auc,
        "khop_features": _q_khop_features,
        "wl_roles": _q_wl_roles,
        "wl_fingerprint": _q_wl_fingerprint,
        "bpe_merges": _q_bpe_merges,
        "bpe_encode_counts": _q_bpe_encode_counts,
        "collocations": _q_collocations,
        "distinct_token_sketch": _q_kmv_sketch,
        "distinct_tokens_by_lang": _q_kmv_by_lang,
        "cms_token_counts": _q_cms_probe,
        "simhash64": _q_simhash,
        "simhash_pairs": _q_simhash_pairs,
        "embedding_lsh_topk": _q_lsh_topk,
        "embedding_neardup_pairs": _q_embedding_neardup,
        "embedding_ivf_topk": _q_ivf_topk,
        "embedding_pq_topk": _q_pq_topk,
        "motif_open_triads": _q_motif_open_triads,
        "chunk_documents": _q_chunk_documents,
        "graph_delta": _q_graph_delta,
        "triangle_delta": _q_triangle_delta,
        "incremental_cc_update": _q_incremental_cc,
        "component_renumber": _q_component_renumber,
        "duplicate_spans": _q_duplicate_spans,
        "cut_duplicate_spans": _q_cut_duplicate_spans,
        "dedup_cut_pipeline": _q_dedup_cut_pipeline,
        "maintained_stream_state": _q_maintained_stream,
        "motif_time_chains": _q_motif_time_chains,
        "partition_report": _q_partition_report,
        "multimodal_features": _q_multimodal,
        "multimodal_raw_decode": _q_multimodal_raw,
        "multimodal_codec_decode": _q_multimodal_codec,
        "mp4_metadata_walk": _q_mp4_metadata,
        "video_frame_plan": _q_video_frame_plan,
        "graph_sample": _q_graph_sample,
        "random_walks": _q_random_walks,
        "random_walks_weighted": _q_random_walks_weighted,
        "node2vec_walks": _q_node2vec_walks,
        "maximal_independent_set": _q_mis,
        "maximal_matching": _q_matching,
        "dependency_levels": _q_topo,
        "greedy_coloring": _q_coloring,
        "minimum_spanning_forest": _q_msf,
        "bipartite_check": _q_bipartite,
        "rectangle_count": _q_rectangles,
        "landmark_distances": _q_landmarks,
        "louvain_communities": _q_louvain,
        "louvain_hierarchy": _q_louvain_hierarchy,
        "repo_communities": _q_repo_communities,
        "neighborhood_minhash_pairs": _q_structsim,
        "cocitation_pairs": _q_cocitation,
        "bibliographic_coupling": _q_coupling,
        "token_cooccurrence": _q_cooccur,
        "salsa_scores": _q_salsa,
        "graph_summary": _q_graph_summary,
        "avg_neighbor_degree": _q_avg_neighbor_degree,
        "rich_club_profile": _q_rich_club,
        "kmeans_centers": _q_kmeans,
        "maximum_cliques": _q_maximum_cliques,
        "bgd_weights": _q_bgd,
    }


# --------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------

_STOP = "['the','a','of','and','to','in','is']"

_SHINGLES = (
    "SELECT doc_id, DISTINCT_SH.sh FROM ("
    "  SELECT doc_id, unnest(list_distinct(["
    "    array_to_string(toks[i:i+2], ' ')"
    "    FOR i IN generate_series(1, greatest(len(toks) - 2, 0))"
    "  ])) AS sh"
    "  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)"
    ") DISTINCT_SH"
)


def _pagerank_sql(updates: int) -> str:
    ctes = [
        EDGES_CTES.strip().rstrip(),
        "odeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)",
        "nn AS (SELECT COUNT(*)::DOUBLE AS n FROM documents)",
        "r0 AS (SELECT doc_id AS id, 1.0/(SELECT n FROM nn) AS rank FROM documents)",
    ]
    for i in range(1, updates + 1):
        ctes.append(
            f"r{i} AS MATERIALIZED ("
            f" SELECT v.id, 0.15/(SELECT n FROM nn) + 0.85*COALESCE(s.msum, 0.0) AS rank"
            f" FROM r{i-1} v LEFT JOIN ("
            f"   SELECT e.dst AS id, SUM(p.rank / o.outdeg) AS msum"
            f"   FROM edges e JOIN r{i-1} p ON e.src = p.id JOIN odeg o ON o.src = e.src"
            f"   GROUP BY e.dst) s ON v.id = s.id)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT id, ROUND(rank, 6) AS pr FROM r{updates}"
    )


def _katz_sql(updates: int) -> str:
    """Unrolled truncated-Katz recurrence: x0 = 1, x_{i}(v) = 1 +
    alpha * sum over in-edges of x_{i-1}(src). Exact mirror of the
    engine's fixed-update mode."""
    ctes = [
        EDGES_CTES.strip().rstrip(),
        "k0 AS (SELECT doc_id AS id, CAST(1.0 AS DOUBLE) AS katz FROM documents)",
    ]
    for i in range(1, updates + 1):
        ctes.append(
            f"k{i} AS MATERIALIZED ("
            f" SELECT v.id, CAST(1.0 AS DOUBLE) + CAST({KATZ_ALPHA!r} AS DOUBLE)"
            f"  * COALESCE(s.msum, CAST(0.0 AS DOUBLE)) AS katz"
            f" FROM k{i-1} v LEFT JOIN ("
            f"   SELECT e.dst AS id, SUM(p.katz) AS msum"
            f"   FROM edges e JOIN k{i-1} p ON e.src = p.id"
            f"   GROUP BY e.dst) s ON v.id = s.id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, ROUND(katz, 6) AS katz FROM k{updates}"
    )


def _eig_sql(updates: int) -> str:
    """Unrolled exact-integer walk recurrence mirroring
    eigenvector_centrality: w0 = 1, w_i(v) = SUM over in-edges of
    w_{i-1}(src), all BIGINT; final eig = walks / max(walks) (NULL when
    max = 0), rounded 6dp — the only float op on either side."""
    ctes = [
        EDGES_CTES.strip(),
        "e0 AS (SELECT doc_id AS id, CAST(1 AS BIGINT) AS walks FROM documents)",
    ]
    for i in range(1, updates + 1):
        ctes.append(
            f"e{i} AS MATERIALIZED ("
            f" SELECT v.id, COALESCE(s.msum, CAST(0 AS BIGINT)) AS walks"
            f" FROM e{i-1} v LEFT JOIN ("
            f"   SELECT e.dst AS id, CAST(SUM(p.walks) AS BIGINT) AS msum"
            f"   FROM edges e JOIN e{i-1} p ON e.src = p.id"
            f"   GROUP BY e.dst) s ON v.id = s.id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f", mx AS (SELECT MAX(walks) AS mx FROM e{updates})"
        + f"\nSELECT id, walks, CASE WHEN mx = 0 THEN NULL"
        + " ELSE ROUND(CAST(walks AS DOUBLE) / CAST(mx AS DOUBLE), 6) END AS eig"
        + f" FROM e{updates} CROSS JOIN mx"
    )


def _triad_census_sql() -> str:
    """Pair-code + triangle-join census; the classification CASE is the
    SAME string the engine evaluates (motifs.TRIAD_CASE_SQL)."""
    from linkgraph.algorithms.motifs import CLOSED_TRIAD_TYPES, TRIAD_CASE_SQL

    values = ",".join(f"('{t}')" for t in CLOSED_TRIAD_TYPES)
    return (
        "WITH " + EDGES_CTES.strip() + ",\n"
        "d AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),\n"
        "pairs AS (SELECT LEAST(src, dst) AS x, GREATEST(src, dst) AS y,"
        " SUM(DISTINCT CASE WHEN src < dst THEN 1 ELSE 2 END) AS code"
        " FROM d GROUP BY 1, 2),\n"
        "tri AS (SELECT ab.c_ab, bc.c_bc, ac.c_ac"
        " FROM (SELECT x AS a, y AS b, code AS c_ab FROM pairs) ab"
        " JOIN (SELECT x AS b, y AS c, code AS c_bc FROM pairs) bc USING (b)"
        " JOIN (SELECT x AS a, y AS c, code AS c_ac FROM pairs) ac USING (a, c)),\n"
        f"cnt AS (SELECT ({TRIAD_CASE_SQL}) AS triad_type,"
        " CAST(COUNT(*) AS BIGINT) AS n FROM tri GROUP BY 1)\n"
        f"SELECT t.triad_type, CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n"
        f" FROM (VALUES {values}) AS t(triad_type)"
        " LEFT JOIN cnt ON t.triad_type = cnt.triad_type"
    )


def _triad_full_sql() -> str:
    """Complementary-counting census mirroring motifs.triad_census;
    the closed-type CASE is the shared TRIAD_CASE_SQL string and every
    formula is the same integer arithmetic (DuckDB's // = Spark's div
    on the exactly-divisible products used here)."""
    from linkgraph.algorithms.motifs import ALL_TRIAD_TYPES, TRIAD_CASE_SQL

    closed = ["030C", "030T", "120C", "120D", "120U", "210", "300"]
    cl_cols = ", ".join(
        f"COALESCE(SUM(CASE WHEN t = '{t}' THEN 1 ELSE 0 END), 0) AS c{t}"
        for t in closed
    )
    union = " UNION ALL ".join(
        f"SELECT '{t}' AS triad_type, n{t} AS n FROM c3" for t in ALL_TRIAD_TYPES
    )
    return (
        "WITH " + EDGES_CTES.strip() + ",\n"
        "d AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),\n"
        "pairs AS (SELECT LEAST(src, dst) AS x, GREATEST(src, dst) AS y,"
        " SUM(DISTINCT CASE WHEN src < dst THEN 1 ELSE 2 END) AS code"
        " FROM d GROUP BY 1, 2),\n"
        "nrow AS (SELECT COUNT(*) AS n FROM documents),\n"
        "dy AS (SELECT COALESCE(SUM(CASE WHEN code = 3 THEN 1 ELSE 0 END), 0) AS M,"
        " COALESCE(SUM(CASE WHEN code <> 3 THEN 1 ELSE 0 END), 0) AS A FROM pairs),\n"
        "roles AS (SELECT x AS v, CASE WHEN code = 3 THEN 1 ELSE 0 END AS m,"
        " CASE WHEN code = 1 THEN 1 ELSE 0 END AS ao,"
        " CASE WHEN code = 2 THEN 1 ELSE 0 END AS ai FROM pairs"
        " UNION ALL SELECT y, CASE WHEN code = 3 THEN 1 ELSE 0 END,"
        " CASE WHEN code = 2 THEN 1 ELSE 0 END,"
        " CASE WHEN code = 1 THEN 1 ELSE 0 END FROM pairs),\n"
        "perv AS (SELECT v, SUM(m) AS m, SUM(ao) AS ao, SUM(ai) AS ai"
        " FROM roles GROUP BY v),\n"
        "w AS (SELECT COALESCE(SUM(m * (m - 1) // 2), 0) AS W201,"
        " COALESCE(SUM(ao * (ao - 1) // 2), 0) AS W021D,"
        " COALESCE(SUM(ai * (ai - 1) // 2), 0) AS W021U,"
        " COALESCE(SUM(ao * ai), 0) AS W021C,"
        " COALESCE(SUM(m * ai), 0) AS W111D,"
        " COALESCE(SUM(m * ao), 0) AS W111U FROM perv),\n"
        "tri AS (SELECT ab.c_ab, bc.c_bc, ac.c_ac"
        " FROM (SELECT x AS a, y AS b, code AS c_ab FROM pairs) ab"
        " JOIN (SELECT x AS b, y AS c, code AS c_bc FROM pairs) bc USING (b)"
        " JOIN (SELECT x AS a, y AS c, code AS c_ac FROM pairs) ac USING (a, c)),\n"
        f"cl AS (SELECT {cl_cols} FROM"
        f" (SELECT ({TRIAD_CASE_SQL}) AS t FROM tri)),\n"
        "s AS (SELECT * FROM nrow, dy, w, cl),\n"
        "c1 AS (SELECT n, M, A,"
        " c030C AS n030C, c030T AS n030T, c120C AS n120C, c120D AS n120D,"
        " c120U AS n120U, c210 AS n210, c300 AS n300,"
        " W201 - 3 * c300 - c210 AS n201,"
        " W111D - c210 - 2 * c120D - c120C AS n111D,"
        " W111U - c210 - 2 * c120U - c120C AS n111U,"
        " W021D - c120D - c030T AS n021D,"
        " W021U - c120U - c030T AS n021U,"
        " W021C - c030T - 3 * c030C - c120C AS n021C FROM s),\n"
        "c2 AS (SELECT *,"
        " M * (n - 2) - 2 * n201 - n111D - n111U - 3 * n300 - 2 * n210"
        " - (n120D + n120U + n120C) AS n102,"
        " A * (n - 2) - 2 * (n021D + n021U + n021C) - (n111D + n111U)"
        " - 3 * (n030T + n030C) - 2 * (n120D + n120U + n120C) - n210 AS n012"
        " FROM c1),\n"
        "c3 AS (SELECT *,"
        " n * (n - 1) * (n - 2) // 6 - (n012 + n102 + n021D + n021U + n021C"
        " + n030T + n030C + n111D + n111U + n120D + n120U + n120C"
        " + n201 + n210 + n300) AS n003 FROM c2)\n"
        f"SELECT triad_type, CAST(n AS BIGINT) AS n FROM ({union})"
    )


def _weighted_sssp_sql(steps: int) -> str:
    """Unrolled Bellman-Ford over the derivable weights
    (1 + (src+dst) % 5): d_i(v) = min(d_{i-1}(v), min over in-edges of
    d_{i-1}(u) + w). ``steps`` passes reach fixpoint with slack
    (asserted engine-side in _q_sssp_weighted); NULL = unreachable,
    matching the engine's surface."""
    ctes = [
        EDGES_CTES.strip(),
        "we AS (SELECT src, dst, CAST(1 + (src + dst) % 5 AS DOUBLE) AS w"
        " FROM edges)",
        "d0 AS (SELECT doc_id AS id,"
        " CASE WHEN doc_id = 0 THEN 0.0 END AS dist FROM documents)",
    ]
    for i in range(1, steps + 1):
        ctes.append(
            f"d{i} AS MATERIALIZED ("
            f" SELECT v.id, CASE"
            f"  WHEN m.md IS NULL THEN v.dist"
            f"  WHEN v.dist IS NULL THEN m.md"
            f"  ELSE LEAST(v.dist, m.md) END AS dist"
            f" FROM d{i-1} v LEFT JOIN ("
            f"   SELECT e.dst AS id, MIN(p.dist + e.w) AS md"
            f"   FROM we e JOIN d{i-1} p ON e.src = p.id AND p.dist IS NOT NULL"
            f"   GROUP BY e.dst) m ON m.id = v.id)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, ROUND(dist, 6) AS distance FROM d{steps}"
    )


def _temporal_sql(steps: int) -> str:
    """Unrolled time-respecting min-relaxation over the derivable
    timestamps ((src*13 + dst*7) % 97): a_i(v) = min(a_{i-1}(v), min
    over in-edges with t >= a_{i-1}(u) of t). Full passes reach the
    fixpoint at least as fast as the engine's frontier plan (asserted
    engine-side in _q_temporal_reachability); NULL = no time-respecting
    path."""
    ctes = [
        EDGES_CTES.strip(),
        "te AS (SELECT src, dst,"
        " CAST((src*13 + dst*7) % 97 AS BIGINT) AS t FROM edges)",
        "a0 AS (SELECT doc_id AS id,"
        " CASE WHEN doc_id = 0 THEN CAST(0 AS BIGINT) END AS arr"
        " FROM documents)",
    ]
    for i in range(1, steps + 1):
        ctes.append(
            f"a{i} AS MATERIALIZED ("
            f" SELECT v.id, CASE"
            f"  WHEN m.ma IS NULL THEN v.arr"
            f"  WHEN v.arr IS NULL THEN m.ma"
            f"  ELSE LEAST(v.arr, m.ma) END AS arr"
            f" FROM a{i-1} v LEFT JOIN ("
            f"   SELECT e.dst AS id, MIN(e.t) AS ma"
            f"   FROM te e JOIN a{i-1} p ON e.src = p.id"
            f"    AND p.arr IS NOT NULL AND e.t >= p.arr"
            f"   GROUP BY e.dst) m ON m.id = v.id)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, CAST(arr AS BIGINT) AS arrival FROM a{steps}"
    )


def _temporal_dep_sql(steps: int, deadline: int) -> str:
    """Unrolled latest-departure max-relaxation: d_i(v) = max(d_{i-1}(v),
    max over OUT-edges (v, u, t) with t <= d_{i-1}(u) of t);
    d_0(target) = deadline. NULL = no time-respecting path."""
    ctes = [
        EDGES_CTES.strip(),
        "te AS (SELECT src, dst,"
        " CAST((src*13 + dst*7) % 97 AS BIGINT) AS t FROM edges)",
        f"d0 AS (SELECT doc_id AS id,"
        f" CASE WHEN doc_id = 0 THEN CAST({deadline} AS BIGINT) END AS dep"
        f" FROM documents)",
    ]
    for i in range(1, steps + 1):
        ctes.append(
            f"d{i} AS MATERIALIZED ("
            f" SELECT v.id, CASE"
            f"  WHEN m.md IS NULL THEN v.dep"
            f"  WHEN v.dep IS NULL THEN m.md"
            f"  ELSE GREATEST(v.dep, m.md) END AS dep"
            f" FROM d{i-1} v LEFT JOIN ("
            f"   SELECT e.src AS id, MAX(e.t) AS md"
            f"   FROM te e JOIN d{i-1} p ON e.dst = p.id"
            f"    AND p.dep IS NOT NULL AND e.t <= p.dep"
            f"   GROUP BY e.src) m ON m.id = v.id)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, CAST(dep AS BIGINT) AS departure FROM d{steps}"
    )


def _dw_pagerank_sql(updates: int) -> str:
    """Unrolled degree-weighted PageRank: prior = outdeg/|E| (dangling
    0), r = 0.15*prior + 0.85*sum(in-msgs)."""
    ctes = [
        EDGES_CTES.strip(),
        "odeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)",
        "mm AS (SELECT COUNT(*)::DOUBLE AS m FROM edges)",
        "pr AS (SELECT d.doc_id AS id,"
        " COALESCE(o.outdeg, 0) / (SELECT m FROM mm) AS prior"
        " FROM documents d LEFT JOIN odeg o ON o.src = d.doc_id)",
        "r0 AS (SELECT id, prior AS rank FROM pr)",
    ]
    for i in range(1, updates + 1):
        ctes.append(
            f"r{i} AS MATERIALIZED ("
            f" SELECT v.id, 0.15*p.prior + 0.85*COALESCE(s.msum, 0.0) AS rank"
            f" FROM r{i-1} v JOIN pr p ON p.id = v.id LEFT JOIN ("
            f"   SELECT e.dst AS id, SUM(x.rank / o.outdeg) AS msum"
            f"   FROM edges e JOIN r{i-1} x ON e.src = x.id JOIN odeg o ON o.src = e.src"
            f"   GROUP BY e.dst) s ON v.id = s.id)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, ROUND(rank, 6) AS dw_rank FROM r{updates}"
    )


_REPO_EDGES_CTE = (
    "repo_edges AS ("
    f" SELECT src % {REPO_MOD} AS src_repo, dst % {REPO_MOD} AS dst_repo,"
    "  CAST(COUNT(*) AS BIGINT) AS weight"
    "  FROM edges"
    f" WHERE src % {REPO_MOD} != dst % {REPO_MOD}"
    "  GROUP BY src_repo, dst_repo)"
)


def _weighted_repo_pagerank_sql(updates: int) -> str:
    """Unrolled edge-weighted PageRank over the repo rollup: rank mass
    splits across out-edges proportionally to edge weight
    (w_uv / wsum_u); vertices = endpoints of the rollup edges; dangling
    mass not redistributed (matches linkgraph.examples.weighted_pagerank
    and the reference's PageRankVertex dangling semantics)."""
    ctes = [
        EDGES_CTES.strip(),
        _REPO_EDGES_CTE,
        "re AS (SELECT src_repo AS src, dst_repo AS dst,"
        " CAST(weight AS DOUBLE) AS weight FROM repo_edges)",
        "rv AS (SELECT DISTINCT src AS id FROM re"
        " UNION SELECT DISTINCT dst AS id FROM re)",
        "nn AS (SELECT COUNT(*)::DOUBLE AS n FROM rv)",
        "ws AS (SELECT src, SUM(weight) AS wsum FROM re GROUP BY src)",
        "r0 AS (SELECT id, 1.0/(SELECT n FROM nn) AS rank FROM rv)",
    ]
    for i in range(1, updates + 1):
        ctes.append(
            f"r{i} AS MATERIALIZED ("
            f" SELECT v.id, 0.15/(SELECT n FROM nn) + 0.85*COALESCE(s.msum, 0.0) AS rank"
            f" FROM r{i-1} v LEFT JOIN ("
            f"   SELECT e.dst AS id, SUM(p.rank * e.weight / w.wsum) AS msum"
            f"   FROM re e JOIN r{i-1} p ON e.src = p.id JOIN ws w ON w.src = e.src"
            f"   GROUP BY e.dst) s ON v.id = s.id)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id AS repo, ROUND(rank, 6) AS wpr FROM r{updates}"
    )


def _ppr_sql(updates: int, sources: list[int], rel: str = "edges") -> str:
    """Unrolled personalized PageRank: prior = 1/|S| on the seed set,
    0 elsewhere; r = 0.15*prior + 0.85*sum(in-msgs). The 1/|S| literal
    is the same Python double the engine passes to F.lit (repr
    round-trips it exactly). ``rel`` picks the walk's edge relation:
    "edges" (directed, the PPR gate) or "sym" (undirected, the
    sweep-cut gate)."""
    src_list = ", ".join(str(int(s)) for s in sources)
    share = repr(1.0 / len(sources))
    ctes = [
        EDGES_CTES.strip(),
    ]
    if rel == "sym":
        ctes.append(SYM_CTE.strip())
    ctes += [
        f"odeg AS (SELECT src, COUNT(*) AS outdeg FROM {rel} GROUP BY src)",
        f"pri AS (SELECT doc_id AS id,"
        f" CASE WHEN doc_id IN ({src_list}) THEN {share} ELSE 0.0 END AS prior"
        f" FROM documents)",
        "r0 AS (SELECT id, prior AS rank FROM pri)",
    ]
    for i in range(1, updates + 1):
        ctes.append(
            f"r{i} AS MATERIALIZED ("
            f" SELECT v.id, 0.15*p.prior + 0.85*COALESCE(s.msum, 0.0) AS rank"
            f" FROM r{i-1} v JOIN pri p ON p.id = v.id LEFT JOIN ("
            f"   SELECT e.dst AS id, SUM(x.rank / o.outdeg) AS msum"
            f"   FROM {rel} e JOIN r{i-1} x ON e.src = x.id JOIN odeg o ON o.src = e.src"
            f"   GROUP BY e.dst) s ON v.id = s.id)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, ROUND(rank, 6) AS ppr FROM r{updates}"
    )


def _hits_sql(iters: int) -> str:
    """Unrolled simultaneous-update HITS: a_i = sum of in-neighbors'
    h_{i-1}, h_i = sum of out-neighbors' a_{i-1}; sum-1 normalization
    after the final iteration, ROUND 6 (matches linkgraph.examples.hits
    semantics exactly)."""
    ctes = [
        EDGES_CTES.strip(),
        "s0 AS (SELECT doc_id AS id, 1.0::DOUBLE AS a, 1.0::DOUBLE AS h"
        " FROM documents)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"s{i} AS MATERIALIZED ("
            f" SELECT v.id, COALESCE(ain.s, 0.0) AS a, COALESCE(hout.s, 0.0) AS h"
            f" FROM s{p} v"
            f" LEFT JOIN (SELECT e.dst AS id, SUM(p.h) AS s FROM edges e"
            f"   JOIN s{p} p ON e.src = p.id GROUP BY e.dst) ain ON ain.id = v.id"
            f" LEFT JOIN (SELECT e.src AS id, SUM(p.a) AS s FROM edges e"
            f"   JOIN s{p} p ON e.dst = p.id GROUP BY e.src) hout ON hout.id = v.id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, ROUND(a/(SELECT SUM(a) FROM s{iters}), 6) AS authority,"
        + f" ROUND(h/(SELECT SUM(h) FROM s{iters}), 6) AS hub FROM s{iters}"
    )


def _anf_sql(num_maps: int, max_h: int, seed: int = 42) -> str:
    """Unrolled FM neighborhood-function oracle: per-vertex bitmaps
    from md5-derived hashes (bit-identical to the Spark portable mode),
    max_h bit_or-union passes over the symmetrized doc graph, one
    (h, sum_rank, n_reachable_est) row per pass."""
    from linkgraph.algorithms.anf import FM_PHI, _rank_sql, _tz_sql
    from linkgraph.phash import md5_digits_sql

    K = num_maps
    hx_cols = ", ".join(
        f"md5('anf:{seed}:{i}:' || CAST(id AS VARCHAR)) AS hx{i}"
        for i in range(K)
    )
    init_cols = ", ".join(
        "(CAST(1 AS BIGINT) << LEAST({tz}, 62)) AS s{i}".format(
            tz=_tz_sql(md5_digits_sql(f"hx{i}", 15)), i=i
        )
        for i in range(K)
    )
    rank_sum = " + ".join(f"({_rank_sql(f's{i}')})" for i in range(K))
    est_units = (
        f"CAST(ROUND((POW(CAST(2 AS DOUBLE), ({rank_sum}) / CAST({K} AS DOUBLE))"
        f" / {FM_PHI!r}) * 1000000.0, 0) AS BIGINT)"
    )
    ctes = [
        EDGES_CTES.strip(),
        SYM_CTE.strip(),
        f"hx AS (SELECT doc_id AS id, {hx_cols} FROM documents)",
        f"b0 AS MATERIALIZED (SELECT id, {init_cols} FROM hx)",
    ]
    sel_r = []
    for h in range(1, max_h + 1):
        ors = ", ".join(f"BIT_OR(b.s{i}) AS m{i}" for i in range(K))
        merged = ", ".join(
            f"v.s{i} | COALESCE(m.m{i}, CAST(0 AS BIGINT)) AS s{i}"
            for i in range(K)
        )
        ctes.append(
            f"m{h} AS (SELECT e.dst AS id, {ors} FROM sym e"
            f" JOIN b{h-1} b ON b.id = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"b{h} AS MATERIALIZED (SELECT v.id, {merged}"
            f" FROM b{h-1} v LEFT JOIN m{h} m ON m.id = v.id)"
        )
        ctes.append(
            f"r{h} AS (SELECT CAST({h} AS BIGINT) AS h,"
            f" CAST(SUM({rank_sum}) AS BIGINT) AS sum_rank,"
            f" ROUND(CAST(SUM({est_units}) AS DOUBLE) / 1000000.0, 6)"
            f" AS n_reachable_est FROM b{h})"
        )
        sel_r.append(f"SELECT * FROM r{h}")
    return "WITH " + ",\n".join(ctes) + "\n" + " UNION ALL ".join(sel_r)


def _ball_ctes(num_maps: int, max_h: int, seed: int = 42) -> list[str]:
    """Shared CTE stack for HyperBall centrality oracles: the _anf_sql
    md5-seeded FM sketch-union passes (b0..b{max_h}), plus a per-vertex
    est-units CTE u{h} at every depth. The engine's early stop is exact
    (zero deltas once sketches are stable), so full unrolls over these
    CTEs match the Spark loop bit for bit."""
    from linkgraph.algorithms.anf import FM_PHI, _rank_sql, _tz_sql
    from linkgraph.phash import md5_digits_sql

    K = num_maps
    hx_cols = ", ".join(
        f"md5('anf:{seed}:{i}:' || CAST(id AS VARCHAR)) AS hx{i}"
        for i in range(K)
    )
    init_cols = ", ".join(
        "(CAST(1 AS BIGINT) << LEAST({tz}, 62)) AS s{i}".format(
            tz=_tz_sql(md5_digits_sql(f"hx{i}", 15)), i=i
        )
        for i in range(K)
    )
    rank_sum = " + ".join(f"({_rank_sql(f's{i}')})" for i in range(K))
    est_units = (
        f"CAST(ROUND((POW(CAST(2 AS DOUBLE), ({rank_sum}) / CAST({K} AS DOUBLE))"
        f" / {FM_PHI!r}) * 1000000.0, 0) AS BIGINT)"
    )
    ctes = [
        EDGES_CTES.strip(),
        SYM_CTE.strip(),
        f"hx AS (SELECT doc_id AS id, {hx_cols} FROM documents)",
        f"b0 AS MATERIALIZED (SELECT id, {init_cols} FROM hx)",
        f"u0 AS (SELECT id, {est_units} AS eu FROM b0)",
    ]
    for h in range(1, max_h + 1):
        ors = ", ".join(f"BIT_OR(b.s{i}) AS m{i}" for i in range(K))
        merged = ", ".join(
            f"v.s{i} | COALESCE(m.m{i}, CAST(0 AS BIGINT)) AS s{i}"
            for i in range(K)
        )
        ctes.append(
            f"m{h} AS (SELECT e.dst AS id, {ors} FROM sym e"
            f" JOIN b{h-1} b ON b.id = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"b{h} AS MATERIALIZED (SELECT v.id, {merged}"
            f" FROM b{h-1} v LEFT JOIN m{h} m ON m.id = v.id)"
        )
        ctes.append(f"u{h} AS (SELECT id, {est_units} AS eu FROM b{h})")
    return ctes


def _ball_delta_sum(max_h: int, weights: list[int]) -> str:
    return " + ".join(
        f"(u{h}.eu - u{h-1}.eu) * CAST({weights[h - 1]} AS BIGINT)"
        for h in range(1, max_h + 1)
    )


def _ball_joins(max_h: int) -> str:
    return " ".join(f"JOIN u{h} ON u{h}.id = u0.id" for h in range(1, max_h + 1))


def _harmonic_sql(num_maps: int, max_h: int, seed: int = 42) -> str:
    """Unrolled HyperBall harmonic-centrality oracle over _ball_ctes:
    harmonic_units = sum over h of (eu_h - eu_{h-1}) * LCM/h."""
    import math

    lcm = math.lcm(*range(1, max_h + 1))
    delta_sum = _ball_delta_sum(max_h, [lcm // h for h in range(1, max_h + 1)])
    return (
        "WITH " + ",\n".join(_ball_ctes(num_maps, max_h, seed))
        + f"\nSELECT u0.id, CAST({delta_sum} AS BIGINT) AS harmonic_units,"
        f" CAST({delta_sum} AS DOUBLE) / ({lcm}.0 * 1000000.0)"
        f" AS harmonic_est FROM u0 {_ball_joins(max_h)}"
    )


def _coreness_sql(passes: int) -> str:
    """Unrolled h-index fixpoint oracle: c0 = degree over the
    symmetrized doc graph, each pass computes per-vertex
    max(least(neighbor value, row_number desc)) — the h-index — and
    takes the min with the current value. Passes beyond the fixpoint
    are no-ops, so a fixed unroll >= the engine's superstep count
    matches exactly."""
    ctes = [
        EDGES_CTES.strip(),
        SYM_CTE.strip(),
        "c0 AS MATERIALIZED (SELECT d.doc_id AS id,"
        " COALESCE(g.c, CAST(0 AS BIGINT)) AS c FROM documents d"
        " LEFT JOIN (SELECT src, CAST(COUNT(*) AS BIGINT) AS c"
        "  FROM sym GROUP BY src) g ON g.src = d.doc_id)",
    ]
    for t in range(1, passes + 1):
        ctes.append(
            f"r{t} AS (SELECT e.dst AS id, s.c,"
            f" ROW_NUMBER() OVER (PARTITION BY e.dst ORDER BY s.c DESC)"
            f" AS rn FROM sym e JOIN c{t-1} s ON s.id = e.src)"
        )
        ctes.append(
            f"h{t} AS (SELECT id, CAST(MAX(LEAST(c, rn)) AS BIGINT) AS h"
            f" FROM r{t} GROUP BY id)"
        )
        ctes.append(
            f"c{t} AS MATERIALIZED (SELECT v.id,"
            f" LEAST(v.c, COALESCE(h.h, CAST(0 AS BIGINT))) AS c"
            f" FROM c{t-1} v LEFT JOIN h{t} h ON h.id = v.id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, c AS coreness FROM c{passes}"
    )


def _betweenness_sql(sources: list[int], depth: int) -> str:
    """Unrolled Brandes oracle: forward BFS levels l1..l{depth} with
    sigma path counts (anti-join against the accumulated DAG g{d}),
    then backward dependency levels d{depth}..d0 with the engine's
    per-term micro-unit quantization. Levels past the true BFS depth
    are empty, so the fixed unroll equals the engine's early stop."""
    UNIT = 1_000_000
    src_rows = ", ".join(f"(CAST({s} AS BIGINT))" for s in sources)
    ctes = [
        EDGES_CTES.strip(),
        SYM_CTE.strip(),
        f"srcs(s) AS (VALUES {src_rows})",
        "l0 AS (SELECT s, s AS v, 0 AS dist, CAST(1 AS BIGINT) AS sigma"
        " FROM srcs)",
        "g0 AS (SELECT s, v FROM l0)",
    ]
    for d in range(1, depth + 1):
        ctes.append(
            f"c{d} AS (SELECT l.s, e.dst AS v,"
            f" CAST(SUM(l.sigma) AS BIGINT) AS sigma"
            f" FROM l{d-1} l JOIN sym e ON e.src = l.v GROUP BY l.s, e.dst)"
        )
        ctes.append(
            f"l{d} AS MATERIALIZED (SELECT c.s, c.v, {d} AS dist, c.sigma"
            f" FROM c{d} c LEFT JOIN g{d-1} g ON g.s = c.s AND g.v = c.v"
            f" WHERE g.v IS NULL)"
        )
        ctes.append(
            f"g{d} AS MATERIALIZED (SELECT s, v FROM g{d-1}"
            f" UNION ALL SELECT s, v FROM l{d})"
        )
    ctes.append(
        f"d{depth} AS (SELECT s, v, sigma, CAST(0 AS BIGINT) AS du"
        f" FROM l{depth})"
    )
    term = (
        f"CAST(ROUND(CAST(u.sigma AS DOUBLE) * CAST({UNIT} + w.du AS DOUBLE)"
        " / CAST(w.sigma AS DOUBLE), 0) AS BIGINT)"
    )
    for d in range(depth, 0, -1):
        ctes.append(
            f"x{d} AS (SELECT u.s, u.v, CAST(SUM({term}) AS BIGINT) AS c"
            f" FROM l{d-1} u JOIN sym e ON e.src = u.v"
            f" JOIN d{d} w ON w.v = e.dst AND w.s = u.s GROUP BY u.s, u.v)"
        )
        ctes.append(
            f"d{d-1} AS MATERIALIZED (SELECT u.s, u.v, u.sigma,"
            f" COALESCE(x.c, CAST(0 AS BIGINT)) AS du FROM l{d-1} u"
            f" LEFT JOIN x{d} x ON x.s = u.s AND x.v = u.v)"
        )
    unions = " UNION ALL ".join(
        f"SELECT v, du FROM d{d}" for d in range(1, depth + 1)
    )
    ctes.append(
        f"bcr AS (SELECT v AS id, CAST(SUM(du) AS BIGINT) AS bc"
        f" FROM ({unions}) GROUP BY v)"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT d.doc_id AS id,"
        " COALESCE(b.bc, CAST(0 AS BIGINT)) AS betweenness_units,"
        f" CAST(COALESCE(b.bc, CAST(0 AS BIGINT)) AS DOUBLE) / {UNIT}.0"
        " AS betweenness_est"
        " FROM documents d LEFT JOIN bcr b ON b.id = d.doc_id"
    )


def _closeness_sql(num_maps: int, max_h: int, seed: int = 42) -> str:
    """Unrolled HyperBall closeness oracle over _ball_ctes:
    dist_sum_units = sum of h-weighted ball deltas, reachable_units =
    sum of unweighted deltas, closeness_est = one BIGINT/BIGINT IEEE
    division (0.0 for isolated vertices)."""
    ds = _ball_delta_sum(max_h, list(range(1, max_h + 1)))
    du = _ball_delta_sum(max_h, [1] * max_h)
    return (
        "WITH " + ",\n".join(_ball_ctes(num_maps, max_h, seed))
        + f"\nSELECT u0.id, CAST({ds} AS BIGINT) AS dist_sum_units,"
        f" CAST({du} AS BIGINT) AS reachable_units,"
        f" CASE WHEN ({ds}) > 0 THEN CAST({du} AS DOUBLE) / CAST({ds} AS DOUBLE)"
        f" ELSE CAST(0.0 AS DOUBLE) END AS closeness_est"
        f" FROM u0 {_ball_joins(max_h)}"
    )


def _ktruss_sql(k: int, passes: int) -> str:
    """Unrolled k-truss peeling over the canonical (a < b) edge set:
    each pass enumerates triangles x<y<z with three joins, counts
    per-edge support, and keeps edges with support >= k-2; extra passes
    past the fixpoint are no-ops. Output: surviving edges with support
    WITHIN the fixpoint subgraph."""
    need = k - 2
    ctes = [
        EDGES_CTES.strip(),
        SYM_CTE.strip(),
        "e0 AS (SELECT src AS a, dst AS b FROM sym WHERE src < dst)",
    ]
    def tri(i, src):
        return (
            f"t{i} AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z"
            f" FROM {src} e1 JOIN {src} e2 ON e2.a = e1.b"
            f" JOIN {src} e3 ON e3.a = e1.a AND e3.b = e2.b)"
        )
    def sup(i):
        return (
            f"s{i} AS (SELECT a, b, COUNT(*) AS c FROM ("
            f" SELECT x AS a, y AS b FROM t{i}"
            f" UNION ALL SELECT y, z FROM t{i}"
            f" UNION ALL SELECT x, z FROM t{i}) GROUP BY a, b)"
        )
    for i in range(1, passes + 1):
        ctes.append(tri(i, f"e{i-1}"))
        ctes.append(sup(i))
        ctes.append(
            f"e{i} AS MATERIALIZED (SELECT e.a, e.b FROM e{i-1} e"
            f" JOIN s{i} s ON s.a = e.a AND s.b = e.b WHERE s.c >= {need})"
        )
    fin = passes + 1
    ctes.append(tri(fin, f"e{passes}"))
    ctes.append(sup(fin))
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT e.a AS src, e.b AS dst, COALESCE(s.c, 0) AS support"
        + f" FROM e{passes} e LEFT JOIN s{fin} s ON s.a = e.a AND s.b = e.b"
    )


def _kcore_sql(k: int, passes: int) -> str:
    """Unrolled k-core peeling over the symmetrized graph: v0 = vertices
    with total degree >= k, each pass keeps vertices with >= k surviving
    neighbors; extra passes past the fixpoint are no-ops. Final row per
    document: (in_core, degree within the surviving core)."""
    ctes = [
        EDGES_CTES.strip(),
        SYM_CTE.strip(),
        "deg0 AS (SELECT src AS id, COUNT(*) AS deg FROM sym GROUP BY src)",
        f"v0 AS (SELECT d.doc_id AS id FROM documents d JOIN deg0 g"
        f" ON g.id = d.doc_id WHERE g.deg >= {k})",
    ]
    for i in range(1, passes + 1):
        ctes.append(
            f"v{i} AS MATERIALIZED (SELECT e.src AS id FROM sym e"
            f" JOIN v{i-1} s ON e.src = s.id JOIN v{i-1} t ON e.dst = t.id"
            f" GROUP BY e.src HAVING COUNT(*) >= {k})"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT d.doc_id AS id,"
        + " CASE WHEN a.id IS NULL THEN 0 ELSE 1 END AS in_core,"
        + " COALESCE(cd.deg, 0) AS core_deg"
        + f" FROM documents d LEFT JOIN v{passes} a ON a.id = d.doc_id"
        + f" LEFT JOIN (SELECT e.src AS id, COUNT(*) AS deg FROM sym e"
        + f"  JOIN v{passes} s ON e.src = s.id JOIN v{passes} t ON e.dst = t.id"
        + f"  GROUP BY e.src) cd ON cd.id = d.doc_id"
    )


def _kmeans_ctes(k: int, iters: int) -> list[str]:
    """CTE chain for unrolled Lloyd k-means over the embeddings table,
    matching the IMRU kmeans exactly: init = feature vectors of the k
    lowest-vec_id rows; assignment = argmin squared distance with ties
    to the lowest cluster index; update = per-dimension mean, empty
    clusters keep their center. Final centers land in CTE ``c{iters}``
    (cluster, center)."""
    ctes = [
        "pts AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v"
        " FROM embeddings)",
        f"c0 AS (SELECT (ROW_NUMBER() OVER (ORDER BY vec_id)) - 1 AS cluster,"
        f" v AS center FROM pts ORDER BY vec_id LIMIT {k})",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes += [
            f"a{i} AS (SELECT p.vec_id, p.v,"
            f" (SELECT c.cluster FROM c{p} c"
            f"  ORDER BY list_sum(list_transform(generate_series(1, len(p.v)),"
            f"   j -> (p.v[j]-c.center[j])*(p.v[j]-c.center[j]))), c.cluster"
            f"  LIMIT 1) AS cluster FROM pts p)",
            f"m{i} AS (SELECT cluster, j, AVG(val) AS val FROM ("
            f"  SELECT a.cluster, unnest(a.v) AS val,"
            f"  unnest(generate_series(1, len(a.v))) AS j FROM a{i} a"
            f" ) GROUP BY cluster, j)",
            f"n{i} AS (SELECT cluster, list(val ORDER BY j) AS center"
            f" FROM m{i} GROUP BY cluster)",
            f"c{i} AS (SELECT pv.cluster, COALESCE(n.center, pv.center) AS center"
            f" FROM c{p} pv LEFT JOIN n{i} n USING (cluster))",
        ]
    return ctes


def _kmeans_sql(k: int, iters: int) -> str:
    """Unrolled Lloyd k-means (see _kmeans_ctes), exploded to scalar
    (cluster, dim, value) rows. Exact value match at ROUND(..., 6)
    (float-addition order drift between numpy treeReduce and DuckDB AVG
    is ~1e-13, far below the rounding grain). Assumes the run does not
    converge in fewer than ``iters`` Lloyd updates (tol=1e-9; never at
    these scales)."""
    ctes = _kmeans_ctes(k, iters)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT cluster::INT AS cluster, (j-1)::INT AS dim,"
        f" ROUND(val, 6) AS value FROM ("
        f" SELECT c.cluster, unnest(c.center) AS val,"
        f" unnest(generate_series(1, len(c.center))) AS j FROM c{iters} c)"
    )


def _ivf_assign_ctes(n_clusters: int, kmeans_iters: int) -> list[str]:
    """Shared k-means train + max-cosine corpus assignment CTEs
    (pts ... c{iters}, cent, asg) — the front half of _ivf_sql, reused
    by the SemDeDup oracle (identical trainer + assign_udf rule)."""
    ctes = _kmeans_ctes(n_clusters, kmeans_iters)
    ctes += [
        # centroids with zero-guarded norms (assign_udf's cnorm)
        f"cent AS (SELECT cluster, center,"
        f" CASE WHEN sqrt(list_sum(list_transform(center, x -> x*x))) = 0 THEN 1.0"
        f" ELSE sqrt(list_sum(list_transform(center, x -> x*x))) END AS cn"
        f" FROM c{kmeans_iters})",
        # corpus assignment: argmax_c dot(v, center_c)/cn_c (row-side
        # normalization cancels in the argmax)
        "asg AS (SELECT p.vec_id, ("
        " SELECT c.cluster FROM cent c"
        " ORDER BY list_sum(list_transform(generate_series(1, len(p.v)),"
        "   j -> p.v[j]*c.center[j])) / c.cn DESC, c.cluster ASC"
        " LIMIT 1) AS cid FROM pts p)",
    ]
    return ctes


def _semdedup_sql(n_clusters: int, kmeans_iters: int, tau: float) -> str:
    """SemDeDup mirror (pipeline/similarity.semantic_dedup): the IVF
    oracle's train+assign front half, then within-cluster pairs with
    ROUND(cosine, 4) >= tau dropping the higher vec_id (keep-lowest-id
    representative)."""
    ctes = _ivf_assign_ctes(n_clusters, kmeans_iters)
    ctes.append(
        f"drp AS (SELECT DISTINCT b.vec_id AS v"
        f" FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id"
        f" JOIN pts pu ON pu.vec_id = a.vec_id"
        f" JOIN pts pv ON pv.vec_id = b.vec_id"
        f" WHERE ROUND(list_sum(list_transform(generate_series(1, len(pu.v)),"
        f"   i -> pu.v[i]*pv.v[i]))"
        f"  / (sqrt(list_sum(list_transform(pu.v, x -> x*x)))"
        f"     * sqrt(list_sum(list_transform(pv.v, x -> x*x)))), 4) >= {tau})"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + " SELECT a.vec_id, a.cid::BIGINT AS cluster,"
        " CASE WHEN d.v IS NULL THEN 1 ELSE 0 END AS kept"
        " FROM asg a LEFT JOIN drp d ON d.v = a.vec_id"
    )


def _ivf_sql(n_clusters: int, kmeans_iters: int, n_probe: int, n_queries: int, k: int) -> str:
    """Unrolled IVF approximate top-k: centroids from the unrolled IMRU
    k-means (_kmeans_ctes), every corpus vector assigned to its
    max-cosine centroid (ties to the lowest cluster index, matching
    numpy argmax), each query probing its ``n_probe`` best clusters
    (stable descending sort — ties to the lowest index), and cosine
    top-k computed only among the probed clusters' members. Mirrors
    linkgraph.pipeline.similarity.ivf_cosine_topk step for step; final
    sims ROUND(.., 4) like the engine."""
    ctes = _ivf_assign_ctes(n_clusters, kmeans_iters)
    ctes += [
        # query probes: top n_probe clusters by the same score
        f"probes AS (SELECT vec_id AS qid, cid FROM ("
        f" SELECT p.vec_id, c.cluster AS cid,"
        f" ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY"
        f"  list_sum(list_transform(generate_series(1, len(p.v)),"
        f"   j -> p.v[j]*c.center[j])) / c.cn DESC, c.cluster ASC) AS rn"
        f" FROM pts p, cent c WHERE p.vec_id < {n_queries}"
        f") WHERE rn <= {n_probe})",
        # candidates = members of probed clusters (dedup across probes)
        "cand AS (SELECT DISTINCT pr.qid, a.vec_id FROM probes pr"
        " JOIN asg a ON a.cid = pr.cid WHERE a.vec_id != pr.qid)",
        "scored AS (SELECT cd.qid, cd.vec_id,"
        " ROUND(list_sum(list_transform(generate_series(1, len(q.v)),"
        "   i -> q.v[i]*c.v[i]))"
        "  / (sqrt(list_sum(list_transform(q.v, x -> x*x)))"
        "     * sqrt(list_sum(list_transform(c.v, x -> x*x)))), 4) AS sim"
        " FROM cand cd JOIN pts q ON q.vec_id = cd.qid"
        " JOIN pts c ON c.vec_id = cd.vec_id)",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + " SELECT qid, vec_id, sim FROM ("
        "  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid"
        "   ORDER BY sim DESC, vec_id ASC) AS rn FROM scored"
        f" ) WHERE rn <= {k}"
    )


def _pq_sql(dim: int, m: int, ks: int, iters: int, n_queries: int, k: int) -> str:
    """Unrolled product quantization (pipeline/similarity.pq_topk):
    per-subspace Lloyd k-means (the _kmeans_ctes recurrence over the
    1-based inclusive list slice v[lo:hi]), corpus codes via the same
    argmin-ties-lowest rule, per-query distance tables, ADC = sum of m
    table lookups joined on the codes, ROUND(.., 6) before ranking."""
    sub = dim // m
    ctes = [
        "pts AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v"
        " FROM embeddings)",
    ]
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        ctes += [
            f"p{s} AS MATERIALIZED (SELECT vec_id, v[{lo}:{hi}] AS v FROM pts)",
            f"c{s}_0 AS (SELECT (ROW_NUMBER() OVER (ORDER BY vec_id)) - 1"
            f" AS cluster, v AS center FROM p{s} ORDER BY vec_id LIMIT {ks})",
        ]
        for i in range(1, iters + 1):
            pv = i - 1
            ctes += [
                f"a{s}_{i} AS (SELECT p.vec_id, p.v,"
                f" (SELECT c.cluster FROM c{s}_{pv} c"
                f"  ORDER BY list_sum(list_transform(generate_series(1, len(p.v)),"
                f"   j -> (p.v[j]-c.center[j])*(p.v[j]-c.center[j]))), c.cluster"
                f"  LIMIT 1) AS cluster FROM p{s} p)",
                f"m{s}_{i} AS (SELECT cluster, j, AVG(val) AS val FROM ("
                f"  SELECT a.cluster, unnest(a.v) AS val,"
                f"  unnest(generate_series(1, len(a.v))) AS j FROM a{s}_{i} a"
                f" ) GROUP BY cluster, j)",
                f"n{s}_{i} AS (SELECT cluster, list(val ORDER BY j) AS center"
                f" FROM m{s}_{i} GROUP BY cluster)",
                f"c{s}_{i} AS (SELECT pv.cluster, COALESCE(n.center, pv.center)"
                f" AS center FROM c{s}_{pv} pv LEFT JOIN n{s}_{i} n USING (cluster))",
            ]
        ctes += [
            f"code{s} AS MATERIALIZED (SELECT p.vec_id,"
            f" (SELECT c.cluster FROM c{s}_{iters} c"
            f"  ORDER BY list_sum(list_transform(generate_series(1, len(p.v)),"
            f"   j -> (p.v[j]-c.center[j])*(p.v[j]-c.center[j]))), c.cluster"
            f"  LIMIT 1) AS code FROM p{s} p)",
            f"dt{s} AS MATERIALIZED (SELECT q.vec_id AS qid, c.cluster,"
            f" list_sum(list_transform(generate_series(1, len(q.v)),"
            f"  j -> (q.v[j]-c.center[j])*(q.v[j]-c.center[j]))) AS d"
            f" FROM p{s} q, c{s}_{iters} c WHERE q.vec_id < {n_queries})",
        ]
    code_joins = " ".join(
        f"JOIN code{s} c{s} USING (vec_id)" for s in range(1, m)
    )
    dt_joins = " ".join(
        f"JOIN dt{s} d{s} ON d{s}.cluster = a.k{s} AND d{s}.qid = d0.qid"
        for s in range(1, m)
    )
    ksum = " + ".join(f"d{s}.d" for s in range(m))
    ctes += [
        "allc AS (SELECT c0.vec_id, "
        + ", ".join(f"c{s}.code AS k{s}" for s in range(m))
        + f" FROM code0 c0 {code_joins})",
        f"scored AS (SELECT d0.qid, a.vec_id, ROUND({ksum}, 6) AS dist"
        f" FROM allc a JOIN dt0 d0 ON d0.cluster = a.k0 {dt_joins}"
        f" WHERE a.vec_id != d0.qid)",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + " SELECT qid, vec_id, dist FROM ("
        "  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid"
        "   ORDER BY dist ASC, vec_id ASC) AS rn FROM scored"
        f" ) WHERE rn <= {k}"
    )


def _lsh_bucket_ctes(dim: int, n_planes: int, bands: int, seed: int) -> list[str]:
    """Shared sign-LSH CTEs (pts, projs, buckets) mirroring
    linkgraph.pipeline.similarity.lsh_bucket_ids: hyperplane
    components are the engine's own md5-derived values embedded as
    literals (repr round-trips doubles exactly), bucket bits are signs
    of the projections. The only cross-engine float risk is a
    projection landing within ~1ulp of 0 — probability ~1e-12 per
    draw."""
    from linkgraph.pipeline.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)  # (dim, n_planes)
    per_band = n_planes // bands
    proj_cols = ", ".join(
        "list_sum(list_transform(generate_series(1, len(v)),"
        f" d -> v[d] * ([{', '.join(repr(float(planes[d][p])) for d in range(dim))}])[d]))"
        f" AS p{p}"
        for p in range(n_planes)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, ("
        + " + ".join(
            f"CASE WHEN p{b * per_band + j} > 0 THEN {1 << j} ELSE 0 END"
            for j in range(per_band)
        )
        + ") AS bucket FROM projs"
        for b in range(bands)
    )
    return [
        "pts AS MATERIALIZED (SELECT vec_id,"
        " list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)",
        f"projs AS MATERIALIZED (SELECT vec_id, {proj_cols} FROM pts)",
        f"buckets AS MATERIALIZED ({band_selects})",
    ]


def _lsh_topk_sql(
    dim: int, n_planes: int, bands: int, seed: int, n_queries: int, k: int
) -> str:
    """Sign-LSH bucketed cosine top-k, mirroring
    linkgraph.pipeline.similarity.lsh_cosine_topk: candidates share
    >= 1 band bucket, and cosine is ROUND(.., 4) with ties to the
    lowest vec_id (see _lsh_bucket_ctes for the float-parity note)."""
    ctes = _lsh_bucket_ctes(dim, n_planes, bands, seed) + [
        f"cands AS MATERIALIZED (SELECT DISTINCT q.vec_id AS qid, c.vec_id"
        f" FROM buckets q JOIN buckets c"
        f" ON q.band = c.band AND q.bucket = c.bucket AND q.vec_id != c.vec_id"
        f" WHERE q.vec_id < {n_queries})",
        "scored AS (SELECT cd.qid, cd.vec_id,"
        " ROUND(list_sum(list_transform(generate_series(1, len(q.v)),"
        "   i -> q.v[i]*c.v[i]))"
        "  / (sqrt(list_sum(list_transform(q.v, x -> x*x)))"
        "     * sqrt(list_sum(list_transform(c.v, x -> x*x)))), 4) AS sim"
        " FROM cands cd JOIN pts q ON q.vec_id = cd.qid"
        " JOIN pts c ON c.vec_id = cd.vec_id)",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + " SELECT qid, vec_id, sim FROM ("
        "  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid"
        "   ORDER BY sim DESC, vec_id ASC) AS rn FROM scored"
        f" ) WHERE rn <= {k}"
    )


def _knn_ann_sql(
    dim: int, n_planes: int, bands: int, seed: int, n_queries: int, k: int
) -> str:
    """kNN majority-vote label eval over the sign-LSH candidate set —
    the LSH top-k of _lsh_topk_sql composed with the vote CTEs of the
    exact knn_label_accuracy oracle (prediction = most frequent
    neighbor label, ties to the smallest label)."""
    ctes = _lsh_bucket_ctes(dim, n_planes, bands, seed) + [
        f"cands AS MATERIALIZED (SELECT DISTINCT q.vec_id AS qid, c.vec_id"
        f" FROM buckets q JOIN buckets c"
        f" ON q.band = c.band AND q.bucket = c.bucket AND q.vec_id != c.vec_id"
        f" WHERE q.vec_id < {n_queries})",
        "scored AS (SELECT cd.qid, cd.vec_id,"
        " ROUND(list_sum(list_transform(generate_series(1, len(q.v)),"
        "   i -> q.v[i]*c.v[i]))"
        "  / (sqrt(list_sum(list_transform(q.v, x -> x*x)))"
        "     * sqrt(list_sum(list_transform(c.v, x -> x*x)))), 4) AS sim"
        " FROM cands cd JOIN pts q ON q.vec_id = cd.qid"
        " JOIN pts c ON c.vec_id = cd.vec_id)",
        "topk AS (SELECT qid, vec_id FROM ("
        " SELECT *, ROW_NUMBER() OVER (PARTITION BY qid"
        "  ORDER BY sim DESC, vec_id ASC) AS rn FROM scored"
        f") WHERE rn <= {k})",
        "votes AS (SELECT t.qid, e.label AS lab, COUNT(*) AS c"
        " FROM topk t JOIN embeddings e ON t.vec_id = e.vec_id GROUP BY 1, 2)",
        "pred AS (SELECT qid, lab AS pred_label FROM ("
        " SELECT *, ROW_NUMBER() OVER (PARTITION BY qid"
        "  ORDER BY c DESC, lab ASC) AS rn FROM votes) WHERE rn = 1)",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + " SELECT p.qid, p.pred_label, e.label AS true_label,"
        " CAST(p.pred_label = e.label AS INT) AS correct"
        " FROM pred p JOIN embeddings e ON p.qid = e.vec_id"
    )


def _ann_recall_sql(
    dim: int, n_planes: int, bands: int, seed: int, n_queries: int, k: int
) -> str:
    """Per-query recall of the LSH top-k vs the exact brute-force
    top-k — both rankings replayed (same round-4 cosine + (sim DESC,
    vec_id ASC) orders as their individual oracles), overlap counted,
    recall = ROUND(hits / k, 4)."""
    ctes = _lsh_bucket_ctes(dim, n_planes, bands, seed) + [
        # LSH side (lsh_cosine_topk mirror)
        f"cands AS MATERIALIZED (SELECT DISTINCT q.vec_id AS qid, c.vec_id"
        f" FROM buckets q JOIN buckets c"
        f" ON q.band = c.band AND q.bucket = c.bucket AND q.vec_id != c.vec_id"
        f" WHERE q.vec_id < {n_queries})",
        "lscored AS (SELECT cd.qid, cd.vec_id,"
        " ROUND(list_sum(list_transform(generate_series(1, len(q.v)),"
        "   i -> q.v[i]*c.v[i]))"
        "  / (sqrt(list_sum(list_transform(q.v, x -> x*x)))"
        "     * sqrt(list_sum(list_transform(c.v, x -> x*x)))), 4) AS sim"
        " FROM cands cd JOIN pts q ON q.vec_id = cd.qid"
        " JOIN pts c ON c.vec_id = cd.vec_id)",
        "ltopk AS (SELECT qid, vec_id FROM ("
        " SELECT *, ROW_NUMBER() OVER (PARTITION BY qid"
        "  ORDER BY sim DESC, vec_id ASC) AS rn FROM lscored"
        f") WHERE rn <= {k})",
        # exact side (cosine_topk mirror over the same pts relation)
        f"escored AS (SELECT q.vec_id AS qid, c.vec_id,"
        " ROUND(list_sum(list_transform(generate_series(1, len(q.v)),"
        "   i -> q.v[i]*c.v[i]))"
        "  / (sqrt(list_sum(list_transform(q.v, x -> x*x)))"
        "     * sqrt(list_sum(list_transform(c.v, x -> x*x)))), 4) AS sim"
        f" FROM pts q JOIN pts c ON c.vec_id != q.vec_id"
        f" WHERE q.vec_id < {n_queries})",
        "etopk AS (SELECT qid, vec_id FROM ("
        " SELECT *, ROW_NUMBER() OVER (PARTITION BY qid"
        "  ORDER BY sim DESC, vec_id ASC) AS rn FROM escored"
        f") WHERE rn <= {k})",
        "base AS (SELECT qid, COUNT(*) AS n_exact FROM etopk GROUP BY qid)",
        "hits AS (SELECT e.qid, COUNT(*) AS n_hit FROM etopk e"
        " JOIN ltopk l ON l.qid = e.qid AND l.vec_id = e.vec_id"
        " GROUP BY e.qid)",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + " SELECT b.qid, b.n_exact, COALESCE(h.n_hit, 0) AS n_hit,"
        " ROUND(COALESCE(h.n_hit, 0) / b.n_exact, 4) AS recall"
        " FROM base b LEFT JOIN hits h ON h.qid = b.qid"
    )


def _vote_over_topk_sql(topk_sql: str) -> str:
    """Majority-vote label eval over ANY (qid, vec_id, ...) ANN top-k
    oracle — the _majority_vote mirror as a composition: the tier's
    full unrolled top-k query nests as a WITH-in-CTE, so the IVF and
    PQ gates reuse their own top-k oracles (_ivf_sql / _pq_sql)
    verbatim instead of restating the train->encode->scan chain."""
    return (
        f"WITH atopk AS ({topk_sql}),"
        " votes AS (SELECT t.qid, e.label AS lab, COUNT(*) AS c"
        " FROM atopk t JOIN embeddings e ON t.vec_id = e.vec_id"
        " GROUP BY 1, 2),"
        " pred AS (SELECT qid, lab AS pred_label FROM ("
        " SELECT *, ROW_NUMBER() OVER (PARTITION BY qid"
        "  ORDER BY c DESC, lab ASC) AS rn FROM votes) WHERE rn = 1)"
        " SELECT p.qid, p.pred_label, e.label AS true_label,"
        " CAST(p.pred_label = e.label AS INT) AS correct"
        " FROM pred p JOIN embeddings e ON p.qid = e.vec_id"
    )


def _recall_over_topk_sql(
    topk_sql: str, n_queries: int, k: int, exact_round_to: int = 4
) -> str:
    """Per-query recall of ANY ANN top-k oracle against the exact
    brute-force cosine top-k (the ann_recall mirror for the IVF/PQ
    tiers; same (sim DESC, vec_id ASC) exact ranking as the
    brute-force gate, rounded at ``exact_round_to``)."""
    return (
        f"WITH atopk AS ({topk_sql}),"
        " epts AS (SELECT vec_id,"
        " list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),"
        " escored AS (SELECT q.vec_id AS qid, c.vec_id,"
        " ROUND(list_sum(list_transform(generate_series(1, len(q.v)),"
        "   i -> q.v[i]*c.v[i]))"
        "  / (sqrt(list_sum(list_transform(q.v, x -> x*x)))"
        f"     * sqrt(list_sum(list_transform(c.v, x -> x*x)))), {exact_round_to}) AS sim"
        f" FROM epts q JOIN epts c ON c.vec_id != q.vec_id"
        f" WHERE q.vec_id < {n_queries}),"
        " etopk AS (SELECT qid, vec_id FROM ("
        " SELECT *, ROW_NUMBER() OVER (PARTITION BY qid"
        "  ORDER BY sim DESC, vec_id ASC) AS rn FROM escored"
        f") WHERE rn <= {k}),"
        " base AS (SELECT qid, COUNT(*) AS n_exact FROM etopk GROUP BY qid),"
        " hits AS (SELECT e.qid, COUNT(*) AS n_hit FROM etopk e"
        " JOIN atopk l ON l.qid = e.qid AND l.vec_id = e.vec_id"
        " GROUP BY e.qid)"
        " SELECT b.qid, b.n_exact, COALESCE(h.n_hit, 0) AS n_hit,"
        " ROUND(COALESCE(h.n_hit, 0) / b.n_exact, 4) AS recall"
        " FROM base b LEFT JOIN hits h ON h.qid = b.qid"
    )


def _neardup_pairs_sql(
    dim: int, n_planes: int, bands: int, seed: int, tau: float
) -> str:
    """Embedding-cosine near-dup pairs, mirroring
    linkgraph.pipeline.similarity.embedding_neardup_pairs: unordered
    pairs sharing >= 1 sign-LSH band bucket with exact ROUND(.., 4)
    cosine >= tau."""
    ctes = _lsh_bucket_ctes(dim, n_planes, bands, seed) + [
        "cands AS MATERIALIZED (SELECT DISTINCT a.vec_id AS vec_id_a,"
        " b.vec_id AS vec_id_b FROM buckets a JOIN buckets b"
        " ON a.band = b.band AND a.bucket = b.bucket"
        " AND a.vec_id < b.vec_id)",
        "scored AS (SELECT cd.vec_id_a, cd.vec_id_b,"
        " ROUND(list_sum(list_transform(generate_series(1, len(a.v)),"
        "   i -> a.v[i]*b.v[i]))"
        "  / (sqrt(list_sum(list_transform(a.v, x -> x*x)))"
        "     * sqrt(list_sum(list_transform(b.v, x -> x*x)))), 4) AS sim"
        " FROM cands cd JOIN pts a ON a.vec_id = cd.vec_id_a"
        " JOIN pts b ON b.vec_id = cd.vec_id_b)",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f" SELECT vec_id_a, vec_id_b, sim FROM scored WHERE sim >= {tau}"
    )


def _bgd_sql(iters: int, lr: float) -> str:
    """Unrolled IMRU batch-gradient-descent: w <- w - lr * X^T(Xw-y)/n
    from a zero weight vector, label = 2*x0 - x1 + 0.5*x2 (1-based in
    SQL). Exact value match at ROUND(..,6) — 0 of 64 weights differ."""
    ctes = [
        "pts AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS v,"
        " 2*embedding[1]::DOUBLE - embedding[2]::DOUBLE + 0.5*embedding[3]::DOUBLE AS label"
        " FROM embeddings)",
        "nn AS (SELECT COUNT(*)::DOUBLE AS n FROM pts)",
        "dims AS (SELECT len(v) AS d FROM pts LIMIT 1)",
        "w0 AS (SELECT list_transform(generate_series(1, (SELECT d FROM dims)), j -> 0.0) AS w)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes += [
            f"e{i} AS (SELECT p.v, list_sum(list_transform(generate_series(1, len(p.v)),"
            f" j -> p.v[j]*w.w[j])) - p.label AS err FROM pts p, w{p} w)",
            f"g{i} AS (SELECT j, SUM(val*err) AS grad FROM ("
            f" SELECT unnest(v) AS val, unnest(generate_series(1, len(v))) AS j, err FROM e{i}"
            f") GROUP BY j)",
            f"w{i} AS (SELECT list(w.w[g.j] - {lr}*g.grad/(SELECT n FROM nn) ORDER BY g.j) AS w"
            f" FROM g{i} g, w{p} w)",
        ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT (j-1)::INT AS dim, ROUND(val, 6) AS weight FROM ("
        f" SELECT unnest(w.w) AS val, unnest(generate_series(1, len(w.w))) AS j FROM w{iters} w)"
    )


def _duckdb_shingles_cte(n: int) -> str:
    """DuckDB CTEs (toks, sh) for distinct word n-gram shingle strings
    per doc — mirrors the engine's JVM-side shingle extraction."""
    return (
        "toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),"
        " sh AS MATERIALIZED (SELECT DISTINCT doc_id, unnest(["
        f"   array_to_string(toks[i:i+{n - 1}], ' ')"
        f"   FOR i IN generate_series(1, greatest(len(toks) - {n - 1}, 0))"
        "  ]) AS s FROM toks)"
    )


def _minhash_ctes(num_hashes: int, bands: int, shingle_n: int, seed: int) -> list[str]:
    """Integer-exact unrolled MinHash-LSH CTE chain ending in
    ``est(doc_a, doc_b, est_jaccard)``: md5-digit shingle hashes,
    (a*x+b) mod 2^31-1 signatures (constants from the SAME
    linkgraph.phash draws the engine uses, embedded as literals),
    md5-keyed band buckets, bucket-join candidates, signature-estimated
    Jaccard. Every step is exact BIGINT arithmetic or md5 — zero float
    divergence risk between engines."""
    from linkgraph.phash import md5_digits_sql
    from linkgraph.pipeline.dedup import MINHASH_P, _hash_params

    a, b = _hash_params(num_hashes, seed)
    rows_per_band = num_hashes // bands
    params = ", ".join(
        f"({i + 1}, {int(a[i])}, {int(b[i])})" for i in range(num_hashes)
    )
    empty_sig = "[" + ", ".join([str(MINHASH_P)] * num_hashes) + "]"
    ctes = [
        _duckdb_shingles_cte(shingle_n),
        "shh AS MATERIALIZED (SELECT doc_id, md5(s) AS h FROM sh)",
        f"shx AS MATERIALIZED (SELECT doc_id, {md5_digits_sql('h', 7)} AS x FROM shh)",
        f"params AS (SELECT * FROM (VALUES {params}) p(i, a, b))",
        f"sigs AS MATERIALIZED (SELECT s.doc_id, p.i,"
        f" MIN((s.x * p.a + p.b) % {MINHASH_P}) AS m"
        f" FROM shx s CROSS JOIN params p GROUP BY s.doc_id, p.i)",
        f"sigarr AS MATERIALIZED (SELECT d.doc_id,"
        f" COALESCE(sa.sig, {empty_sig}) AS sig"
        f" FROM documents d LEFT JOIN (SELECT doc_id, list(m ORDER BY i) AS sig"
        f" FROM sigs GROUP BY doc_id) sa USING (doc_id))",
        f"banded AS MATERIALIZED (SELECT doc_id, sig, g.bd AS band,"
        f" md5(array_to_string(sig[g.bd*{rows_per_band}+1:g.bd*{rows_per_band}+{rows_per_band}], ',')) AS bucket"
        f" FROM sigarr CROSS JOIN generate_series(0, {bands - 1}) g(bd))",
        "cands AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b"
        " FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket"
        " AND a.doc_id < b.doc_id)",
        f"est AS (SELECT c.doc_a, c.doc_b,"
        f" ROUND(list_sum(list_transform(generate_series(1, {num_hashes}),"
        f"  j -> CASE WHEN sa.sig[j] = sb.sig[j] THEN 1 ELSE 0 END)) / {float(num_hashes)}, 6)"
        f" AS est_jaccard"
        f" FROM cands c JOIN sigarr sa ON sa.doc_id = c.doc_a"
        f" JOIN sigarr sb ON sb.doc_id = c.doc_b)",
    ]
    return ctes


def _minhash_sql(num_hashes: int, bands: int, shingle_n: int, threshold: float, seed: int) -> str:
    return (
        "WITH "
        + ",\n".join(_minhash_ctes(num_hashes, bands, shingle_n, seed))
        + f"\nSELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= {threshold}"
    )


def _minhash_verified_sql(
    num_hashes: int, bands: int, shingle_n: int, threshold: float, seed: int
) -> str:
    """Exact shingle-set Jaccard over the SAME LSH candidate set the
    engine generates (_minhash_ctes ends in ``cands``); the unused
    ``est`` CTE is non-materialized so DuckDB never evaluates it."""
    ctes = _minhash_ctes(num_hashes, bands, shingle_n, seed)
    ctes += [
        "sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id)",
        "inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter"
        " FROM cands c JOIN sh a ON a.doc_id = c.doc_a"
        " JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s"
        " GROUP BY c.doc_a, c.doc_b)",
    ]
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT doc_a, doc_b,"
        "  ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard"
        " FROM inter"
        " JOIN sizes sa ON sa.doc_id = doc_a"
        " JOIN sizes sb ON sb.doc_id = doc_b"
        f" WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= {threshold}"
    )


def _dedup_clusters_sql(
    num_hashes: int, bands: int, shingle_n: int, threshold: float, seed: int
) -> str:
    """Transitive closure of the MinHash-LSH pair graph via a recursive
    CTE: reach(doc, r) grows the reachable set along symmetrized pair
    edges; MIN(r) per doc is the component's minimum doc_id — exactly
    the engine's min-label CC fixpoint (dedup.dedup_clusters). The
    quadratic closure table is oracle-only; the engine runs the
    delta-messaging superstep loop."""
    ctes = _minhash_ctes(num_hashes, bands, shingle_n, seed)
    ctes.append(
        f"pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM est"
        f" WHERE est_jaccard >= {threshold})"
    )
    ctes.append(
        "sym AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs"
        " UNION ALL SELECT doc_b, doc_a FROM pairs)"
    )
    ctes.append(
        "reach(doc, r) AS (SELECT doc_id, doc_id FROM documents"
        " UNION"
        " SELECT re.doc, sym.d FROM reach re JOIN sym ON sym.s = re.r)"
    )
    return (
        "WITH RECURSIVE "
        + ",\n".join(ctes)
        + "\nSELECT doc AS doc_id, MIN(r) AS cluster,"
        " CAST(CASE WHEN MIN(r) = doc THEN 1 ELSE 0 END AS INT) AS is_representative"
        " FROM reach GROUP BY doc"
    )


def _canonical_docs_sql(
    num_hashes: int, bands: int, shingle_n: int, threshold: float, seed: int
) -> str:
    """dedup_clusters' recursive-CTE closure + the INTEGER quality key
    (textstats.quality_key: 5/3/2 band points, every band test an
    integer compare so the ranking has no float ties), survivor = max
    q10 then min doc_id per cluster."""
    ctes = _minhash_ctes(num_hashes, bands, shingle_n, seed)
    ctes.append(
        f"pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM est"
        f" WHERE est_jaccard >= {threshold})"
    )
    ctes.append(
        "sym AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs"
        " UNION ALL SELECT doc_b, doc_a FROM pairs)"
    )
    ctes.append(
        "reach(doc, r) AS (SELECT doc_id, doc_id FROM documents"
        " UNION"
        " SELECT re.doc, sym.d FROM reach re JOIN sym ON sym.s = re.r)"
    )
    ctes.append(
        "comp AS MATERIALIZED (SELECT doc AS doc_id, MIN(r) AS cluster"
        " FROM reach GROUP BY doc)"
    )
    ctes.append(
        "qk AS MATERIALIZED ("
        " WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks"
        "   FROM documents),"
        " m AS (SELECT doc_id, len(toks)::BIGINT AS n_tok,"
        f"   len(list_filter(toks, x -> list_contains({_STOP}, x)))::BIGINT AS n_stop,"
        "   list_sum(list_transform(toks, x -> length(x)))::BIGINT AS sum_len"
        "  FROM t)"
        " SELECT doc_id,"
        "  CAST((CASE WHEN n_tok >= 5 AND n_tok <= 5000 THEN 5 ELSE 0 END)"
        "   + (CASE WHEN 100*n_stop > n_tok AND 10*n_stop < 6*n_tok THEN 3 ELSE 0 END)"
        "   + (CASE WHEN sum_len > 2*n_tok AND sum_len < 12*n_tok THEN 2 ELSE 0 END)"
        "  AS INT) AS q10 FROM m)"
    )
    return (
        "WITH RECURSIVE "
        + ",\n".join(ctes)
        + "\nSELECT cluster, kept_doc_id, q10, cluster_size FROM ("
        " SELECT c.cluster, c.doc_id AS kept_doc_id, q.q10,"
        "  COUNT(*) OVER (PARTITION BY c.cluster) AS cluster_size,"
        "  ROW_NUMBER() OVER (PARTITION BY c.cluster"
        "   ORDER BY q.q10 DESC, c.doc_id ASC) AS rn"
        " FROM comp c JOIN qk q USING (doc_id)) WHERE rn = 1"
    )


def _skipgram_sql(w: int, length: int, seed: int, window: int) -> str:
    """Skip-gram pairs over the unrolled portable walk corpus: the
    corpus statement (_random_walks_sql) nested as a CTE, self-joined
    on walk_id with |step delta| in [1, window], counted per
    (center, context)."""
    corpus_stmt = _random_walks_sql(w, length, seed)
    return (
        f"WITH corpus AS ({corpus_stmt})"
        " SELECT a.vertex AS center, b.vertex AS context,"
        " COUNT(*)::BIGINT AS n_pairs"
        " FROM corpus a JOIN corpus b ON a.walk_id = b.walk_id"
        f" AND b.step <> a.step AND abs(b.step - a.step) <= {window}"
        " GROUP BY a.vertex, b.vertex"
    )


def _bpe_ctes(k: int) -> str:
    """Shared CTE chain for the BPE oracles: word types -> initial
    character symbols -> k unrolled merge rounds (pipeline/bpe.py
    semantics: pair positions weighted by word freq, argmax with
    cnt DESC / l ASC / r ASC ties, DOUBLED-separator encoding so one
    replace-all pass == the greedy left-to-right scan — see the
    pipeline/bpe.py module docstring for the proof sketch)."""
    sep, end = "\x1f", "</w>"
    ctes = [
        "w0 AS (SELECT word, COUNT(*)::BIGINT AS freq FROM"
        " (SELECT unnest(string_split(text, ' ')) AS word FROM documents)"
        " WHERE regexp_matches(word, '^[a-z]+$') GROUP BY word)",
        f"s0 AS MATERIALIZED (SELECT word,"
        f" '{sep}{sep}' || regexp_replace(word, '(.)', '\\1{sep}{sep}', 'g')"
        f" || '{end}{sep}{sep}' AS sym, freq FROM w0)",
    ]
    for r in range(1, k + 1):
        p = r - 1
        ctes += [
            f"a{r} AS (SELECT word, sym, freq,"
            f" list_filter(string_split(sym, '{sep}'), x -> x <> '') AS a"
            f" FROM s{p})",
            f"p{r} AS (SELECT a[i] AS l, a[i+1] AS r,"
            f" SUM(freq)::BIGINT AS cnt FROM"
            f" (SELECT a, freq,"
            f" unnest(generate_series(1, list_count(a) - 1)) AS i"
            f" FROM a{r}) GROUP BY 1, 2)",
            f"b{r} AS (SELECT l, r, cnt FROM p{r}"
            f" ORDER BY cnt DESC, l, r LIMIT 1)",
            f"s{r} AS MATERIALIZED (SELECT word,"
            f" replace(sym, pat, rep) AS sym, freq"
            f" FROM a{r}, (SELECT"
            f" '{sep}' || l || '{sep}{sep}' || r || '{sep}' AS pat,"
            f" '{sep}' || l || r || '{sep}' AS rep FROM b{r}))",
        ]
    return ",\n".join(ctes)


def _bpe_sql(k: int) -> str:
    """Learned merge table: (round, l, r, merged, pair_count)."""
    sel = " UNION ALL ".join(
        f"SELECT {r}::BIGINT AS round, l, r, l || r AS merged,"
        f" cnt AS pair_count FROM b{r}"
        for r in range(1, k + 1)
    )
    return (
        "WITH " + _bpe_ctes(k) + "\nSELECT * FROM (" + sel + ") ORDER BY round"
    )


def _bpe_counts_sql(k: int) -> str:
    """Per-document subword token counts under the learned merges
    (docs with no ^[a-z]+$ token count 0, matching bpe_token_counts)."""
    sep = "\x1f"
    return (
        "WITH " + _bpe_ctes(k) + ",\n"
        f"wt AS (SELECT word,"
        f" list_count(list_filter(string_split(sym, '{sep}'), x -> x <> ''))"
        f"::BIGINT AS n_sym FROM s{k}),\n"
        "corp AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word"
        " FROM documents),\n"
        "cj AS (SELECT doc_id, n_sym FROM corp JOIN wt USING (word))\n"
        "SELECT d.doc_id,"
        " COALESCE(SUM(cj.n_sym), 0)::BIGINT AS n_bpe_tokens"
        " FROM documents d LEFT JOIN cj ON cj.doc_id = d.doc_id"
        " GROUP BY d.doc_id"
    )


def _colloc_sql(min_pairs: int) -> str:
    """Collocation lift oracle (pipeline/collocations.py semantics):
    bigrams are adjacent raw-split positions where BOTH tokens match
    ^[a-z]+$; lift_micro = floor(1e6 * c_xy * N / (c_x * c_y)) in
    HUGEINT (matching Spark's DECIMAL(38,0) DIV)."""
    return f"""
WITH arr AS (SELECT string_split(text, ' ') AS a FROM documents),
pos AS (SELECT a, unnest(generate_series(1, len(a) - 1)) AS i FROM arr),
pr AS (SELECT a[i] AS l, a[i + 1] AS r FROM pos
       WHERE regexp_matches(a[i], '^[a-z]+$')
         AND regexp_matches(a[i + 1], '^[a-z]+$')),
pc AS (SELECT l, r, COUNT(*)::BIGINT AS pair_count FROM pr
       GROUP BY l, r HAVING COUNT(*) >= {min_pairs}),
uni AS (SELECT tok, COUNT(*)::BIGINT AS w_cnt FROM
        (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        WHERE regexp_matches(tok, '^[a-z]+$') GROUP BY tok),
tot AS (SELECT SUM(w_cnt)::BIGINT AS n_total FROM uni)
SELECT pc.l, pc.r, pc.pair_count,
       ul.w_cnt AS left_count, ur.w_cnt AS right_count,
       ((1000000::HUGEINT * pc.pair_count * tot.n_total)
        // (ul.w_cnt::HUGEINT * ur.w_cnt))::BIGINT AS lift_micro
FROM pc
JOIN uni ul ON ul.tok = pc.l
JOIN uni ur ON ur.tok = pc.r
CROSS JOIN tot
"""


def _khop_sql(hops: int) -> str:
    """Unrolled k-hop floor-mean feature propagation (algorithms/
    khop.py rule): per hop, in-neighbor SUM/COUNT join, nbr_mean =
    sum // indeg (operands non-negative, so DuckDB's truncating //
    equals floor), combine = (own + nbr_mean) // 2."""
    ctes = [
        EDGES_CTES.strip(),
        "feat AS (SELECT doc_id AS id,"
        " len(string_split(text, ' '))::BIGINT AS f FROM documents)",
        "s0 AS MATERIALIZED (SELECT d.doc_id AS id, COALESCE(feat.f, 0) AS f0"
        " FROM documents d LEFT JOIN feat ON feat.id = d.doc_id)",
    ]
    for k in range(1, hops + 1):
        p = k - 1
        ctes += [
            f"agg{k} AS (SELECT e.dst AS id, SUM(s.f{p}) AS sm,"
            f" COUNT(*) AS dg FROM edges e JOIN s{p} s ON s.id = e.src"
            f" GROUP BY e.dst)",
            f"s{k} AS MATERIALIZED (SELECT s.*,"
            f" CAST((s.f{p} + COALESCE(a.sm // a.dg, s.f{p})) // 2 AS BIGINT)"
            f" AS f{k}"
            f" FROM s{p} s LEFT JOIN agg{k} a ON a.id = s.id)",
        ]
    cols = ", ".join(f"CAST(f{k} AS BIGINT) AS f{k}" for k in range(hops + 1))
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, {cols} FROM s{hops}"


def _wl_sql(rounds: int) -> str:
    """Unrolled 1-WL color refinement (algorithms/wl.py rule): per
    round the sorted neighbor-label multiset via
    ``string_agg(.. ORDER BY ..)`` over the symmetrized graph, the md5
    hoisted ONCE per row into its own CTE (phash.py's multi-extraction
    rule), label = the 14-hex-digit prefix as BIGINT via the
    engine-neutral digit-term spelling."""
    from linkgraph.algorithms.wl import WL_DIGITS
    from linkgraph.phash import md5_digits_sql

    ctes = [
        EDGES_CTES.strip(),
        SYM_CTE.strip(),
        "wdeg AS (SELECT src AS id, COUNT(*) AS dg FROM sym GROUP BY src)",
        "s0 AS MATERIALIZED (SELECT d.doc_id AS id,"
        " CAST(COALESCE(w.dg, 0) AS BIGINT) AS wl0"
        " FROM documents d LEFT JOIN wdeg w ON w.id = d.doc_id)",
    ]
    for k in range(1, rounds + 1):
        p = k - 1
        prev = ", ".join(f"s.wl{i}" for i in range(k))
        keep = ", ".join(f"wl{i}" for i in range(k))
        ctes += [
            f"agg{k} AS (SELECT e.dst AS id,"
            f" string_agg(CAST(s.wl{p} AS VARCHAR), ',' ORDER BY s.wl{p}) AS nb"
            f" FROM sym e JOIN s{p} s ON s.id = e.src GROUP BY e.dst)",
            f"h{k} AS MATERIALIZED (SELECT s.id, {prev},"
            f" md5(concat(CAST(s.wl{p} AS VARCHAR), ':', COALESCE(a.nb, '')))"
            f" AS hx FROM s{p} s LEFT JOIN agg{k} a ON a.id = s.id)",
            f"s{k} AS MATERIALIZED (SELECT id, {keep},"
            f" {md5_digits_sql('hx', WL_DIGITS)} AS wl{k} FROM h{k})",
        ]
    cols = ", ".join(f"CAST(wl{k} AS BIGINT) AS wl{k}" for k in range(rounds + 1))
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, {cols} FROM s{rounds}"


def _fdiv(a: str, b: int) -> str:
    """Exact floor division for possibly-negative ``a`` by positive
    literal ``b`` in DuckDB, whose ``//`` truncates toward zero —
    spelled with pure integer arithmetic so there is no float anywhere
    in the SGNS oracle."""
    return (
        f"(CASE WHEN ({a}) >= 0 THEN ({a}) // {b}"
        f" ELSE -((-({a}) + {b} - 1) // {b}) END)"
    )


def _sgns_sql(
    w: int,
    length: int,
    walk_seed: int,
    window: int,
    dim: int,
    epochs: int,
    negatives: int,
    lr_num: int,
    lr_den: int,
    seed: int,
    scale_bits: int,
) -> str:
    """Unrolled integer SGNS (pipeline/sgns.py spec): the skip-gram
    pair statement nested as a CTE, counter-based init and negative
    draws (md5 coins), per-epoch full-batch hard-sigmoid gradients in
    exact integer arithmetic — every CTE mirrors one numpy statement
    of the IMRU kernel, so the final (vertex, side, dim, value) rows
    hash-match bit for bit."""
    from linkgraph.pipeline.sgns import coin_sql_oracle

    S = 1 << scale_bits
    half, quarter_den, upd_den, clamp = S // 2, 4 * S, lr_den * S, 2 * S
    max_n = 1 << 15
    sg = _skipgram_sql(w, length, walk_seed, window)
    ctes = [
        f"sg AS MATERIALIZED ({sg})",
        # vocabulary = ALL document vertices (the driver passes
        # document_vertices), indexed in sorted order for negatives
        "vocab AS MATERIALIZED (SELECT doc_id AS v,"
        " ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS idx FROM documents)",
        f"dims AS (SELECT unnest(generate_series(0, {dim - 1})) AS j)",
        "grid AS (SELECT v, j FROM vocab CROSS JOIN dims)",
        f"ein0 AS MATERIALIZED (SELECT v, j,"
        f" {coin_sql_oracle('sgi', ['v', 'j'], seed)} % {S} - {half} AS val"
        f" FROM grid)",
        f"eout0 AS MATERIALIZED (SELECT v, j,"
        f" {coin_sql_oracle('sgo', ['v', 'j'], seed)} % {S} - {half} AS val"
        f" FROM grid)",
        # examples: positives (m = -1, x0 = x) + counter-drawn
        # negatives (x0 = the source pair's context — kept so the
        # per-example group key (c, x0, m) stays UNIQUE even when two
        # pairs draw the same negative vertex; collapsing such rows
        # would halve their gradient weight vs the row-wise kernel);
        # weights capped like the kernel's max_pair_weight
        f"pos AS (SELECT center AS c, context AS x0, context AS x, 1 AS y,"
        f" LEAST(n_pairs, {max_n}) AS n, -1 AS m FROM sg)",
        f"negm AS (SELECT center AS c, context AS x0,"
        f" LEAST(n_pairs, {max_n}) AS n, g.m AS m,"
        f" {coin_sql_oracle('sgn', ['center', 'context', 'g.m'], seed)}"
        f" % (SELECT COUNT(*) FROM vocab) AS idx"
        f" FROM sg CROSS JOIN (SELECT unnest(generate_series(0, {negatives - 1})) AS m) g(m))"
        if negatives > 0
        else "negm AS (SELECT NULL AS c, NULL AS x0, NULL AS n, NULL AS m,"
        " NULL AS idx WHERE FALSE)",
        "neg AS (SELECT negm.c, negm.x0, vocab.v AS x, 0 AS y, negm.n, negm.m"
        " FROM negm JOIN vocab USING (idx))",
        "ex AS MATERIALIZED (SELECT * FROM pos UNION ALL SELECT * FROM neg)",
    ]
    for e in range(epochs):
        s_expr = "SUM(i.val * o.val)"
        g_expr = (
            f"LEAST(GREATEST({half} + {_fdiv('s', quarter_den)}, 0), {S})"
            f" - y * {S}"
        )
        ctes += [
            f"sc{e} AS MATERIALIZED (SELECT ex.c, ex.x0, ex.x, ex.y, ex.n, ex.m,"
            f" {s_expr} AS s"
            f" FROM ex JOIN ein{e} i ON i.v = ex.c"
            f" JOIN eout{e} o ON o.v = ex.x AND o.j = i.j"
            f" GROUP BY ex.c, ex.x0, ex.x, ex.y, ex.n, ex.m)",
            f"gr{e} AS MATERIALIZED (SELECT c, x, n, ({g_expr}) AS g FROM sc{e})",
            f"gin{e} AS (SELECT gr.c AS v, o.j,"
            f" SUM({_fdiv('-(gr.n * gr.g) * ' + str(lr_num) + ' * o.val', upd_den)})"
            f" AS dval FROM gr{e} gr JOIN eout{e} o ON o.v = gr.x"
            f" GROUP BY gr.c, o.j)",
            f"gout{e} AS (SELECT gr.x AS v, i.j,"
            f" SUM({_fdiv('-(gr.n * gr.g) * ' + str(lr_num) + ' * i.val', upd_den)})"
            f" AS dval FROM gr{e} gr JOIN ein{e} i ON i.v = gr.c"
            f" GROUP BY gr.x, i.j)",
            f"ein{e + 1} AS MATERIALIZED (SELECT b.v, b.j,"
            f" LEAST(GREATEST(b.val + COALESCE(d.dval, 0), -{clamp}), {clamp}) AS val"
            f" FROM ein{e} b LEFT JOIN gin{e} d ON d.v = b.v AND d.j = b.j)",
            f"eout{e + 1} AS MATERIALIZED (SELECT b.v, b.j,"
            f" LEAST(GREATEST(b.val + COALESCE(d.dval, 0), -{clamp}), {clamp}) AS val"
            f" FROM eout{e} b LEFT JOIN gout{e} d ON d.v = b.v AND d.j = b.j)",
        ]
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT v AS vertex, 'in' AS side,"
        f" CAST(j AS INT) AS dim, CAST(val AS BIGINT) AS value FROM ein{epochs}"
        f" UNION ALL SELECT v, 'out', CAST(j AS INT), CAST(val AS BIGINT)"
        f" FROM eout{epochs}"
    )


def _simhash_fp_ctes(shingle_n: int) -> list[str]:
    """CTE chain ending in ``fp(doc_id, simhash)`` — the bit-exact
    SimHash fingerprint: md5-digit hi/lo shingle-hash halves, per-bit
    majority votes, two's-complement BIGINT assembly (bit 63 handled
    without overflowing: lo63 - b63*(2^63-1) - b63)."""
    from linkgraph.phash import md5_digits_sql

    return [
        _duckdb_shingles_cte(shingle_n),
        "shh AS MATERIALIZED (SELECT doc_id, md5(s) AS h FROM sh)",
        f"hx AS MATERIALIZED (SELECT doc_id, {md5_digits_sql('h', 8, 0)} AS hi,"
        f" {md5_digits_sql('h', 8, 8)} AS lo FROM shh)",
        "votes AS MATERIALIZED (SELECT doc_id, g.b AS b,"
        " SUM(CASE WHEN g.b < 32 THEN (lo >> g.b) & 1"
        "     ELSE (hi >> (g.b - 32)) & 1 END) AS ones,"
        " COUNT(*) AS n"
        " FROM hx CROSS JOIN generate_series(0, 63) g(b) GROUP BY doc_id, g.b)",
        # outer CAST: DuckDB's SUM(BIGINT) returns HUGEINT; left as
        # hugeint, mixed-sign xor() sign-extends to 128 bits and
        # bit_count gains 64 phantom bits (and pandas collapses the
        # column to float)
        "fpx AS (SELECT doc_id,"
        " CAST(SUM(CASE WHEN 2*ones - n > 0 AND b < 63 THEN (CAST(1 AS BIGINT) << b)"
        "     ELSE CAST(0 AS BIGINT) END)"
        " - MAX(CASE WHEN b = 63 AND 2*ones - n > 0 THEN 1 ELSE 0 END)"
        "   * CAST(9223372036854775807 AS BIGINT)"
        " - MAX(CASE WHEN b = 63 AND 2*ones - n > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        " AS simhash"
        " FROM votes GROUP BY doc_id)",
        "fp AS MATERIALIZED (SELECT d.doc_id,"
        " COALESCE(f.simhash, CAST(0 AS BIGINT)) AS simhash"
        " FROM documents d LEFT JOIN fpx f USING (doc_id))",
    ]


def _simhash_sql(shingle_n: int) -> str:
    return "WITH " + ",\n".join(_simhash_fp_ctes(shingle_n)) + "\nSELECT doc_id, simhash FROM fp"


def _simhash_pairs_sql(shingle_n: int, max_distance: int) -> str:
    """Brute-force Hamming verification over the bit-exact fingerprint
    CTEs — equals the engine's banded multi-index output exactly, since
    pigeonhole banding has 100% recall and the bit_count verify is the
    same predicate."""
    return (
        "WITH "
        + ",\n".join(_simhash_fp_ctes(shingle_n))
        + "\nSELECT a.doc_id AS doc_a, b.doc_id AS doc_b,"
        " CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming"
        " FROM fp a JOIN fp b ON a.doc_id < b.doc_id"
        f" WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_distance}"
    )


def _graph_sample_sql(
    target: float,
    seed: int,
    seed_interval: int,
    sampling_interval: int,
    steps: int,
) -> str:
    """Unrolled graph-sampling supersteps (seed coin + neighbor-expansion
    coin, both md5-digit draws shared verbatim with the engine via
    linkgraph.algorithms.sampling.{seed,edge}_coin_sql). The engine stops
    at the FIRST superstep whose global fill fraction reaches ``target``;
    the oracle unrolls ``steps`` supersteps, computes each step's fill,
    and selects the state at that same stopping step."""
    from linkgraph.algorithms.sampling import edge_coin_sql, seed_coin_sql

    ctes = [
        EDGES_CTES.strip(),
        "s0 AS (SELECT doc_id AS id, FALSE AS selected, FALSE AS newly FROM documents)",
    ]
    for i in range(1, steps + 1):
        p = i - 1
        coin = seed_coin_sql("v.id", seed, i, seed_interval)
        # AS MATERIALIZED: each step references the previous one twice
        # (expansion scan + state join); without the hint DuckDB inlines
        # CTEs and the plan doubles per step — 2^steps blowup
        ctes += [
            f"mk{i} AS MATERIALIZED (SELECT DISTINCT e.dst AS id FROM edges e"
            f" JOIN s{p} v ON v.id = e.src AND v.newly"
            f" WHERE {edge_coin_sql('e.src', 'e.dst', seed, i, sampling_interval)})",
            f"s{i} AS MATERIALIZED (SELECT v.id,"
            f" (v.selected OR m.id IS NOT NULL OR {coin}) AS selected,"
            f" ((v.selected OR m.id IS NOT NULL OR {coin}) AND NOT v.selected) AS newly"
            f" FROM s{p} v LEFT JOIN mk{i} m ON m.id = v.id)",
        ]
    union = " UNION ALL ".join(
        f"SELECT {i} AS step, id, selected FROM s{i}" for i in range(1, steps + 1)
    )
    ctes += [
        f"allsteps AS ({union})",
        "fills AS (SELECT step,"
        " AVG(CASE WHEN selected THEN 1.0 ELSE 0.0 END) AS fill"
        " FROM allsteps GROUP BY step)",
        f"tstop AS (SELECT COALESCE(MIN(step), {steps}) AS t FROM fills"
        f" WHERE fill >= {target})",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT id, selected FROM allsteps WHERE step = (SELECT t FROM tstop)"
    )


def _seeded_lpa_sql(steps: int) -> str:
    """Unrolled seeded label propagation: seeds clamp, the unlabeled
    adopt the neighbor-label mode (count DESC, label ASC) and freeze.
    The engine's frontier-only scatter is provably identical to this
    all-labeled-neighbors spelling (see algorithms/seeded_lpa.py);
    MATERIALIZED keeps DuckDB from inlining the doubly-referenced
    previous round exponentially."""
    ctes = [
        EDGES_CTES.strip(),
        SYM_CTE.strip(),
        f"l0 AS (SELECT doc_id AS id, CASE WHEN doc_id % {SLPA_SEED_MOD} = 0"
        f" THEN doc_id % {SLPA_LBL_MOD} END AS label FROM documents)",
    ]
    for i in range(1, steps + 1):
        ctes.append(
            f"l{i} AS MATERIALIZED ("
            f" SELECT v.id, COALESCE(v.label, m.mode_lbl) AS label FROM l{i-1} v"
            f" LEFT JOIN ("
            f"   SELECT id, lbl AS mode_lbl FROM ("
            f"     SELECT s.dst AS id, p.label AS lbl, COUNT(*) AS cnt,"
            f"            ROW_NUMBER() OVER (PARTITION BY s.dst"
            f"             ORDER BY COUNT(*) DESC, p.label ASC) AS rn"
            f"     FROM sym s JOIN l{i-1} p ON s.src = p.id"
            f"     WHERE p.label IS NOT NULL"
            f"     GROUP BY s.dst, p.label)"
            f"   WHERE rn = 1) m ON v.id = m.id)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, COALESCE(label, -1) AS label FROM l{steps}"
    )


def _lpa_sql(steps: int) -> str:
    ctes = [
        EDGES_CTES.strip(),
        SYM_CTE.strip(),
        "l0 AS (SELECT doc_id AS id, doc_id AS label FROM documents)",
    ]
    for i in range(1, steps + 1):
        ctes.append(
            f"l{i} AS MATERIALIZED ("
            f" SELECT v.id, COALESCE(m.mode_lbl, v.label) AS label FROM l{i-1} v"
            f" LEFT JOIN ("
            f"   SELECT id, lbl AS mode_lbl FROM ("
            f"     SELECT s.dst AS id, p.label AS lbl, COUNT(*) AS cnt,"
            f"            ROW_NUMBER() OVER (PARTITION BY s.dst ORDER BY COUNT(*) DESC, p.label ASC) AS rn"
            f"     FROM sym s JOIN l{i-1} p ON s.src = p.id"
            f"     GROUP BY s.dst, p.label)"
            f"   WHERE rn = 1) m ON v.id = m.id)"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, label FROM l{steps}"


def oracle_sql() -> dict[str, str]:
    W = "WITH " + EDGES_CTES.strip()
    WS = "WITH " + EDGES_CTES.strip() + ", " + SYM_CTE.strip()
    sql = {
        "edge_derivation": f"{W} SELECT src, dst FROM edges",
        "degree_distribution": (
            f"{W} SELECT outdeg, COUNT(*) AS n_vertices FROM"
            " (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)"
            " GROUP BY outdeg"
        ),
        "pagerank": _pagerank_sql(PR_UPDATES),
        "katz_centrality": _katz_sql(KATZ_UPDATES),
        "eigenvector_centrality": _eig_sql(EIG_UPDATES),
        "closed_triad_census": _triad_census_sql(),
        "triad_census_full": _triad_full_sql(),
        "connected_components": (
            "WITH RECURSIVE "
            + EDGES_CTES.strip()
            + ", "
            + SYM_CTE.strip()
            + ", reach(id, lbl) AS ("
            "   SELECT doc_id, doc_id FROM documents"
            "   UNION"
            "   SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.id"
            " )"
            " SELECT id, MIN(lbl) AS component FROM reach GROUP BY id"
        ),
        # SCC: u, v share a component iff reach(u, v) AND reach(v, u);
        # label = min mutually-reachable id (self included)
        "strongly_connected_components": (
            "WITH RECURSIVE "
            + EDGES_CTES.strip()
            + ", reach(a, b) AS ("
            "   SELECT src, dst FROM edges"
            "   UNION"
            "   SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src"
            " ),"
            " mutual AS ("
            "   SELECT r1.a AS u, r1.b AS v FROM reach r1"
            "   JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a"
            " )"
            " SELECT d.doc_id AS id,"
            "        LEAST(d.doc_id, COALESCE(MIN(m.u), d.doc_id)) AS scc"
            " FROM documents d LEFT JOIN mutual m ON m.v = d.doc_id"
            " GROUP BY d.doc_id"
        ),
        "label_propagation": _lpa_sql(LPA_STEPS),
        "seeded_label_propagation": _seeded_lpa_sql(SLPA_STEPS),
        "community_conductance": (
            "WITH "
            + EDGES_CTES.strip()
            + ", "
            + SYM_CTE.strip()
            + ","
            " lab AS (SELECT id, label AS _lbl FROM ("
            + _lpa_sql(LPA_STEPS)
            + ") lpa_out),"
            " tm AS (SELECT COUNT(*)::BIGINT AS two_m FROM sym),"
            " ends AS (SELECT lu._lbl AS community,"
            "  COUNT(*)::BIGINT AS volume,"
            "  CAST(SUM(CASE WHEN lu._lbl <> lv._lbl THEN 1 ELSE 0 END)"
            "   AS BIGINT) AS cut"
            "  FROM sym e JOIN lab lu ON lu.id = e.src"
            "  JOIN lab lv ON lv.id = e.dst GROUP BY lu._lbl),"
            " mem AS (SELECT _lbl AS community, COUNT(*)::BIGINT AS n_members"
            "  FROM lab GROUP BY _lbl)"
            " SELECT m.community, m.n_members,"
            "  CAST(COALESCE(e.volume, 0) AS BIGINT) AS volume,"
            "  CAST(COALESCE(e.cut, 0) AS BIGINT) AS cut,"
            "  CASE WHEN LEAST(COALESCE(e.volume, 0),"
            "    tm.two_m - COALESCE(e.volume, 0)) = 0 THEN NULL"
            "   ELSE ROUND(CAST(e.cut AS DOUBLE) / CAST(LEAST(e.volume,"
            "    tm.two_m - e.volume) AS DOUBLE), 6) END AS conductance"
            " FROM mem m LEFT JOIN ends e ON e.community = m.community, tm"
        ),
        "lpa_modularity": (
            # modularity of the unrolled-LPA labels: exact BIGINT
            # moments + the same fixed float expression as
            # algorithms/stats.modularity
            "WITH "
            + EDGES_CTES.strip()
            + ", "
            + SYM_CTE.strip()
            + ","
            " lab AS (SELECT id, label AS _lbl FROM ("
            + _lpa_sql(LPA_STEPS)
            + ") lpa_out),"
            " ec AS (SELECT COUNT(*)::BIGINT AS m_edges,"
            "  CAST(SUM(CASE WHEN lu._lbl = lv._lbl THEN 1 ELSE 0 END)"
            "   AS BIGINT) AS within_edges"
            "  FROM sym e JOIN lab lu ON lu.id = e.src"
            "  JOIN lab lv ON lv.id = e.dst WHERE e.src < e.dst),"
            " dmom AS (SELECT COUNT(*)::BIGINT AS n_communities,"
            "  CAST(SUM(dc * dc) AS BIGINT) AS sum_deg_sq FROM ("
            "  SELECT l._lbl, CAST(SUM(g.deg) AS BIGINT) AS dc FROM ("
            "   SELECT src, COUNT(*)::BIGINT AS deg FROM sym GROUP BY src) g"
            "  JOIN lab l ON l.id = g.src GROUP BY l._lbl))"
            " SELECT n_communities, m_edges, within_edges, sum_deg_sq,"
            " CAST(within_edges AS DOUBLE) / CAST(m_edges AS DOUBLE)"
            " - CAST(sum_deg_sq AS DOUBLE) / (4.0 * CAST(m_edges AS DOUBLE)"
            "  * CAST(m_edges AS DOUBLE)) AS modularity"
            " FROM ec, dmom"
        ),
        "triangles_per_vertex": (
            f"{WS},"
            " lower_e AS (SELECT src AS b, dst AS a FROM sym WHERE dst < src),"
            " upper_e AS (SELECT src AS b, dst AS c FROM sym WHERE dst > src),"
            " wedges AS (SELECT a, c FROM lower_e JOIN upper_e USING (b)),"
            " closed AS (SELECT w.a FROM wedges w JOIN sym e ON e.src = w.a AND e.dst = w.c),"
            " pv AS (SELECT a AS id, COUNT(*) AS triangles FROM closed GROUP BY a)"
            " SELECT d.doc_id AS id, COALESCE(pv.triangles, 0) AS triangles"
            " FROM documents d LEFT JOIN pv ON pv.id = d.doc_id"
        ),
        "triangle_total": (
            f"{WS},"
            " lower_e AS (SELECT src AS b, dst AS a FROM sym WHERE dst < src),"
            " upper_e AS (SELECT src AS b, dst AS c FROM sym WHERE dst > src),"
            " wedges AS (SELECT a, c FROM lower_e JOIN upper_e USING (b))"
            " SELECT COUNT(*) AS total_triangles"
            " FROM wedges w JOIN sym e ON e.src = w.a AND e.dst = w.c"
        ),
        "sssp_hops": (
            "WITH RECURSIVE "
            + EDGES_CTES.strip()
            + ", walk(id, d) AS ("
            "   SELECT CAST(0 AS BIGINT), 0"
            "   UNION"
            f"   SELECT e.dst, w.d + 1 FROM walk w JOIN edges e ON e.src = w.id WHERE w.d < {SSSP_HOPS}"
            " )"
            " SELECT doc.doc_id AS id, CAST(MIN(w.d) AS DOUBLE) AS distance"
            " FROM documents doc LEFT JOIN walk w ON w.id = doc.doc_id"
            " GROUP BY doc.doc_id"
        ),
        "degree_weighted_pagerank": _dw_pagerank_sql(DW_UPDATES),
        "repo_rollup": (
            "WITH "
            + EDGES_CTES.strip()
            + ", "
            + _REPO_EDGES_CTE
            + " SELECT src_repo, dst_repo, weight FROM repo_edges"
        ),
        "weighted_repo_pagerank": _weighted_repo_pagerank_sql(WPR_UPDATES),
        "link_prediction": (
            "WITH "
            + EDGES_CTES.strip()
            + ", "
            + SYM_CTE.strip()
            + ","
            " sdeg AS (SELECT src, COUNT(*) AS dg FROM sym GROUP BY src),"
            " wedges AS ("
            "   SELECT l.src AS u, r.src AS v, l.dst AS b"
            "   FROM sym l JOIN sym r ON l.dst = r.dst AND l.src < r.src),"
            " pairs AS ("
            "   SELECT w.u, w.v, CAST(COUNT(*) AS BIGINT) AS common,"
            "          SUM(1.0 / LN(CAST(db.dg AS DOUBLE))) AS aa"
            "   FROM wedges w JOIN sdeg db ON db.src = w.b"
            f"  WHERE db.dg <= {LINKPRED_MAX_CENTER_DEG}"
            "   GROUP BY w.u, w.v"
            f"  HAVING COUNT(*) >= {LINKPRED_MIN_COMMON}),"
            " nonadj AS ("
            "   SELECT p.* FROM pairs p"
            "   WHERE NOT EXISTS (SELECT 1 FROM sym s WHERE s.src = p.u AND s.dst = p.v))"
            " SELECT n.u, n.v, n.common,"
            "   ROUND(n.common / CAST(du.dg + dv.dg - n.common AS DOUBLE), 6) AS jaccard,"
            "   ROUND(n.aa, 6) AS adamic_adar"
            " FROM nonadj n JOIN sdeg du ON du.src = n.u JOIN sdeg dv ON dv.src = n.v"
        ),
        "personalized_pagerank": _ppr_sql(PPR_UPDATES, PPR_SOURCES),
        "ppr_sweep_cut": (
            f"WITH {EDGES_CTES.strip()}, {SYM_CTE.strip()},"
            f" pr AS ({_ppr_sql(PPR_UPDATES, PPR_SOURCES, rel='sym')}),"
            " dg AS (SELECT src AS id, COUNT(*) AS deg FROM sym GROUP BY src),"
            " cand AS (SELECT p.id, p.ppr, d.deg,"
            "   p.ppr / CAST(d.deg AS DOUBLE) AS skey"
            "   FROM pr p JOIN dg d ON d.id = p.id WHERE p.ppr > 0.0),"
            " ranked AS (SELECT * FROM (SELECT CAST(ROW_NUMBER() OVER"
            "   (ORDER BY skey DESC, id ASC) AS BIGINT) AS k, id, ppr, deg"
            f"   FROM cand) t WHERE k <= {SWEEP_T}),"
            " eh AS (SELECT GREATEST(ru.k, rv.k) AS rmax, COUNT(*) AS ne"
            "   FROM sym e JOIN ranked ru ON ru.id = e.src"
            "   JOIN ranked rv ON rv.id = e.dst"
            "   WHERE e.src < e.dst GROUP BY 1),"
            " tm AS (SELECT COUNT(*) AS two_m FROM sym),"
            " sw AS (SELECT r.k, r.id, r.ppr, r.deg,"
            "   CAST(SUM(r.deg) OVER (ORDER BY r.k) AS BIGINT) AS volume,"
            "   CAST(SUM(COALESCE(eh.ne, 0)) OVER (ORDER BY r.k) AS BIGINT) AS e_in"
            "   FROM ranked r LEFT JOIN eh ON eh.rmax = r.k)"
            " SELECT k, id, ppr, deg, volume,"
            "  CAST(volume - 2 * e_in AS BIGINT) AS cut,"
            "  CASE WHEN LEAST(volume, tm.two_m - volume) = 0 THEN NULL"
            "   ELSE ROUND(CAST(volume - 2 * e_in AS DOUBLE)"
            "    / CAST(LEAST(volume, tm.two_m - volume) AS DOUBLE), 6)"
            "  END AS conductance"
            " FROM sw, tm ORDER BY k"
        ),
        "hits_scores": _hits_sql(HITS_ITERS),
        "kcore_membership": _kcore_sql(KCORE_K, KCORE_PASSES),
        "ktruss_edges": _ktruss_sql(KTRUSS_K, KTRUSS_PASSES),
        "neighborhood_function": _anf_sql(ANF_MAPS, ANF_MAX_H),
        "effective_diameter": (
            f"WITH nh AS ({_anf_sql(ANF_MAPS, ANF_MAX_H)}),"
            " lagd AS (SELECT h, n_reachable_est AS n,"
            "   LAG(h, 1, 0) OVER (ORDER BY h) AS ph,"
            "   LAG(n_reachable_est, 1, 0.0) OVER (ORDER BY h) AS pn FROM nh),"
            f" t AS (SELECT {EFFDIAM_Q} * max_by(n_reachable_est, h) AS tgt FROM nh),"
            " sel AS (SELECT l.h, l.n, l.ph, l.pn, t.tgt FROM lagd l, t"
            "   WHERE l.n >= t.tgt ORDER BY l.h LIMIT 1)"
            f" SELECT CAST({EFFDIAM_Q} AS DOUBLE) AS quantile,"
            " ROUND(tgt, 6) AS target_est,"
            " ROUND(CASE WHEN n = pn THEN CAST(ph AS DOUBLE)"
            "   ELSE CAST(ph AS DOUBLE) + (tgt - pn) / (n - pn) * CAST(h - ph AS DOUBLE)"
            " END, 6) AS effective_diameter FROM sel"
        ),
        "harmonic_centrality": _harmonic_sql(ANF_MAPS, ANF_MAX_H),
        "closeness_centrality": _closeness_sql(ANF_MAPS, ANF_MAX_H),
        "betweenness_centrality": _betweenness_sql(BETW_SOURCES, BETW_DEPTH),
        "core_decomposition": _coreness_sql(CORENESS_PASSES),
        "reachability": (
            "WITH RECURSIVE "
            + EDGES_CTES.strip()
            + ", rs(id) AS ("
            "   SELECT CAST(0 AS BIGINT)"
            "   UNION"
            "   SELECT e.dst FROM rs JOIN edges e ON e.src = rs.id"
            " ), rd(id) AS ("
            "   SELECT CAST(1 AS BIGINT)"
            "   UNION"
            "   SELECT e.dst FROM rd JOIN edges e ON e.src = rd.id"
            " )"
            " SELECT d.doc_id AS id,"
            "  (CASE WHEN rs.id IS NOT NULL THEN 1 ELSE 0 END"
            "   + CASE WHEN rd.id IS NOT NULL THEN 2 ELSE 0 END) AS state"
            " FROM documents d"
            " LEFT JOIN (SELECT DISTINCT id FROM rs) rs ON rs.id = d.doc_id"
            " LEFT JOIN (SELECT DISTINCT id FROM rd) rd ON rd.id = d.doc_id"
        ),
        "exact_dedup": (
            "SELECT md5(text) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id"
            " FROM documents GROUP BY md5(text)"
        ),
        "token_count": (
            "SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents"
        ),
        "bpe_token_count": (
            "SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens,"
            " len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))::BIGINT"
            " AS n_subtokens FROM documents"
        ),
        "quality_score": (
            "WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),"
            " m AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens, length(text)::BIGINT AS n_chars,"
            f"   len(list_filter(toks, x -> list_contains({_STOP}, x))) AS n_stop,"
            "   list_sum(list_transform(toks, x -> length(x)))::DOUBLE AS sum_len"
            " FROM t)"
            " SELECT doc_id, n_tokens, n_chars,"
            "  ROUND(n_stop / n_tokens, 6) AS stop_ratio,"
            "  ROUND(sum_len / n_tokens, 6) AS avg_token_len,"
            "  ROUND("
            "   (CASE WHEN n_tokens >= 5 AND n_tokens <= 5000 THEN 0.5 ELSE 0.0 END)"
            "   + (CASE WHEN n_stop / n_tokens > 0.01 AND n_stop / n_tokens < 0.6 THEN 0.3 ELSE 0.0 END)"
            "   + (CASE WHEN sum_len / n_tokens > 2.0 AND sum_len / n_tokens < 12.0 THEN 0.2 ELSE 0.0 END)"
            "  , 6) AS quality"
            " FROM m"
        ),
        "lang_id": (
            "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)"
            " SELECT doc_id,"
            f" CASE WHEN len(list_filter(toks, x -> list_contains({_STOP}, x))) / len(toks) >= 0.03"
            " THEN 'en' ELSE 'other' END AS pred_lang FROM t"
        ),
        "doc_fingerprint": (
            "SELECT doc_id, substr(md5(text), 1, 16) AS fingerprint FROM documents"
        ),
        "duplicated_ngram_stats": (
            "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),"
            " sh AS (SELECT DISTINCT doc_id, unnest(["
            f"   array_to_string(toks[i:i+{DUPGRAM_N - 1}], ' ')"
            f"   FOR i IN generate_series(1, greatest(len(toks) - {DUPGRAM_N - 1}, 0))"
            "  ]) AS s FROM toks),"
            " hc AS (SELECT s, COUNT(*) AS nd FROM sh GROUP BY s),"
            " per AS (SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,"
            "   CAST(SUM(CASE WHEN hc.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_duplicated"
            "   FROM sh JOIN hc ON hc.s = sh.s GROUP BY sh.doc_id)"
            " SELECT d.doc_id,"
            "  CAST(COALESCE(p.n_ngrams, 0) AS BIGINT) AS n_ngrams,"
            "  CAST(COALESCE(p.n_duplicated, 0) AS BIGINT) AS n_duplicated,"
            "  CASE WHEN COALESCE(p.n_ngrams, 0) = 0 THEN NULL"
            "   ELSE ROUND(CAST(p.n_duplicated AS DOUBLE) / CAST(p.n_ngrams AS DOUBLE), 6)"
            "  END AS dup_fraction"
            " FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id"
        ),
        "ngram_jaccard_pairs": (
            "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),"
            " sh AS ("
            "   SELECT DISTINCT doc_id, unnest(["
            "     array_to_string(toks[i:i+2], ' ')"
            "     FOR i IN generate_series(1, greatest(len(toks) - 2, 0))"
            "   ]) AS sh FROM toks),"
            " sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),"
            " inter AS ("
            "   SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter"
            "   FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id"
            "   GROUP BY a.doc_id, b.doc_id)"
            " SELECT doc_a, doc_b,"
            "  ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard"
            " FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b"
            f" WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= {JACCARD_T}"
        ),
        "embedding_cosine_topk": (
            f"WITH q AS (SELECT vec_id AS qid, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERY_VECS}),"
            " pairs AS (SELECT q.qid, c.vec_id,"
            "   list_sum(list_transform(generate_series(1, len(q.q_emb)),"
            "     i -> q.q_emb[i]::DOUBLE * c.embedding[i]::DOUBLE)) AS dp,"
            "   sqrt(list_sum(list_transform(q.q_emb, x -> x::DOUBLE * x::DOUBLE))) AS nq,"
            "   sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE))) AS nc"
            "  FROM q, embeddings c WHERE c.vec_id != q.qid),"
            " scored AS (SELECT qid, vec_id, ROUND(dp / (nq * nc), 4) AS sim FROM pairs)"
            " SELECT qid, vec_id, sim FROM ("
            "   SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn"
            f"   FROM scored) WHERE rn <= {TOPK}"
        ),
        "knn_label_accuracy": (
            f"WITH q AS (SELECT vec_id AS qid, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERY_VECS}),"
            " pairs AS (SELECT q.qid, c.vec_id,"
            "   list_sum(list_transform(generate_series(1, len(q.q_emb)),"
            "     i -> q.q_emb[i]::DOUBLE * c.embedding[i]::DOUBLE)) AS dp,"
            "   sqrt(list_sum(list_transform(q.q_emb, x -> x::DOUBLE * x::DOUBLE))) AS nq,"
            "   sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE))) AS nc"
            "  FROM q, embeddings c WHERE c.vec_id != q.qid),"
            " scored AS (SELECT qid, vec_id, ROUND(dp / (nq * nc), 4) AS sim FROM pairs),"
            " topk AS (SELECT qid, vec_id FROM ("
            "   SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn"
            f"   FROM scored) WHERE rn <= {TOPK}),"
            " votes AS (SELECT t.qid, e.label AS lab, COUNT(*) AS c"
            "   FROM topk t JOIN embeddings e ON t.vec_id = e.vec_id GROUP BY 1, 2),"
            " pred AS (SELECT qid, lab AS pred_label FROM ("
            "   SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, lab ASC) AS rn"
            "   FROM votes) WHERE rn = 1)"
            " SELECT p.qid, p.pred_label, e.label AS true_label,"
            "   CAST(p.pred_label = e.label AS INT) AS correct"
            " FROM pred p JOIN embeddings e ON p.qid = e.vec_id"
        ),
        "customer_orders_by_nation": (
            "SELECT n.n_name AS nation, COUNT(*) AS n_orders,"
            " CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue"
            " FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
            " JOIN nation n ON c.c_nationkey = n.n_nationkey"
            " GROUP BY n.n_name"
        ),
        "pricing_summary": (
            "SELECT l_returnflag, l_linestatus,"
            " CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,"
            " CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,"
            " CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))"
            "   * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"
            "   AS sum_disc_price,"
            " COUNT(*) AS count_order"
            " FROM lineitem GROUP BY l_returnflag, l_linestatus"
        ),
        "big_spenders_semi": (
            "SELECT c_custkey, c_name FROM customer"
            " WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)"
        ),
        "customers_without_orders": (
            "SELECT c_custkey, c_name FROM customer"
            " WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)"
        ),
        "events_per_type": (
            "SELECT event_type, COUNT(*) AS n_events, ROUND(AVG(value), 6) AS avg_value"
            " FROM events GROUP BY event_type"
        ),
        "events_hourly": (
            "SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n_events"
            " FROM events GROUP BY 1, 2"
        ),
    }
    from linkgraph.pipeline.sessions import sessionize_sql

    sql["event_sessions"] = sessionize_sql()
    # identical contract, different engine path (public VertexProgram
    # API vs built-in algorithm) — same hop-bounded oracle
    sql["sssp_vertex_program"] = sql["sssp_hops"]
    # weighted SSSP via the VertexProgram weight_col path: unrolled
    # Bellman-Ford over the derivable weights (steps mirror WSSSP_STEPS)
    sql["sssp_weighted"] = _weighted_sssp_sql(WSSSP_STEPS)
    sql["temporal_reachability"] = _temporal_sql(TEMPORAL_STEPS)
    sql["temporal_departure"] = _temporal_dep_sql(TEMPORAL_STEPS, 96)
    # IMRU kmeans: unrolled Lloyd iterations (deterministic init /
    # ties / update — see _kmeans_sql); K/ITERS must mirror _q_kmeans
    sql["kmeans_centers"] = _kmeans_sql(5, 5)
    # IMRU batch gradient descent (reference BGDJob)
    sql["bgd_weights"] = _bgd_sql(BGD_UPDATES, 0.1)
    # graph sampling: md5-digit coins are portable SQL, so the whole
    # run (seed + expansion + fill-rate stopping) unrolls as CTEs;
    # params must mirror _q_graph_sample
    sql["graph_sample"] = _graph_sample_sql(0.3, 7, 10, 2, 8)
    sql["random_walks"] = _random_walks_sql(RW_W, RW_LEN, RW_SEED)
    sql["random_walks_weighted"] = _weighted_walks_sql(RW_LEN, RW_SEED)
    sql["node2vec_walks"] = _node2vec_sql(RW_LEN, RW_SEED, *N2V_MULTS)
    sql["maximal_independent_set"] = _mis_sql(MIS_ROUNDS, MIS_SEED)
    sql["maximal_matching"] = _matching_sql(MM_ROUNDS, MM_SEED)
    sql["dependency_levels"] = _topo_sql(TOPO_ROUNDS)
    sql["greedy_coloring"] = _coloring_sql(COLORING_ROUNDS, COLORING_SEED)
    sql["minimum_spanning_forest"] = _msf_sql()
    sql["bipartite_check"] = _bipartite_sql()
    sql["rectangle_count"] = _rectangles_sql()
    sql["landmark_distances"] = _landmarks_sql()
    sql["louvain_communities"] = _louvain_sql(LOUVAIN_ROUNDS)
    sql["louvain_hierarchy"] = _louvain_ml_sql(LOUVAIN_ROUNDS)
    sql["repo_communities"] = _repo_communities_sql(LOUVAIN_ROUNDS)
    sql["neighborhood_minhash_pairs"] = _structsim_sql()
    sql["sgns_linkpred_auc"] = _sgns_auc_sql()
    sql["cocitation_pairs"] = _cocitation_sql("src", "dst")
    sql["bibliographic_coupling"] = _cocitation_sql("dst", "src")
    sql["token_cooccurrence"] = _cooccur_sql()
    sql["salsa_scores"] = _salsa_sql()
    # graph summary: every ratio is exact-integer sums cast to DOUBLE in
    # the same expression order as algorithms/stats.py, rounded to 6dp
    sql["graph_summary"] = (
        "WITH "
        + EDGES_CTES.strip()
        + ", "
        + SYM_CTE.strip()
        + ","
        " nv AS (SELECT COUNT(DISTINCT id) AS n_vertices FROM"
        "  (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),"
        " ne AS (SELECT COUNT(*) AS n_edges FROM edges),"
        " und AS (SELECT CAST(COUNT(*) / 2 AS BIGINT) AS n_undirected FROM sym),"
        " recip AS (SELECT COUNT(*) AS n_recip FROM edges a"
        "  WHERE EXISTS (SELECT 1 FROM edges b"
        "   WHERE b.src = a.dst AND b.dst = a.src)),"
        " odeg AS (SELECT MAX(d) AS max_out_degree,"
        "  CAST(SUM(d) AS BIGINT) AS sum_out FROM"
        "  (SELECT src, COUNT(*) AS d FROM edges GROUP BY src)),"
        " dg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),"
        " mom AS (SELECT COUNT(*) AS m,"
        "  CAST(SUM(dx.deg) AS BIGINT) AS sx,"
        "  CAST(SUM(dx.deg * dx.deg) AS BIGINT) AS sxx,"
        "  CAST(SUM(dx.deg * dy.deg) AS BIGINT) AS sxy"
        "  FROM sym s JOIN dg dx ON dx.src = s.src JOIN dg dy ON dy.src = s.dst)"
        " SELECT n_vertices, n_edges, n_undirected,"
        " ROUND(CAST(n_recip AS DOUBLE) / CAST(n_edges AS DOUBLE), 6)"
        "  AS reciprocity,"
        " max_out_degree,"
        " ROUND(CAST(sum_out AS DOUBLE) / CAST(n_vertices AS DOUBLE), 6)"
        "  AS avg_out_degree,"
        " ROUND((1.0 * 2.0 * CAST(n_undirected AS DOUBLE))"
        "  / (CAST(n_vertices AS DOUBLE) * (CAST(n_vertices AS DOUBLE) - 1.0)), 6)"
        "  AS density,"
        " ROUND(CASE WHEN CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)"
        "   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0 THEN NULL"
        "  ELSE (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)"
        "   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        "   / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)"
        "   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END, 6)"
        "  AS assortativity"
        " FROM nv, ne, und, recip, odeg, mom"
    )
    # degree-mixing profile: SUM(BIGINT)/COUNT in one IEEE division
    sql["avg_neighbor_degree"] = (
        "WITH "
        + EDGES_CTES.strip()
        + ", "
        + SYM_CTE.strip()
        + ","
        " dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg"
        "  FROM sym GROUP BY src)"
        " SELECT dx.deg AS degree,"
        " CAST(COUNT(DISTINCT s.src) AS BIGINT) AS n_vertices,"
        " CAST(SUM(dy.deg) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)"
        "  AS avg_neighbor_degree"
        " FROM sym s JOIN dg dx ON dx.src = s.src"
        " JOIN dg dy ON dy.src = s.dst"
        " GROUP BY dx.deg ORDER BY degree"
    )
    # rich-club profile: suffix sums of the degree / min-endpoint-degree
    # histograms, same window shape as algorithms/stats.py
    sql["rich_club_profile"] = (
        "WITH "
        + EDGES_CTES.strip()
        + ", "
        + SYM_CTE.strip()
        + ","
        " dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg"
        "  FROM sym GROUP BY src),"
        " dh AS (SELECT deg, CAST(COUNT(*) AS BIGINT) AS nv"
        "  FROM dg GROUP BY deg),"
        " und AS (SELECT LEAST(du.deg, dv.deg) AS mind FROM sym e"
        "  JOIN dg du ON du.src = e.src JOIN dg dv ON dv.src = e.dst"
        "  WHERE e.src < e.dst),"
        " eh AS (SELECT mind, CAST(COUNT(*) AS BIGINT) AS ne"
        "  FROM und GROUP BY mind),"
        " ks AS (SELECT unnest(generate_series(0,"
        "  (SELECT MAX(deg) FROM dh) - 1)) AS k),"
        " at_k AS (SELECT k.k, COALESCE(dh.nv, 0) AS nv_at,"
        "  COALESCE(eh.ne, 0) AS ne_at FROM ks k"
        "  LEFT JOIN dh ON dh.deg = k.k + 1"
        "  LEFT JOIN eh ON eh.mind = k.k + 1),"
        " run AS (SELECT k,"
        "  SUM(nv_at) OVER (ORDER BY k DESC ROWS BETWEEN UNBOUNDED"
        "   PRECEDING AND CURRENT ROW) AS n_club,"
        "  SUM(ne_at) OVER (ORDER BY k DESC ROWS BETWEEN UNBOUNDED"
        "   PRECEDING AND CURRENT ROW) AS e_club FROM at_k)"
        " SELECT CAST(k AS BIGINT) AS k, CAST(n_club AS BIGINT) AS n_club,"
        " CAST(e_club AS BIGINT) AS e_club,"
        " 2.0 * CAST(e_club AS DOUBLE) / (CAST(n_club AS DOUBLE)"
        "  * (CAST(n_club AS DOUBLE) - 1.0)) AS phi"
        " FROM run WHERE n_club >= 2 ORDER BY k"
    )
    # IVF ANN: centroids are the unrolled IMRU k-means, so the whole
    # train->assign->probe->score pipeline is SQL; params mirror
    # _q_ivf_topk (n_clusters=8, n_probe=4, kmeans_iterations=5)
    sql["embedding_ivf_topk"] = _ivf_sql(8, 5, 4, N_QUERY_VECS, TOPK)
    # product quantization: per-subspace unrolled k-means + ADC scan
    sql["embedding_pq_topk"] = _pq_sql(64, PQ_M, PQ_KS, PQ_ITERS, N_QUERY_VECS, TOPK)
    # incremental triangle delta: the oracle enumerates BOTH snapshots'
    # full triangle sets (the formulation the engine avoids) and counts
    # those touching a changed pair — algorithmic agreement, not replay
    sql["triangle_delta"] = (
        "WITH "
        + EDGES_CTES.strip()
        + ", nw AS (SELECT src, dst FROM edges WHERE (src + dst) % 17 != 0"
        "   UNION SELECT dst AS src, src AS dst FROM edges"
        "   WHERE (src*7 + dst) % 23 = 0),"
        " po AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v"
        "  FROM edges WHERE src != dst),"
        " pn AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v"
        "  FROM nw WHERE src != dst),"
        " ad AS (SELECT u, v FROM pn EXCEPT SELECT u, v FROM po),"
        " rm AS (SELECT u, v FROM po EXCEPT SELECT u, v FROM pn),"
        " trin AS (SELECT a.u AS x, a.v AS y, b.v AS z FROM pn a"
        "  JOIN pn b ON b.u = a.v JOIN pn c ON c.u = a.u AND c.v = b.v),"
        " trio AS (SELECT a.u AS x, a.v AS y, b.v AS z FROM po a"
        "  JOIN po b ON b.u = a.v JOIN po c ON c.u = a.u AND c.v = b.v),"
        " g AS (SELECT COUNT(*) AS n FROM trin t WHERE"
        "  EXISTS (SELECT 1 FROM ad WHERE (u = t.x AND v = t.y)"
        "   OR (u = t.x AND v = t.z) OR (u = t.y AND v = t.z))),"
        " l AS (SELECT COUNT(*) AS n FROM trio t WHERE"
        "  EXISTS (SELECT 1 FROM rm WHERE (u = t.x AND v = t.y)"
        "   OR (u = t.x AND v = t.z) OR (u = t.y AND v = t.z)))"
        " SELECT CAST(g.n AS BIGINT) AS gained, CAST(l.n AS BIGINT) AS lost,"
        " CAST(g.n - l.n AS BIGINT) AS delta FROM g, l"
    )
    # partition report: md5-coin assignment replayed per endpoint
    from linkgraph.algorithms.partition_stats import partition_coin_sql as _pc

    sql["partition_report"] = (
        "WITH "
        + EDGES_CTES.strip()
        + f", ep AS (SELECT {_pc('src', 8, 42)} AS p,"
        f"  CASE WHEN {_pc('src', 8, 42)} != {_pc('dst', 8, 42)}"
        f"  THEN 1 ELSE 0 END AS cut FROM edges),"
        f" ea AS (SELECT p, COUNT(*) AS n_out_edges, SUM(cut) AS n_cut_edges"
        f"  FROM ep GROUP BY p),"
        f" va AS (SELECT {_pc('doc_id', 8, 42)} AS p,"
        f"  COUNT(*) AS n_vertices FROM documents GROUP BY 1)"
        " SELECT COALESCE(va.p, ea.p) AS partition,"
        " CAST(COALESCE(n_vertices, 0) AS BIGINT) AS n_vertices,"
        " CAST(COALESCE(n_out_edges, 0) AS BIGINT) AS n_out_edges,"
        " CAST(COALESCE(n_cut_edges, 0) AS BIGINT) AS n_cut_edges"
        " FROM va FULL OUTER JOIN ea ON va.p = ea.p"
    )
    # temporal motifs: timed 2-chains over the derivable timestamps
    sql["motif_time_chains"] = (
        "WITH "
        + EDGES_CTES.strip()
        + ", te AS (SELECT src, dst,"
        " CAST((src*13 + dst*7) % 97 AS BIGINT) AS t FROM edges)"
        " SELECT e1.src AS a, e1.dst AS b, e2.dst AS c,"
        " e1.t AS e1_t, e2.t AS e2_t"
        " FROM te e1 JOIN te e2 ON e2.src = e1.dst"
        " WHERE e2.t >= e1.t AND e1.src != e2.dst"
    )
    # snapshot diff: the same perturbation + anti-joins + degree deltas
    sql["graph_delta"] = (
        "WITH "
        + EDGES_CTES.strip()
        + ", nw AS (SELECT src, dst FROM edges WHERE (src + dst) % 17 != 0"
        "   UNION SELECT dst AS src, src AS dst FROM edges"
        "   WHERE (src*7 + dst) % 23 = 0),"
        " dd AS ("
        "  SELECT n.src, n.dst, 1 AS sgn FROM nw n"
        "  WHERE NOT EXISTS (SELECT 1 FROM edges o"
        "   WHERE o.src = n.src AND o.dst = n.dst)"
        "  UNION ALL"
        "  SELECT o.src, o.dst, -1 AS sgn FROM edges o"
        "  WHERE NOT EXISTS (SELECT 1 FROM nw n"
        "   WHERE n.src = o.src AND n.dst = o.dst)),"
        " oo AS (SELECT src AS id, SUM(sgn) AS d_out FROM dd GROUP BY src),"
        " ii AS (SELECT dst AS id, SUM(sgn) AS d_in FROM dd GROUP BY dst)"
        " SELECT COALESCE(oo.id, ii.id) AS id,"
        " CAST(COALESCE(d_out, 0) AS BIGINT) AS d_out,"
        " CAST(COALESCE(d_in, 0) AS BIGINT) AS d_in"
        " FROM oo FULL OUTER JOIN ii ON oo.id = ii.id"
        " WHERE COALESCE(d_out, 0) != 0 OR COALESCE(d_in, 0) != 0"
    )
    # RAG chunking: generate_series windows over the token list; slice
    # arithmetic mirrors packing.chunk_documents exactly
    _stride = CHUNK_SIZE - CHUNK_OVERLAP
    sql["chunk_documents"] = (
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks"
        " FROM documents),"
        " b AS (SELECT doc_id, toks, len(toks) AS n FROM t),"
        " c AS (SELECT doc_id, toks, n, unnest(generate_series(0,"
        f"  CASE WHEN n <= {CHUNK_SIZE} THEN 0"
        f"  ELSE ((n - {CHUNK_SIZE}) + {_stride} - 1) // {_stride} END))"
        "  AS chunk_id FROM b)"
        f" SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,"
        f" CAST(chunk_id * {_stride} AS BIGINT) AS start,"
        f" CAST(LEAST({CHUNK_SIZE}, n - chunk_id * {_stride}) AS BIGINT)"
        f" AS n_tokens,"
        f" array_to_string(toks[chunk_id * {_stride} + 1 :"
        f"  chunk_id * {_stride} + LEAST({CHUNK_SIZE}, n - chunk_id * {_stride})],"
        f"  ' ') AS chunk_text"
        " FROM c"
    )
    # motif surface: open feed-forward triads — the same joins the
    # pattern compiler emits, spelled as NOT EXISTS for the negation
    sql["motif_open_triads"] = (
        "WITH "
        + EDGES_CTES.strip()
        + " SELECT e1.src AS a, e1.dst AS b, e2.dst AS c"
        " FROM edges e1 JOIN edges e2 ON e2.src = e1.dst"
        " WHERE e1.src != e2.dst AND NOT EXISTS ("
        "  SELECT 1 FROM edges e3"
        "  WHERE e3.src = e1.src AND e3.dst = e2.dst)"
    )
    # MinHash-LSH / SimHash: portable md5-digit hashing makes the whole
    # pipeline integer-exact in both engines; params mirror
    # _q_minhash_lsh / _q_simhash / _q_simhash_pairs
    sql["minhash_lsh_pairs"] = _minhash_sql(64, 16, 3, 0.3, 42)
    sql["minhash_verified_pairs"] = _minhash_verified_sql(
        64, 16, 3, MINHASH_VERIFY_T, 42
    )
    # near-dup clusters: same pair CTEs + recursive-CTE transitive
    # closure (min reachable doc_id == the engine's min-label CC)
    sql["dedup_clusters"] = _dedup_clusters_sql(64, 16, 3, 0.3, 42)
    sql["canonical_docs"] = _canonical_docs_sql(64, 16, 3, 0.3, 42)
    sql["training_batch_pipeline"] = _training_pipeline_sql()
    sql["skipgram_pairs"] = _skipgram_sql(RW_W, RW_LEN, RW_SEED, SG_WINDOW)
    sql["khop_features"] = _khop_sql(KHOP_HOPS)
    sql["wl_roles"] = _wl_sql(WL_ROUNDS)
    sql["wl_fingerprint"] = (
        "WITH base AS (" + _wl_sql(WL_ROUNDS) + ")"
        f" SELECT wl{WL_ROUNDS} AS wl_label,"
        " CAST(COUNT(*) AS BIGINT) AS class_size"
        f" FROM base GROUP BY wl{WL_ROUNDS}"
    )
    sql["bpe_merges"] = _bpe_sql(BPE_MERGES)
    sql["bpe_encode_counts"] = _bpe_counts_sql(BPE_MERGES)
    sql["collocations"] = _colloc_sql(COLLOC_MIN_PAIRS)
    sql["sgns_embeddings"] = _sgns_sql(
        RW_W, RW_LEN, RW_SEED, SG_WINDOW,
        SGNS_DIM, SGNS_EPOCHS, SGNS_NEG, SGNS_LR_NUM, SGNS_LR_DEN,
        SGNS_SEED, SGNS_SCALE_BITS,
    )
    # corpus vocabulary: top-50 terms by doc frequency
    sql["vocabulary"] = (
        "WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term"
        " FROM documents)"
        " SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df"
        " FROM t WHERE term <> ''"
        " GROUP BY term ORDER BY df DESC, tf DESC, term LIMIT 50"
    )
    # per-doc top-k terms by smoothed TF-IDF; score ROUND(..,6)
    # BEFORE ranking, ties to term asc (k mirrors _q_tfidf)
    sql["tfidf_top_terms"] = (
        "WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term"
        " FROM documents),"
        " tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t"
        "  WHERE term <> '' GROUP BY doc_id, term),"
        " df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),"
        " nn AS (SELECT COUNT(*)::DOUBLE AS n FROM documents),"
        " scored AS (SELECT tf.doc_id, tf.term, tf.tf,"
        "  ROUND(tf.tf * (ln(((SELECT n FROM nn) + 1) / (df.df + 1)) + 1.0), 6)"
        "  AS score FROM tf JOIN df USING (term))"
        " SELECT doc_id, term, tf, score FROM ("
        "  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id"
        "   ORDER BY score DESC, term ASC) AS rn FROM scored)"
        f" WHERE rn <= {TFIDF_TOPK}"
    )
    # Okapi BM25: per-(doc, term) contribution rounded to micro-units
    # and cast BIGINT before the per-document sum, so the only
    # cross-row reduction is exact integer arithmetic (expression
    # mirrored token for token with pipeline.textstats.bm25_scores)
    bm25_q = ", ".join(f"('{t}')" for t in sorted(set(BM25_QUERY)))
    sql["bm25_scores"] = (
        "WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term"
        " FROM documents),"
        " tok AS (SELECT doc_id, term FROM toks WHERE term <> ''),"
        " dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),"
        " corpus AS (SELECT COUNT(*) AS n_docs,"
        "  CAST(SUM(dl) AS DOUBLE)/COUNT(*) AS avgdl FROM dl),"
        f" q AS (SELECT * FROM (VALUES {bm25_q}) t(term)),"
        " tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok"
        "  JOIN q USING (term) GROUP BY doc_id, term),"
        " df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),"
        " contrib AS (SELECT tf.doc_id,"
        "  CAST(ROUND("
        "   ln(1.0 + (CAST((SELECT n_docs FROM corpus) AS DOUBLE)"
        "             - CAST(df.df AS DOUBLE) + 0.5)"
        "            / (CAST(df.df AS DOUBLE) + 0.5))"
        f"  * (CAST(tf.tf AS DOUBLE) * ({BM25_K1!r} + 1.0))"
        f"  / (CAST(tf.tf AS DOUBLE) + {BM25_K1!r} * (1.0 - {BM25_B!r}"
        f"     + {BM25_B!r} * CAST(dl.dl AS DOUBLE)"
        "      / (SELECT avgdl FROM corpus)))"
        "   * 1000000.0) AS BIGINT) AS c_micro"
        "  FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id)"
        " SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched,"
        "  ROUND(CAST(SUM(c_micro) AS DOUBLE)/1000000.0, 6) AS score"
        " FROM contrib GROUP BY doc_id"
    )
    # unigram-LM quality: per-term log-prob made BIGINT micro-units
    # (one scalar double op per distinct term), per-document sum exact
    # integer (mirrors pipeline.textstats.unigram_lm_score)
    sql["unigram_lm_score"] = (
        "WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term"
        " FROM documents),"
        " tok AS (SELECT doc_id, term FROM toks WHERE term <> ''),"
        " tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok"
        "  GROUP BY doc_id, term),"
        " model AS (SELECT term, SUM(tf) AS cnt FROM tf GROUP BY term),"
        " total AS (SELECT SUM(cnt) AS total FROM model),"
        " ll AS (SELECT term, CAST(ROUND(ln(CAST(cnt AS DOUBLE)"
        "  / CAST((SELECT total FROM total) AS DOUBLE)) * 1000000.0)"
        "  AS BIGINT) AS ll_micro FROM model)"
        " SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,"
        "  ROUND(CAST(SUM(tf * ll_micro) AS DOUBLE)/1000000.0"
        "   /CAST(SUM(tf) AS DOUBLE), 6) AS avg_logprob"
        " FROM tf JOIN ll USING (term) GROUP BY doc_id"
    )
    # canonical normalization: pattern shared verbatim with
    # linkgraph.pipeline.textstats.NORM_PATTERN (ASCII classes only, so
    # Java regex and DuckDB RE2 agree)
    sql["normalize_text"] = (
        "WITH n AS (SELECT doc_id,"
        " trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm_text"
        " FROM documents)"
        " SELECT doc_id, norm_text,"
        " substr(md5(norm_text), 1, 16) AS norm_fingerprint FROM n"
    )
    # decontamination: probe literals shared with _q_contamination;
    # CAST(SUM .. AS BIGINT) — DuckDB SUM(int) returns HUGEINT, which
    # pandas would widen away from Spark's LONG
    probe_values = ", ".join(f"('{p}')" for p in CONTAM_PROBES)
    sql["contamination_check"] = (
        f"WITH probes AS (SELECT * FROM (VALUES {probe_values}) p(probe))"
        " SELECT doc_id,"
        " CAST(SUM(CASE WHEN contains(text, probe) THEN 1 ELSE 0 END) AS BIGINT)"
        "  AS n_hits,"
        " CAST(MAX(CASE WHEN contains(text, probe) THEN 1 ELSE 0 END) AS INT)"
        "  AS contaminated"
        " FROM documents CROSS JOIN probes GROUP BY doc_id"
    )
    # n-gram decontamination: positional shingles on both sides, matched
    # positions via the probe n-gram set, longest consecutive run via
    # the pos - row_number() grouping trick — identical plan shape to
    # the engine's window (params mirror _q_ngram_decontaminate)
    m = NGRAM_N - 1
    ngram_probe_values = ", ".join(f"('{p}')" for p in NGRAM_PROBES)
    sql["ngram_decontamination"] = (
        f"WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks"
        f" FROM documents),"
        f" posd AS (SELECT doc_id, toks,"
        f"  unnest(generate_series(1, greatest(len(toks) - {m}, 0))) AS pos"
        f"  FROM toks),"
        f" gsh AS (SELECT doc_id, pos,"
        f"  array_to_string(toks[pos:pos+{m}], ' ') AS sh FROM posd),"
        f" probes AS (SELECT * FROM (VALUES {ngram_probe_values}) p(probe)),"
        f" ptoks AS (SELECT string_split(probe, ' ') AS toks FROM probes),"
        f" ppos AS (SELECT toks,"
        f"  unnest(generate_series(1, greatest(len(toks) - {m}, 0))) AS pos"
        f"  FROM ptoks),"
        f" psh AS (SELECT DISTINCT array_to_string(toks[pos:pos+{m}], ' ') AS sh"
        f"  FROM ppos),"
        f" matched AS (SELECT g.doc_id, g.pos FROM gsh g JOIN psh p ON p.sh = g.sh),"
        f" grps AS (SELECT doc_id, pos,"
        f"  pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp"
        f"  FROM matched),"
        f" runs AS (SELECT doc_id, grp, COUNT(*) AS run FROM grps"
        f"  GROUP BY doc_id, grp),"
        f" agg AS (SELECT doc_id, SUM(run) AS n_matched, MAX(run) AS max_run"
        f"  FROM runs GROUP BY doc_id)"
        f" SELECT d.doc_id,"
        f"  CAST(COALESCE(a.n_matched, 0) AS BIGINT) AS n_matched_ngrams,"
        f"  CAST(COALESCE(a.max_run, 0) AS BIGINT) AS max_run_len,"
        f"  CAST(CASE WHEN COALESCE(a.n_matched, 0) > 0 THEN 1 ELSE 0 END AS INT)"
        f"   AS contaminated"
        f" FROM documents d LEFT JOIN agg a USING (doc_id)"
    )
    # corpus sampling: the oracle recomputes the identical md5-digit
    # coin (sample.uniform_sql is engine-neutral SQL text) and replays
    # the same key ordering — the selected SET matches exactly, and
    # only integer/string columns leave the operator
    from linkgraph.pipeline.sample import uniform_sql as _sample_u

    from linkgraph.pipeline.packing import pack_group_sql as _pack_g

    sql["pack_sequences"] = (
        "WITH base AS (SELECT doc_id,"
        " CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,"
        f" CAST({_pack_g('doc_id', PACK_GROUPS, PACK_SEED)} AS INT) AS \"group\""
        " FROM documents),"
        " pos AS (SELECT doc_id, n_tokens, \"group\","
        "  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY \"group\""
        "   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),"
        "   0) AS BIGINT) AS start FROM base)"
        " SELECT doc_id, n_tokens, \"group\", start,"
        f" CAST(start // {PACK_BUDGET} AS BIGINT) AS bin,"
        f" CAST(start % {PACK_BUDGET} AS BIGINT) AS \"offset\","
        f" CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE"
        f"  CEIL((start % {PACK_BUDGET} + n_tokens) / CAST({PACK_BUDGET} AS DOUBLE))"
        f" END AS BIGINT) AS n_spans FROM pos"
    )
    _ws_u = _sample_u("ws", "doc_id", SAMPLE_SEED)
    sql["weighted_sample"] = (
        "SELECT doc_id, n_chars FROM ("
        f" SELECT doc_id, n_chars, ({_ws_u} / CAST(n_chars AS DOUBLE)) AS k"
        " FROM documents WHERE n_chars > 0)"
        f" ORDER BY k ASC, doc_id ASC LIMIT {WSAMPLE_K}"
    )
    from linkgraph.pipeline.sample import U_DENOM as _UD
    from linkgraph.pipeline.sample import (
        proportional_threshold_sql as _prop_thr,
    )
    from linkgraph.phash import md5_digits_sql as _md5_digits

    _ps_u = _md5_digits(
        f"md5(concat_ws(':', 'ps', CAST(doc_id AS STRING), '{SAMPLE_SEED}'))", 15
    )
    sql["proportional_sample"] = (
        f"SELECT doc_id, lang FROM documents"
        f" WHERE {_ps_u} < {_prop_thr('lang', MIX_RATES, MIX_DEFAULT)}"
    )
    _ss_u = _sample_u("ss", "doc_id", SAMPLE_SEED)
    sql["stratified_sample"] = (
        "SELECT doc_id, lang FROM ("
        " SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang"
        f"  ORDER BY ({_ss_u}) ASC, doc_id ASC) AS rn FROM documents)"
        f" WHERE rn <= {STRAT_K}"
    )
    from linkgraph.pipeline.sketches import kmv_sql

    sql["distinct_token_sketch"] = kmv_sql(KMV_K)
    from linkgraph.pipeline.sketches import kmv_by_sql as _kmv_by_sql

    sql["distinct_tokens_by_lang"] = _kmv_by_sql("lang", KMV_K)
    from linkgraph.pipeline.sketches import cms_probe_sql

    sql["cms_token_counts"] = cms_probe_sql(
        CMS_PROBES, depth=CMS_DEPTH, width=CMS_WIDTH
    )
    sql["simhash64"] = _simhash_sql(2)
    sql["simhash_pairs"] = _simhash_pairs_sql(2, 7)
    # sign-LSH ANN: md5-derived hyperplanes embedded as literals;
    # params mirror _q_lsh_topk (dim 64, 16 planes, 4 bands)
    sql["embedding_lsh_topk"] = _lsh_topk_sql(64, 16, 4, 42, N_QUERY_VECS, TOPK)
    # same plane/band params as embedding_lsh_topk; the vote tail
    # mirrors knn_label_accuracy's oracle
    sql["knn_label_accuracy_ann"] = _knn_ann_sql(
        64, 16, 4, 42, N_QUERY_VECS, TOPK
    )
    sql["ann_recall"] = _ann_recall_sql(64, 16, 4, 42, N_QUERY_VECS, TOPK)
    # IVF / PQ tiers of the ANN-kNN composition (VERDICT r4 #3): the
    # tiers' own gated top-k oracles composed with vote / recall tails
    sql["knn_label_accuracy_ivf"] = _vote_over_topk_sql(
        _ivf_sql(8, 5, 4, N_QUERY_VECS, TOPK)
    )
    sql["knn_label_accuracy_pq"] = _vote_over_topk_sql(
        _pq_sql(64, PQ_M, PQ_KS, PQ_ITERS, N_QUERY_VECS, TOPK)
    )
    sql["ann_recall_ivf"] = _recall_over_topk_sql(
        _ivf_sql(8, 5, 4, N_QUERY_VECS, TOPK), N_QUERY_VECS, TOPK
    )
    sql["ann_recall_pq"] = _recall_over_topk_sql(
        _pq_sql(64, PQ_M, PQ_KS, PQ_ITERS, N_QUERY_VECS, TOPK),
        N_QUERY_VECS,
        TOPK,
    )
    sql["semantic_dedup"] = _semdedup_sql(8, 5, NEARDUP_TAU)
    # maintained_stream_state: the two-batch fold must land on the COLD
    # answer for the full edge union — CC seeded from edge endpoints
    # (the stream state labels only vertices that arrived on an edge)
    # plus the wedge-join triangle total, epoch pinned at 1 (two folds)
    sql["maintained_stream_state"] = (
        # symd: under WITH RECURSIVE DuckDB evaluates the sym UNION
        # CTE with recursive-union semantics and reciprocal edge pairs
        # survive as duplicates (measured: 4220 rows vs 4188 plain) —
        # harmless to reachability, fatal to the wedge join, so the
        # triangle side re-dedups explicitly
        "WITH RECURSIVE "
        + EDGES_CTES.strip()
        + ", "
        + SYM_CTE.strip()
        + ", symd AS (SELECT DISTINCT src, dst FROM sym)"
        ", reach(id, lbl) AS ("
        "   SELECT DISTINCT src, src FROM symd"
        "   UNION"
        "   SELECT s.dst, r.lbl FROM reach r JOIN symd s ON s.src = r.id"
        " ), comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id)"
        ", lower_e AS (SELECT src AS b, dst AS a FROM symd WHERE dst < src)"
        ", upper_e AS (SELECT src AS b, dst AS c FROM symd WHERE dst > src)"
        ", wedges AS (SELECT a, c FROM lower_e JOIN upper_e USING (b))"
        ", tri AS (SELECT COUNT(*)::BIGINT AS total_triangles"
        "   FROM wedges w JOIN symd e ON e.src = w.a AND e.dst = w.c)"
        " SELECT c.id, c.component, t.total_triangles, 1::BIGINT AS epoch"
        " FROM comp c CROSS JOIN tri t"
    )
    sql["embedding_neardup_pairs"] = _neardup_pairs_sql(64, 16, 4, 42, NEARDUP_TAU)
    # maximal-clique aggregator's global answer: enumerate ALL cliques
    # by ordered extension (each clique generated exactly once as its
    # ascending member list; a candidate w > last must be adjacent to
    # every member), keep the maximum size — every maximum-size clique
    # is maximal, mirroring the engine's canonical dst < src edge set
    sql["maximum_cliques"] = (
        "WITH RECURSIVE "
        + EDGES_CTES.strip()
        + ", cand AS (SELECT DISTINCT dst AS a, src AS b FROM edges WHERE dst < src),"
        " cliq(members, last, sz) AS ("
        "   SELECT list_value(a, b), b, 2 FROM cand"
        "   UNION ALL"
        "   SELECT list_append(c.members, e.b), e.b, c.sz + 1"
        "   FROM cliq c JOIN cand e ON e.a = c.last"
        "   WHERE (SELECT COUNT(*) FROM unnest(c.members) AS t(m)"
        "          JOIN cand e2 ON e2.a = t.m AND e2.b = e.b) = c.sz"
        " )"
        " SELECT array_to_string(members, ',') AS clique, sz::INT AS size"
        " FROM cliq WHERE sz = (SELECT MAX(sz) FROM cliq)"
    )
    # multimodal_features: the feature vector itself comes from the
    # stubbed decode, but the scalar projection the query returns
    # (media_id, kind, n_bytes) is fully determined by synth_media's
    # construction: payload = sha256-digest (32 bytes) repeated
    # (4 + i % 7) times, kind cycling image/audio/video. Gating on it
    # verifies the Arrow binary round-trip through mapInPandas
    # preserves payload length exactly.
    # multimodal_raw_decode: synth_raw_media's payload lengths are a
    # closed form of the row index — RAWI = 9-byte header + H*W*3
    # pixels with H = 8*(2 + i%3), W = 8*(2 + (i//2)%3); RAWA = 12-byte
    # header + 2 bytes per sample with n = 800*(1 + i%5)
    sql["multimodal_raw_decode"] = (
        "SELECT i::BIGINT AS media_id,"
        " CASE WHEN i % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,"
        " CASE WHEN i % 2 = 0"
        "  THEN 9 + (8 * (2 + i % 3)) * (8 * (2 + (i // 2) % 3)) * 3"
        "  ELSE 12 + 2 * 800 * (1 + i % 5) END::BIGINT AS n_bytes"
        " FROM range(48) t(i)"
    )
    sql["multimodal_features"] = (
        "SELECT i::BIGINT AS media_id,"
        " CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'"
        " ELSE 'video' END AS kind,"
        " (32 * (4 + i % 7))::BIGINT AS n_bytes"
        " FROM range(64) t(i)"
    )
    # multimodal_codec_decode: synth_codec_media's decoded CONTENT is a
    # closed form — image pixel at linear index k is k % 251 over
    # H*W*3 values with H = 8*(2 + i%3), W = 8*(2 + (i//2)%3); audio
    # sample k is (k*37) % 4001 - 2000 over 800*(1 + i%5) samples.
    # Matching content_sum proves the PNG inflate + unfilter (all five
    # filter types) and the WAV RIFF parse reproduced every byte.
    sql["multimodal_codec_decode"] = (
        "WITH base AS ("
        " SELECT i,"
        "  CASE WHEN i % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,"
        "  CASE WHEN i % 2 = 0"
        "   THEN (8 * (2 + i % 3)) * (8 * (2 + (i // 2) % 3))"
        "   ELSE 800 * (1 + i % 5) END AS n_units,"
        "  CASE WHEN i % 2 = 0"
        "   THEN (8 * (2 + i % 3)) * (8 * (2 + (i // 2) % 3)) * 3"
        "   ELSE 800 * (1 + i % 5) END AS n_terms"
        " FROM range(40) t(i))"
        " SELECT b.i::BIGINT AS media_id, b.kind,"
        "  b.n_units::BIGINT AS n_units,"
        "  SUM(CASE WHEN b.kind = 'image' THEN s.k % 251"
        "      ELSE (s.k * 37) % 4001 - 2000 END)::BIGINT AS content_sum"
        " FROM base b JOIN range(12288) s(k) ON s.k < b.n_terms"
        " GROUP BY b.i, b.kind, b.n_units"
    )
    # mp4_metadata_walk: synth_mp4_media's closed forms (avc1 fourcc
    # byte-sum 363, mp4a 370)
    sql["mp4_metadata_walk"] = (
        "WITH tr AS (SELECT b.i, s.t FROM range(30) b(i)"
        " JOIN range(3) s(t) ON s.t < 1 + b.i % 3)"
        " SELECT i::BIGINT AS media_id, 'isom' AS brand,"
        " (500 * (1 + i % 7))::BIGINT AS duration_ms,"
        " 1000::BIGINT AS timescale,"
        " COUNT(*)::BIGINT AS n_tracks,"
        " (COUNT(*) * 500 * (1 + i % 7))::BIGINT AS tracks_ms,"
        " SUM(CASE WHEN t % 2 = 0 THEN 16 * (2 + (i + t) % 5)"
        "   ELSE 0 END)::BIGINT AS width_sum,"
        " SUM(CASE WHEN t % 2 = 0 THEN 16 * (1 + (i + t) % 3)"
        "   ELSE 0 END)::BIGINT AS height_sum,"
        " SUM(CASE WHEN t % 2 = 0 THEN 363 ELSE 370 END)::BIGINT"
        "   AS codec_bytes"
        " FROM tr GROUP BY i"
    )
    sql["video_frame_plan"] = (
        "SELECT i::BIGINT AS media_id,"
        " unnest(generate_series(0, 500 * (1 + i % 7), 700))::BIGINT"
        "  AS frame_ts_ms"
        " FROM range(30) b(i)"
    )
    # the two CC engines share one contract (component = min id of the
    # undirected component) and therefore one oracle
    sql["connected_components_hashmin"] = sql["connected_components"]
    # incremental_cc_update: the warm restart must land on the COLD
    # answer for the perturbed snapshot — the oracle recomputes it from
    # scratch over the 17/23-perturbed edge relation
    sql["duplicate_spans"] = (
        f"WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks"
        " FROM documents),"
        " sh AS (SELECT doc_id, pos,"
        f"  array_to_string(toks[pos:pos+{DUPSPAN_N - 1}], ' ') AS s"
        "  FROM (SELECT doc_id, toks,"
        "   unnest(generate_series(1,"
        f"    greatest(len(toks) - {DUPSPAN_N - 1}, 0))) AS pos FROM toks)),"
        " dup AS (SELECT s FROM"
        "  (SELECT s, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY s)"
        "  WHERE df >= 2),"
        " m AS (SELECT doc_id, pos FROM sh WHERE s IN (SELECT s FROM dup)),"
        " runs AS (SELECT doc_id, pos, pos - ROW_NUMBER() OVER"
        "  (PARTITION BY doc_id ORDER BY pos) AS grp FROM m)"
        " SELECT doc_id, MIN(pos) AS span_start,"
        f" MAX(pos) + {DUPSPAN_N - 1} AS span_end, COUNT(*) AS n_grams"
        " FROM runs GROUP BY doc_id, grp"
    )
    # cut_duplicate_spans = the same span discovery, then each text
    # rebuilt from the token positions no span covers; the chain is a
    # builder so the dedup->cut composition can run it over the
    # canonical survivors instead of the raw corpus
    def _cut_spans_tail_sql(n: int) -> str:
        """Span discovery + token-coverage rebuild over a ``src``
        (doc_id, text) CTE the caller prepends."""
        return (
            " toks AS (SELECT doc_id, string_split(text, ' ') AS toks"
            " FROM src),"
            " sh AS (SELECT doc_id, pos,"
            f"  array_to_string(toks[pos:pos+{n - 1}], ' ') AS s"
            "  FROM (SELECT doc_id, toks,"
            "   unnest(generate_series(1,"
            f"    greatest(len(toks) - {n - 1}, 0))) AS pos FROM toks)),"
            " dup AS (SELECT s FROM"
            "  (SELECT s, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY s)"
            "  WHERE df >= 2),"
            " m AS (SELECT doc_id, pos FROM sh WHERE s IN (SELECT s FROM dup)),"
            " runs AS (SELECT doc_id, pos, pos - ROW_NUMBER() OVER"
            "  (PARTITION BY doc_id ORDER BY pos) AS grp FROM m),"
            " spans AS (SELECT doc_id, MIN(pos) AS s,"
            f"  MAX(pos) + {n - 1} AS e FROM runs GROUP BY doc_id, grp),"
            " pos AS (SELECT doc_id, toks,"
            "  unnest(generate_series(1, len(toks))) AS p FROM toks),"
            " keep AS (SELECT pos.doc_id, pos.p, pos.toks[pos.p] AS tok"
            "  FROM pos WHERE NOT EXISTS (SELECT 1 FROM spans sp"
            "   WHERE sp.doc_id = pos.doc_id AND pos.p >= sp.s AND pos.p <= sp.e))"
            " SELECT t.doc_id,"
            "  COALESCE(string_agg(k.tok, ' ' ORDER BY k.p), '') AS text,"
            "  len(t.toks)::BIGINT AS n_tokens,"
            "  (len(t.toks) - COUNT(k.p))::BIGINT AS n_tokens_cut"
            " FROM toks t LEFT JOIN keep k ON k.doc_id = t.doc_id"
            " GROUP BY t.doc_id, t.toks"
        )

    sql["cut_duplicate_spans"] = (
        "WITH src AS (SELECT doc_id, text FROM documents),"
        + _cut_spans_tail_sql(DUPSPAN_N)
    )
    # dedup -> cut composition: canonical survivors (the full
    # MinHash-LSH + closure + quality-argmax statement nested as a
    # CTE), then span discovery + cut over the KEPT corpus only
    sql["dedup_cut_pipeline"] = (
        "WITH canon AS MATERIALIZED ("
        + _canonical_docs_sql(64, 16, 3, 0.3, 42)
        + "), src AS (SELECT d.doc_id, d.text FROM documents d"
        " JOIN canon c ON d.doc_id = c.kept_doc_id),"
        + _cut_spans_tail_sql(DUPSPAN_N)
    )
    sql["component_renumber"] = (
        "WITH RECURSIVE "
        + EDGES_CTES.strip()
        + ", "
        + SYM_CTE.strip()
        + ", reach(id, lbl) AS ("
        "   SELECT doc_id, doc_id FROM documents"
        "   UNION"
        "   SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.id"
        " ), comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id)"
        " SELECT id, ROW_NUMBER() OVER (ORDER BY component, id) - 1 AS new_id"
        " FROM comp"
    )
    sql["incremental_cc_update"] = (
        "WITH RECURSIVE "
        + EDGES_CTES.strip()
        + ", kept AS (SELECT src, dst FROM edges WHERE (src + dst) % 17 != 0)"
        ", flipped AS (SELECT dst AS src, src AS dst FROM edges"
        "   WHERE (src * 7 + dst) % 23 = 0)"
        ", newe AS (SELECT src, dst FROM kept UNION SELECT src, dst FROM flipped)"
        ", nsym AS (SELECT src, dst FROM newe"
        "   UNION SELECT dst AS src, src AS dst FROM newe)"
        ", reach(id, lbl) AS ("
        "   SELECT doc_id, doc_id FROM documents"
        "   UNION"
        "   SELECT s.dst, r.lbl FROM reach r JOIN nsym s ON s.src = r.id"
        " )"
        " SELECT id, MIN(lbl) AS component FROM reach GROUP BY id"
    )
    # triangle participation (all three corners) + degrees over the
    # undirected simple doc graph — mirrors
    # linkgraph/algorithms/triangles.py::clustering_coefficients
    _cc_corners = (
        " se AS (SELECT src, dst FROM sym WHERE src <> dst),"
        " lower_e AS (SELECT src AS b, dst AS a FROM se WHERE dst < src),"
        " upper_e AS (SELECT src AS b, dst AS c FROM se WHERE dst > src),"
        " wedges AS (SELECT a, b, c FROM lower_e JOIN upper_e USING (b)),"
        " closed AS (SELECT w.a, w.b, w.c FROM wedges w"
        "   JOIN se e ON e.src = w.a AND e.dst = w.c),"
        " corners AS (SELECT a AS id FROM closed"
        "   UNION ALL SELECT b FROM closed UNION ALL SELECT c FROM closed),"
        " pv AS (SELECT id, COUNT(*) AS triangles FROM corners GROUP BY id),"
        " vdeg AS (SELECT src AS id, COUNT(*) AS degree FROM se GROUP BY src)"
    )
    sql["clustering_coefficient"] = (
        WS + "," + _cc_corners +
        " SELECT d.doc_id AS id, COALESCE(g.degree, 0) AS degree,"
        " COALESCE(pv.triangles, 0) AS triangles,"
        " ROUND(CASE WHEN COALESCE(g.degree, 0) >= 2"
        "  THEN 2.0 * COALESCE(pv.triangles, 0) / (g.degree * (g.degree - 1))"
        "  ELSE 0.0 END, 6) AS coeff"
        " FROM documents d"
        " LEFT JOIN vdeg g ON g.id = d.doc_id"
        " LEFT JOIN pv ON pv.id = d.doc_id"
    )
    # PII scrub — the plant and the email -> ip -> phone sequential
    # replace mirror linkgraph/pipeline/textstats.py::pii_redact; the
    # patterns are ASCII-only so Java regex and RE2 agree, and DuckDB
    # needs the explicit 'g' flag Spark applies by default
    from linkgraph.pipeline.textstats import PII_EMAIL, PII_IPV4, PII_PHONE

    sql["pii_redaction"] = (
        " WITH planted AS (SELECT doc_id, text ||"
        "  CASE WHEN doc_id % 7 = 0 THEN ' contact user' ||"
        "   CAST(doc_id AS VARCHAR) ||"
        "   '@mail.example.com at 10.2.3.4 or +44 20 7946 0958'"
        "  ELSE '' END AS text FROM documents),"
        f" t1 AS (SELECT doc_id,"
        f"  len(regexp_extract_all(text, '{PII_EMAIL}')) AS n_emails,"
        f"  regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g') AS text"
        f"  FROM planted),"
        f" t2 AS (SELECT doc_id, n_emails,"
        f"  len(regexp_extract_all(text, '{PII_IPV4}')) AS n_ips,"
        f"  regexp_replace(text, '{PII_IPV4}', '<IP>', 'g') AS text"
        f"  FROM t1),"
        f" t3 AS (SELECT doc_id, n_emails, n_ips,"
        f"  len(regexp_extract_all(text, '{PII_PHONE}')) AS n_phones,"
        f"  regexp_replace(text, '{PII_PHONE}', '<PHONE>', 'g') AS text"
        f"  FROM t2)"
        " SELECT doc_id, text AS redacted_text, n_emails, n_ips, n_phones"
        " FROM t3"
    )
    # Gopher repetition signals — mirrors textstats.repetition_stats
    sql["repetition_stats"] = (
        " WITH toks AS (SELECT doc_id,"
        "   list_filter(string_split(text, ' '), t -> t <> '') AS toks"
        "  FROM documents),"
        " base AS (SELECT doc_id, len(toks) AS n_tokens,"
        "   len(list_distinct(toks)) AS n_distinct FROM toks),"
        " pos2 AS (SELECT doc_id, toks,"
        "   unnest(generate_series(1, len(toks) - 1)) AS i FROM toks),"
        " m2 AS (SELECT doc_id, MAX(c) AS m2 FROM ("
        "   SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g, COUNT(*) AS c"
        "   FROM pos2 GROUP BY doc_id, g) GROUP BY doc_id),"
        " pos3 AS (SELECT doc_id, toks,"
        "   unnest(generate_series(1, len(toks) - 2)) AS i FROM toks),"
        " m3 AS (SELECT doc_id, MAX(c) AS m3 FROM ("
        "   SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g,"
        "   COUNT(*) AS c FROM pos3 GROUP BY doc_id, g) GROUP BY doc_id)"
        " SELECT b.doc_id, b.n_tokens,"
        "  ROUND(CASE WHEN b.n_tokens > 0"
        "   THEN 1.0 - b.n_distinct / CAST(b.n_tokens AS DOUBLE)"
        "   ELSE 0.0 END, 6) AS dup_word_frac,"
        "  ROUND(COALESCE(2.0 * m2.m2 / b.n_tokens, 0.0), 6) AS top2gram_frac,"
        "  ROUND(COALESCE(3.0 * m3.m3 / b.n_tokens, 0.0), 6) AS top3gram_frac"
        " FROM base b LEFT JOIN m2 ON m2.doc_id = b.doc_id"
        " LEFT JOIN m3 ON m3.doc_id = b.doc_id"
    )
    sql["transitivity"] = (
        WS + "," + _cc_corners + ","
        " t3 AS (SELECT COALESCE(SUM(triangles), 0) AS t3 FROM pv),"
        " wz AS (SELECT COALESCE(SUM((degree * (degree - 1)) // 2), 0) AS w FROM vdeg)"
        " SELECT ROUND(CASE WHEN w > 0 THEN t3 / CAST(w AS DOUBLE)"
        "  ELSE 0.0 END, 6) AS transitivity"
        " FROM t3, wz"
    )
    return sql
