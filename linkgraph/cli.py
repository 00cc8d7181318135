"""spark-submit entry point for the link-graph engine.

North-rule launch mode (BASELINE.json): the job runs via

    spark-submit --py-files linkgraph.zip /path/to/linkgraph/cli.py ...
    # or locally: python -m linkgraph.cli ...
    # (spark-submit takes a script path, not a -m module flag)

on a multi-executor cluster; in this sandbox the same entry runs under
``--master local[k]``. The reference's analogue is Client.main ->
Driver.runJob (pregelix-example Client.java:82-86, Driver.java:88-135):
parse CLI, pick the algorithm, run the iteration loop, write results.

No ``master`` is set here — spark-submit owns cluster placement; the
session factory only applies engine tuning (AQE, Arrow, shuffle
partitions).

Examples
--------
Derive a graph from a source-code table and run PageRank to 1e-6::

    spark-submit --py-files linkgraph.zip linkgraph/cli.py \
      pagerank --code-table /data/code_files --output /out/ranks \
      --tol 1e-6 --checkpoint /ckpt/pr

Run connected components over an existing edge table::

    spark-submit ... linkgraph/cli.py cc --edges /data/edges --output /out/cc
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="linkgraph", description=__doc__)
    p.add_argument(
        "algorithm",
        choices=[
            "pagerank", "cc", "cc-hashmin", "scc", "lpa", "triangles",
            "clustering", "transitivity", "ktruss", "anf", "sssp",
            "reachability", "sample", "cliques", "derive",
            "derive-repo", "wpr", "linkpred",
            "dedup", "vocab", "pii", "repetition", "bm25", "lm-score", "chunk",
            "seeded-lpa",
            "ppr", "hits", "kcore", "walks", "node2vec", "mis", "matching", "toposort",
            "coloring", "msf", "bipartite", "cocitation", "coupling", "cooccur",
            "salsa", "rectangles", "landmarks", "structsim",
            "summary", "coreness", "betweenness", "harmonic",
            "closeness", "knn-degree", "rich-club",
            "canonical", "skipgram", "sgns",
            "louvain", "katz", "eigenvector", "triads", "triads-full", "effdiam", "dupgrams", "sweep",
            "wl", "temporal", "motif", "louvain-ml", "partition-report",
            "inc-cc",
            "spans", "cut-spans", "semdedup",
        ],
    )
    src = p.add_argument_group("input (exactly one)")
    src.add_argument("--edges", help="path/table of edges(src BIGINT, dst BIGINT)")
    src.add_argument(
        "--documents",
        help="path/table of documents(doc_id BIGINT, text STRING) — input for "
        "the dedup / vocab pipeline algorithms",
    )
    src.add_argument(
        "--embeddings",
        help="path/table of embeddings(vec_id BIGINT, embedding ARRAY<FLOAT>)"
        " — input for semdedup",
    )
    src.add_argument(
        "--code-table",
        help="path/table of source code rows (repo, path, commit, lang, content); "
        "edges are derived from cross-repo import references",
    )
    src.add_argument(
        "--adjacency-text",
        help="text file(s) of 'src dst1 dst2 ...' lines (the reference's "
        "TextVertexInputFormat)",
    )
    p.add_argument("--output", required=True, help="output path (parquet)")
    p.add_argument("--old-edges",
                   help="inc-cc: previous edge snapshot (src, dst parquet)")
    p.add_argument("--old-labels",
                   help="inc-cc: previous run's labels (id, component parquet)")
    p.add_argument("--format", default="parquet", help="spark output format (default parquet)")
    p.add_argument("--checkpoint", help="checkpoint dir for resumable iteration")
    p.add_argument("--checkpoint-every", type=int, default=1)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--num-partitions", type=int, default=None)
    p.add_argument("--max-supersteps", type=int, default=100)
    p.add_argument("--tol", type=float, default=1e-6, help="pagerank L1 stop")
    p.add_argument("--damping", type=float, default=0.85)
    p.add_argument("--fixed-updates", type=int, default=None,
                   help="pagerank reference-parity mode: exactly k rank updates")
    p.add_argument("--source", type=int, default=0, help="sssp/reachability source vertex")
    p.add_argument("--dest", type=int, default=1, help="reachability dest vertex")
    p.add_argument("--target-rate", type=float, default=0.5, help="sample fill rate")
    p.add_argument("--seed", type=int, default=42, help="sample determinism seed")
    p.add_argument("--threshold", type=float, default=0.4,
                   help="dedup: MinHash estimated-Jaccard cut for near-dup pairs")
    p.add_argument("--portable-hash", action="store_true",
                   help="dedup: oracle-portable md5-digit shingle hashing instead "
                   "of the default production xxhash64")
    p.add_argument("--top-k", type=int, default=50, help="vocab: number of terms")
    p.add_argument("--query", nargs="+", default=None,
                   help="bm25: query terms (bag of words)")
    p.add_argument("--seeds", default=None,
                   help="seeded-lpa: path/table of seeds(id BIGINT, label BIGINT)")
    p.add_argument("--sources", type=int, nargs="+", default=[0],
                   help="ppr: teleport seed vertex ids")
    p.add_argument("--k", type=int, default=3, help="kcore/ktruss: order k")
    p.add_argument("--num-maps", type=int, default=16,
                   help="anf: FM bitmaps per vertex")
    p.add_argument("--max-h", type=int, default=8,
                   help="anf: maximum neighborhood depth")
    p.add_argument("--span-n", type=int, default=8,
                   help="spans/cut-spans: word n-gram width for duplicated-span detection")
    p.add_argument("--min-docs", type=int, default=2,
                   help="spans/cut-spans: minimum distinct documents per duplicated n-gram")
    p.add_argument("--n-clusters", type=int, default=16,
                   help="semdedup: k-means cluster count")
    p.add_argument("--tau", type=float, default=0.9,
                   help="semdedup: within-cluster cosine threshold for dropping")
    p.add_argument("--max-cluster-size", type=int, default=100_000,
                   help="semdedup: skip pruning in clusters larger than this (skew cap)")
    p.add_argument("--ngram-n", type=int, default=5,
                   help="dupgrams: token shingle width for the "
                   "duplicated-span audit")
    p.add_argument("--alpha", type=float, default=0.05,
                   help="katz: attenuation factor (must be < 1/lambda_max "
                   "for the infinite series; any value in fixed-updates mode)")
    p.add_argument("--chunk-size", type=int, default=64,
                   help="chunk: window size in whitespace tokens")
    p.add_argument("--chunk-overlap", type=int, default=16,
                   help="chunk: tokens shared between consecutive windows")
    p.add_argument("--pattern", default=None,
                   help='motif: pattern string, e.g. "(a)-[]->(b); !(b)-[]->(a)"')
    p.add_argument("--where", default=None,
                   help="motif: SQL predicate over pattern variables")
    p.add_argument("--max-degree", type=int, default=None,
                   help="motif: exclude vertices above this total degree")
    p.add_argument("--rounds", type=int, default=3,
                   help="louvain: synchronous greedy-move rounds")
    p.add_argument("--levels", type=int, default=2,
                   help="louvain-ml: contraction levels")
    p.add_argument("--min-common", type=int, default=2,
                   help="linkpred/cocitation/coupling: minimum shared "
                   "neighbors (centers) per pair")
    p.add_argument("--max-center-degree", type=int, default=10_000,
                   help="linkpred/cocitation/coupling/rectangles: drop "
                   "pair-generating "
                   "centers above this degree "
                   "(bounds the hub wedge set at scale; 0 = uncapped)")
    p.add_argument("--min-df", type=int, default=2,
                   help="cooccur: keep tokens in at least this many documents")
    p.add_argument("--max-df", type=int, default=0,
                   help="cooccur: drop tokens above this document frequency "
                   "(the stopword hub cap; 0 = uncapped, small corpora only)")
    p.add_argument("--iterations", type=int, default=20, help="hits: fixed iterations")
    p.add_argument("--walks-per-vertex", type=int, default=1,
                   help="walks/node2vec: walks started from every vertex")
    p.add_argument("--walk-length", type=int, default=8,
                   help="walks/node2vec: steps after the start vertex")
    p.add_argument("--weight-col", default=None,
                   help="walks: integer edge-weight column for "
                   "weight-proportional steps; temporal: the BIGINT "
                   "timestamp column (defaults to 't' when the edge "
                   "table has one)")
    p.add_argument("--mult-return", type=int, default=1,
                   help="node2vec: integer bias for returning to the previous "
                   "vertex (1/p scaled to integers)")
    p.add_argument("--mult-common", type=int, default=1,
                   help="node2vec: integer bias for common neighbors of the "
                   "previous vertex")
    p.add_argument("--mult-far", type=int, default=1,
                   help="node2vec: integer bias for other neighbors "
                   "(1/q scaled to integers)")
    p.add_argument("--sg-window", type=int, default=2,
                   help="skipgram/sgns: context window over the walk corpus")
    p.add_argument("--sgns-dim", type=int, default=8,
                   help="sgns: embedding dimension")
    p.add_argument("--sgns-epochs", type=int, default=3,
                   help="sgns: full-batch training epochs")
    p.add_argument("--sgns-negatives", type=int, default=2,
                   help="sgns: negative samples per observed pair")
    p.add_argument("--directed", action="store_true",
                   help="cc/lpa/triangles: consume edges as-given instead of symmetrizing")
    p.add_argument("--metrics-output", help="write per-superstep metrics JSON lines here")
    return p


def _load_edges(spark: SparkSession, args) -> DataFrame:
    given = [x for x in (args.edges, args.code_table, args.adjacency_text) if x]
    if len(given) != 1:
        raise SystemExit(
            "exactly one of --edges / --code-table / --adjacency-text is required"
            " (--embeddings is the semdedup input)"
        )
    if args.edges:
        df = spark.read.load(args.edges)
        cols = [F.col("src").cast("long"), F.col("dst").cast("long")]
        extra = getattr(args, "weight_col", None)
        if not extra and getattr(args, "algorithm", None) == "temporal":
            # temporal rides the same extra-column loader; default to the
            # conventional 't' timestamp column when the table has one.
            if "t" in df.columns:
                extra = "t"
            else:
                raise SystemExit(
                    "temporal requires a BIGINT timestamp column: pass "
                    "--weight-col <column> (no 't' column in the edge table)"
                )
        if extra:
            if extra not in df.columns:
                raise SystemExit(
                    f"--weight-col {extra!r} not in edge table columns "
                    f"{df.columns}"
                )
            cols.append(F.col(extra).cast("long").alias(extra))
        return df.select(*cols)
    if args.adjacency_text:
        from linkgraph.sources import adjacency_text_graph

        _, edges = adjacency_text_graph(spark, args.adjacency_text)
        return edges
    from linkgraph.derive import derive_graph

    code = spark.read.load(args.code_table)
    _, edges = derive_graph(code)
    return edges


def main(argv: list[str] | None = None) -> None:
    args = _build_parser().parse_args(argv)
    if args.embeddings:
        others = [
            flag
            for flag, given in (
                ("--documents", args.documents),
                ("--edges", args.edges),
                ("--code-table", args.code_table),
                ("--adjacency-text", args.adjacency_text),
            )
            if given
        ]
        if others:
            raise SystemExit(
                f"--embeddings cannot be combined with {' / '.join(others)}:"
                " give exactly one input"
            )

    from linkgraph.session import get_spark

    spark = get_spark(app_name=f"linkgraph-{args.algorithm}")

    ckpt = None
    if args.checkpoint:
        from linkgraph.checkpoint import CheckpointManager

        ckpt = CheckpointManager(spark, args.checkpoint, every=args.checkpoint_every)

    if args.algorithm == "semdedup":
        if not args.embeddings:
            raise SystemExit("semdedup requires --embeddings")
        from linkgraph.pipeline.similarity import semantic_dedup

        emb = spark.read.load(args.embeddings).select(
            F.col("vec_id").cast("long"), F.col("embedding")
        )
        out = semantic_dedup(
            emb,
            n_clusters=args.n_clusters,
            tau=args.tau,
            max_cluster_size=args.max_cluster_size,
        )
        out.write.format(args.format).mode("overwrite").save(args.output)
        return

    if args.algorithm in ("dedup", "canonical", "vocab", "pii", "repetition",
                          "cooccur", "bm25", "lm-score", "dupgrams", "chunk",
                          "spans", "cut-spans"):
        if not args.documents:
            raise SystemExit(f"{args.algorithm} requires --documents")
        docs = spark.read.load(args.documents).select(
            F.col("doc_id").cast("long"), F.col("text")
        )
        if args.algorithm == "bm25":
            from linkgraph.pipeline.textstats import bm25_scores

            if not args.query:
                raise SystemExit("bm25 requires --query term [term ...]")
            out = bm25_scores(docs, args.query)
        elif args.algorithm == "lm-score":
            from linkgraph.pipeline.textstats import unigram_lm_score

            out = unigram_lm_score(docs)
        elif args.algorithm == "pii":
            from linkgraph.pipeline.textstats import pii_redact

            out = pii_redact(docs)
        elif args.algorithm == "repetition":
            from linkgraph.pipeline.textstats import repetition_stats

            out = repetition_stats(docs)
        elif args.algorithm == "dupgrams":
            from linkgraph.pipeline.dedup import duplicated_ngram_stats

            out = duplicated_ngram_stats(
                docs, n=args.ngram_n, portable=args.portable_hash
            )
        elif args.algorithm == "dedup":
            from linkgraph.pipeline.dedup import dedup_clusters

            out = dedup_clusters(
                docs,
                threshold=args.threshold,
                seed=args.seed,
                portable=args.portable_hash,
            )
        elif args.algorithm == "canonical":
            from linkgraph.pipeline.dedup import canonical_docs

            out = canonical_docs(
                docs,
                threshold=args.threshold,
                seed=args.seed,
                portable=args.portable_hash,
            )
        elif args.algorithm == "spans":
            from linkgraph.pipeline.dedup import duplicate_spans

            out = duplicate_spans(
                docs, n=args.span_n, min_docs=args.min_docs,
                portable=args.portable_hash,
            )
        elif args.algorithm == "cut-spans":
            from linkgraph.pipeline.dedup import cut_duplicate_spans

            out = cut_duplicate_spans(
                docs, n=args.span_n, min_docs=args.min_docs,
                portable=args.portable_hash,
            )
        elif args.algorithm == "chunk":
            from linkgraph.pipeline.packing import chunk_documents

            out = chunk_documents(
                docs, chunk_size=args.chunk_size, overlap=args.chunk_overlap
            )
        elif args.algorithm == "cooccur":
            from linkgraph.pipeline.cooccur import token_cooccurrence

            out = token_cooccurrence(
                docs,
                min_df=args.min_df,
                max_df=args.max_df or None,
                min_count=args.min_common,
            )
        else:
            from linkgraph.pipeline.textstats import vocabulary

            out = vocabulary(docs, top_k=args.top_k)
        out.write.format(args.format).mode("overwrite").save(args.output)
        return

    if args.algorithm in ("derive-repo", "wpr"):
        # repo-granularity tier: weighted edges either read directly
        # (src, dst, weight) or rolled up from a source-code table
        if args.edges:
            wedges = spark.read.load(args.edges).select(
                F.col("src").cast("long"),
                F.col("dst").cast("long"),
                F.col("weight").cast("double"),
            )
        elif args.code_table:
            from linkgraph.derive import derive_repo_graph

            _, wedges = derive_repo_graph(spark.read.load(args.code_table))
        else:
            raise SystemExit(f"{args.algorithm} requires --edges or --code-table")
        if args.algorithm == "derive-repo":
            out = wedges
        else:
            from linkgraph.examples import weighted_pagerank

            out, res = weighted_pagerank(
                wedges,
                damping=args.damping,
                tol=args.tol,
                max_supersteps=args.max_supersteps,
                fixed_updates=args.fixed_updates,
                num_partitions=args.num_partitions,
                ckpt=ckpt,
                resume=not args.no_resume,
            )
            _write_metrics(args, res)
        out.write.format(args.format).mode("overwrite").save(args.output)
        return

    edges = _load_edges(spark, args)
    common = dict(
        num_partitions=args.num_partitions,
        ckpt=ckpt,
        resume=not args.no_resume,
    )

    res = None
    if args.algorithm == "derive":
        out = edges
    elif args.algorithm == "pagerank":
        from linkgraph.algorithms.pagerank import pagerank

        out, res = pagerank(
            edges,
            damping=args.damping,
            tol=args.tol,
            max_supersteps=args.max_supersteps,
            fixed_updates=args.fixed_updates,
            **common,
        )
    elif args.algorithm == "cc":
        from linkgraph.algorithms.cc import connected_components

        out, res = connected_components(
            edges,
            symmetrize_edges=not args.directed,
            max_supersteps=args.max_supersteps,
            **common,
        )
    elif args.algorithm == "inc-cc":
        from linkgraph.algorithms.incremental import incremental_cc

        if not args.old_edges or not args.old_labels:
            raise SystemExit(
                "inc-cc requires --old-edges (previous snapshot) and "
                "--old-labels (previous id/component parquet); --edges is "
                "the NEW snapshot"
            )
        out, res = incremental_cc(
            edges,
            spark.read.load(args.old_edges).select("src", "dst"),
            spark.read.load(args.old_labels).select("id", "component"),
            max_supersteps=args.max_supersteps,
            **common,
        )
    elif args.algorithm == "lpa":
        from linkgraph.algorithms.lpa import label_propagation

        out, res = label_propagation(
            edges,
            symmetrize_edges=not args.directed,
            max_supersteps=args.max_supersteps,
            **common,
        )
    elif args.algorithm == "seeded-lpa":
        from linkgraph.algorithms.seeded_lpa import seeded_label_propagation

        if not args.seeds:
            raise SystemExit("seeded-lpa requires --seeds")
        seeds = spark.read.load(args.seeds).select(
            F.col("id").cast("long"), F.col("label").cast("long")
        )
        out, res = seeded_label_propagation(
            edges,
            seeds,
            symmetrize_edges=not args.directed,
            max_supersteps=args.max_supersteps,
            **common,
        )
    elif args.algorithm == "sssp":
        from linkgraph.algorithms.sssp import shortest_paths

        out, res = shortest_paths(
            edges, source=args.source, max_supersteps=args.max_supersteps, **common
        )
    elif args.algorithm == "reachability":
        from linkgraph.algorithms.reachability import reachability

        out, reachable, res = reachability(
            edges,
            source=args.source,
            dest=args.dest,
            symmetrize_edges=not args.directed,
            max_supersteps=args.max_supersteps,
            **common,
        )
        print(json.dumps({"reachable": reachable}), file=sys.stderr)
    elif args.algorithm == "sample":
        from linkgraph.algorithms.sampling import graph_sample

        out, res = graph_sample(
            edges,
            target_rate=args.target_rate,
            seed=args.seed,
            max_supersteps=args.max_supersteps,
            **common,
        )
    elif args.algorithm == "ppr":
        from linkgraph.examples import personalized_pagerank

        out, res = personalized_pagerank(
            edges,
            args.sources,
            damping=args.damping,
            tol=args.tol,
            max_supersteps=args.max_supersteps,
            fixed_updates=args.fixed_updates,
            **common,
        )
    elif args.algorithm == "hits":
        from linkgraph.examples import hits

        out, res = hits(edges, iterations=args.iterations, **common)
    elif args.algorithm == "kcore":
        from linkgraph.examples import kcore

        out, res = kcore(edges, args.k, max_supersteps=args.max_supersteps, **common)
    elif args.algorithm == "walks":
        from linkgraph.algorithms.walks import random_walks

        out, res = random_walks(
            edges,
            walks_per_vertex=args.walks_per_vertex,
            walk_length=args.walk_length,
            seed=args.seed,
            portable=args.portable_hash,
            weight_col=args.weight_col,
            **common,
        )
    elif args.algorithm == "node2vec":
        from linkgraph.algorithms.walks import node2vec_walks

        out, res = node2vec_walks(
            edges,
            walks_per_vertex=args.walks_per_vertex,
            walk_length=args.walk_length,
            seed=args.seed,
            mult_return=args.mult_return,
            mult_common=args.mult_common,
            mult_far=args.mult_far,
            portable=args.portable_hash,
            weight_col=args.weight_col,
            **common,
        )
    elif args.algorithm in ("skipgram", "sgns"):
        from linkgraph.algorithms.walks import random_walks, skipgram_pairs

        corpus, res = random_walks(
            edges,
            walks_per_vertex=args.walks_per_vertex,
            walk_length=args.walk_length,
            seed=args.seed,
            portable=args.portable_hash,
            weight_col=args.weight_col,
            **common,
        )
        out = skipgram_pairs(corpus, window=args.sg_window)
        if args.algorithm == "sgns":
            from linkgraph.pipeline.sgns import train_sgns

            out, _ = train_sgns(
                out,
                dim=args.sgns_dim,
                epochs=args.sgns_epochs,
                negatives=args.sgns_negatives,
                seed=args.seed,
                portable=args.portable_hash,
            )
    elif args.algorithm == "summary":
        from linkgraph.algorithms.stats import graph_summary

        out = graph_summary(edges)
    elif args.algorithm == "coreness":
        from linkgraph.algorithms.coreness import core_decomposition

        out, res = core_decomposition(
            edges,
            max_iters=args.max_supersteps or 64,
            num_partitions=args.num_partitions,
            symmetrize_edges=not args.directed,
        )
    elif args.algorithm == "betweenness":
        from linkgraph.algorithms.betweenness import betweenness_centrality

        out, res = betweenness_centrality(
            edges,
            args.sources,
            max_depth=args.max_supersteps or 12,
            num_partitions=args.num_partitions,
            symmetrize_edges=not args.directed,
        )
    elif args.algorithm in ("harmonic", "closeness"):
        from linkgraph.algorithms.anf import (
            closeness_centrality,
            harmonic_centrality,
        )

        fn = harmonic_centrality if args.algorithm == "harmonic" else closeness_centrality
        out, res = fn(
            edges,
            num_maps=args.num_maps,
            max_h=args.max_h,
            num_partitions=args.num_partitions,
            symmetrize_edges=not args.directed,
            portable=args.portable_hash,
            seed=args.seed,
        )
    elif args.algorithm == "knn-degree":
        from linkgraph.algorithms.stats import avg_neighbor_degree

        out = avg_neighbor_degree(edges)
    elif args.algorithm == "rich-club":
        from linkgraph.algorithms.stats import rich_club_profile

        out = rich_club_profile(edges)
    elif args.algorithm == "mis":
        from linkgraph.algorithms.mis import maximal_independent_set

        out, res = maximal_independent_set(
            edges,
            seed=args.seed,
            max_supersteps=args.max_supersteps,
            portable=args.portable_hash,
            **common,
        )
    elif args.algorithm == "matching":
        from linkgraph.algorithms.matching import maximal_matching

        out, res = maximal_matching(
            edges,
            seed=args.seed,
            max_supersteps=args.max_supersteps,
            portable=args.portable_hash,
            **common,
        )
    elif args.algorithm == "toposort":
        from linkgraph.algorithms.toposort import dependency_levels

        out, res = dependency_levels(
            edges,
            max_supersteps=args.max_supersteps,
            **common,
        )
    elif args.algorithm == "bipartite":
        from linkgraph.algorithms.bipartite import bipartite_check

        out, res = bipartite_check(
            edges,
            max_supersteps=args.max_supersteps,
            **common,
        )
    elif args.algorithm == "salsa":
        from linkgraph.algorithms.salsa import salsa_scores

        out, res = salsa_scores(
            edges,
            max_supersteps=args.max_supersteps,
            **common,
        )
    elif args.algorithm == "katz":
        from linkgraph.algorithms.katz import katz_centrality

        out, res = katz_centrality(
            edges,
            alpha=args.alpha,
            tol=args.tol,
            max_supersteps=args.max_supersteps,
            fixed_updates=args.fixed_updates,
            **common,
        )
    elif args.algorithm == "eigenvector":
        from linkgraph.algorithms.katz import eigenvector_centrality

        out, res = eigenvector_centrality(
            edges,
            updates=args.fixed_updates or 6,
            **common,
        )
    elif args.algorithm == "motif":
        from linkgraph.algorithms.motif_match import motif_find

        if not args.pattern:
            raise SystemExit("motif requires --pattern")
        out = motif_find(
            edges,
            args.pattern,
            where=args.where,
            max_degree=args.max_degree,
        )
    elif args.algorithm == "temporal":
        from linkgraph.algorithms.temporal import temporal_earliest_arrival

        # the timestamp column rides the --weight-col loader (any extra
        # BIGINT column on the edge table)
        time_col = args.weight_col or "t"
        if time_col not in edges.columns:
            raise SystemExit(
                f"temporal requires a timestamp column; {time_col!r} is not "
                "in the edge table (pass --weight-col, and use --edges: the "
                "adjacency-text / code-table sources carry no timestamps)"
            )
        out, res = temporal_earliest_arrival(
            edges,
            source=args.source,
            time_col=time_col,
            max_supersteps=args.max_supersteps,
            **common,
        )
    elif args.algorithm == "wl":
        from linkgraph.algorithms.wl import wl_refinement

        out = wl_refinement(
            edges,
            rounds=args.rounds,
            num_partitions=args.num_partitions,
            portable=args.portable_hash,
        )
    elif args.algorithm == "triads":
        from linkgraph.algorithms.motifs import closed_triad_census

        out = closed_triad_census(edges)
    elif args.algorithm == "triads-full":
        from linkgraph.algorithms.motifs import triad_census

        out = triad_census(edges)
    elif args.algorithm == "partition-report":
        from linkgraph.algorithms.partition_stats import partition_quality

        out = partition_quality(
            edges,
            n_parts=args.num_partitions or 32,
            portable=args.portable_hash,
        )
    elif args.algorithm == "louvain-ml":
        from linkgraph.algorithms.louvain import louvain_multilevel

        out = louvain_multilevel(
            edges,
            levels=args.levels,
            rounds=args.rounds,
            num_partitions=args.num_partitions,
        )
    elif args.algorithm == "louvain":
        from linkgraph.algorithms.louvain import greedy_modularity_communities

        out = greedy_modularity_communities(
            edges,
            rounds=args.rounds,
            num_partitions=args.num_partitions,
        )
    elif args.algorithm == "sweep":
        from linkgraph.algorithms.localcluster import ppr_sweep_cut

        out = ppr_sweep_cut(
            edges,
            args.sources,
            top_t=args.top_k,
            num_partitions=args.num_partitions,
        )
    elif args.algorithm == "effdiam":
        from linkgraph.algorithms.anf import (
            effective_diameter_df,
            neighborhood_function,
        )

        nh, res = neighborhood_function(
            edges,
            num_maps=args.num_maps,
            max_h=args.max_h,
            num_partitions=args.num_partitions,
            portable=args.portable_hash,
        )
        out = effective_diameter_df(nh)
    elif args.algorithm == "rectangles":
        from linkgraph.algorithms.rectangles import rectangle_counts

        out = rectangle_counts(
            edges,
            max_center_degree=args.max_center_degree or None,
        )
    elif args.algorithm == "landmarks":
        from linkgraph.algorithms.landmarks import landmark_distances

        out, _lms = landmark_distances(
            edges,
            num_partitions=args.num_partitions,
        )
    elif args.algorithm == "structsim":
        from linkgraph.algorithms.structsim import neighborhood_minhash_pairs

        out = neighborhood_minhash_pairs(edges)
    elif args.algorithm == "msf":
        from linkgraph.algorithms.msf import minimum_spanning_forest

        out, _rounds = minimum_spanning_forest(
            edges,
            weight_col=args.weight_col,
            num_partitions=args.num_partitions,
        )
    elif args.algorithm == "coloring":
        from linkgraph.algorithms.coloring import greedy_coloring

        out, res = greedy_coloring(
            edges,
            seed=args.seed,
            max_supersteps=args.max_supersteps,
            portable=args.portable_hash,
            **common,
        )
    elif args.algorithm == "linkpred":
        from linkgraph.algorithms.linkpred import common_neighbor_scores

        out = common_neighbor_scores(
            edges,
            min_common=args.min_common,
            max_center_degree=args.max_center_degree or None,
            symmetrize_edges=not args.directed,
        )
    elif args.algorithm in ("cocitation", "coupling"):
        from linkgraph.algorithms.cocitation import (
            bibliographic_coupling,
            cocitation,
        )

        fn = cocitation if args.algorithm == "cocitation" else bibliographic_coupling
        out = fn(
            edges,
            min_common=args.min_common,
            max_center_degree=args.max_center_degree or None,
        )
    elif args.algorithm == "cc-hashmin":
        from linkgraph.algorithms.cc import connected_components_hashmin

        out, res = connected_components_hashmin(
            edges,
            num_partitions=args.num_partitions,
            max_rounds=args.max_supersteps,
        )
    elif args.algorithm == "scc":
        from linkgraph.algorithms.scc import strongly_connected_components

        out, res = strongly_connected_components(
            edges,
            num_partitions=args.num_partitions,
            max_supersteps=args.max_supersteps,
        )
    elif args.algorithm == "ktruss":
        from linkgraph.algorithms.ktruss import ktruss

        out, res = ktruss(
            edges,
            args.k,
            num_partitions=args.num_partitions,
            max_rounds=args.max_supersteps,
        )
    elif args.algorithm == "anf":
        from linkgraph.algorithms.anf import neighborhood_function

        out, res = neighborhood_function(
            edges,
            num_maps=args.num_maps,
            max_h=args.max_h,
            num_partitions=args.num_partitions,
            symmetrize_edges=not args.directed,
            portable=args.portable_hash,
            seed=args.seed,
        )
    elif args.algorithm == "clustering":
        from linkgraph.algorithms.triangles import clustering_coefficients

        out = clustering_coefficients(edges)
    elif args.algorithm == "transitivity":
        from linkgraph.algorithms.triangles import transitivity

        out = transitivity(edges)
    elif args.algorithm == "cliques":
        from linkgraph.algorithms.cliques import maximum_cliques

        out = maximum_cliques(edges)
    else:  # triangles — non-iterative
        from linkgraph.algorithms.triangles import triangle_counts

        out = triangle_counts(edges, symmetrize_edges=not args.directed)

    out.write.format(args.format).mode("overwrite").save(args.output)

    if res is not None:
        _write_metrics(args, res)


def _write_metrics(args, res) -> None:
    lines = [h.to_json() for h in res.history]
    if args.metrics_output:
        with open(args.metrics_output, "w") as f:
            f.write("\n".join(lines) + "\n")
    summary = {
        "algorithm": args.algorithm,
        "supersteps": res.supersteps,
        "converged": res.converged,
        "total_wall_sec": round(sum(h.wall_sec for h in res.history), 3),
    }
    print(json.dumps(summary), file=sys.stderr)


if __name__ == "__main__":
    main()
