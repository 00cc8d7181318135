"""Deduplication operators over a documents table.

Four tiers, scale-ordered:

- exact_duplicates: hash-groupBy on md5(text) — one shuffle, fully
  JVM-side; the only correct-at-any-scale baseline.
- ngram_jaccard_pairs: word-3-gram shingles -> inverted-index self-join
  on shingle -> exact Jaccard. Exact, SQL-expressible (oracle-gated),
  O(sum of posting-list^2) — viable when shingles are selective.
- minhash_lsh_pairs: MinHash signatures (vectorized pandas UDF, Arrow
  batches) banded into LSH buckets; only bucket-mates are compared.
  The 100 TB path: candidate generation is a groupBy on (band, bucket)
  instead of a quadratic join.
- simhash64: 64-bit SimHash fingerprint per doc (vectorized); near-dups
  = small Hamming distance, joinable on rotated prefixes.

MinHash/SimHash parameters are seeded deterministically (md5-derived
constants, linkgraph.phash) so runs are reproducible across sessions
and cluster sizes. The production default (``portable=False``) hashes
shingles with JVM xxhash64 — the fast path a real deployment runs. The
``portable=True`` mode swaps in md5-digit shingle hashes whose every
arithmetic step is exact signed-64-bit integer math reproducible in
DuckDB, so the full signature/banding/estimation pipeline is
verifiable by the driver's SQL oracle (same expressions, same
constants embedded as literals; the ``__spark_entry__`` query wrappers
pin portable=True for exactly that). The distributed shape —
bucketing, banding, partitioning, shuffle count — is identical in both
modes, and tests/test_pipeline.py asserts pair-recall equivalence
between them on planted near-dups.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..phash import md5_digits_spark_sql, md5_randint

# MinHash universe: arithmetic stays below 2^62, exact in int64 /
# BIGINT in numpy, Spark, and DuckDB alike (no overflow wrapping to
# diverge on): shingle hash x < 2^31, a,b < 2^31-1, so a*x+b < 2^62.
MINHASH_P = (1 << 31) - 1  # Mersenne prime 2^31-1
_SHINGLE_DIGITS = 7  # 28-bit md5-digit shingle hash (< 2^31)


def _scratch_buf(scratch: dict, name: str, n: int, dtype) -> np.ndarray:
    """Grow-only per-worker scratch array (flat, length >= n).

    Pandas-UDF closures live for the life of the (reused) Python
    worker, so multi-MB per-batch temporaries can be allocated once
    and recycled. Allocating them fresh per batch exceeds glibc's mmap
    threshold, and the resulting mmap/munmap + page-zero traffic from
    32 concurrent workers serializes in the kernel's page allocator
    (measured: >70% of worker CPU was system time)."""
    arr = scratch.get(name)
    if arr is None or arr.size < n or arr.dtype != dtype:
        arr = np.empty(max(n, 1), dtype=dtype)
        scratch[name] = arr
    return arr


def _hash_params(n: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """n pairwise-independent-ish (a, b) with a odd in [1, P), b in
    [0, P) — md5-derived so the SAME literals land in the oracle SQL."""
    a = np.array(
        [md5_randint("minhash-a", i, 1, MINHASH_P, seed) | 1 for i in range(n)],
        dtype=np.int64,
    )
    b = np.array(
        [md5_randint("minhash-b", i, 0, MINHASH_P, seed) for i in range(n)],
        dtype=np.int64,
    )
    return a, b


def _token_hash_shingles_sql(n: int, fold: str | None = None) -> str:
    """Production-mode shingle hashes computed from per-token hashes
    (apply over a ``th`` = ``transform(toks, t -> xxhash64(t))``
    column): each token is hashed ONCE, and a shingle's identity is the
    xxhash64 of its n token hashes — no shingle string is ever
    concatenated or hashed. The concat_ws spelling allocates ~60
    shingle strings per doc and re-hashes every token n times inside
    interpreted transform() lambdas; at 2M docs that was the dominant
    JVM cost of the signatures stage. 64-bit collisions are negligible.
    ``fold`` optionally wraps the hash (e.g. ``pmod({h}, P)``)."""
    args = ", ".join(f"element_at(th, i + {k})" for k in range(n))
    h = f"xxhash64({args})"
    if fold:
        h = fold.format(h=h)
    return (
        # if(): sequence(1, 0) DESCENDS in Spark ([1,0]) and element_at/
        # slice then hit index 0 — short docs need an explicit empty array
        f"array_distinct(transform("
        f" if(size(th) < {n}, array(), sequence(1, size(th) - {n - 1})),"
        f" i -> {h}))"
    )


_TOKEN_HASHES = "transform(toks, t -> xxhash64(t))"


def _shingle_hash_sql(shingles_sql: str, portable: bool) -> str:
    """Array of per-shingle integer hashes. Portable: 28-bit md5-digit
    (value-identical in DuckDB, which spells the extraction with
    position-weighted digit terms; Spark uses one native conv() call —
    md5 referenced once, so it evaluates once); fast: xxhash64 folded
    into [0, 2^31)."""
    if portable:
        return (
            f"transform({shingles_sql},"
            f" s -> {md5_digits_spark_sql('md5(s)', _SHINGLE_DIGITS)})"
        )
    return f"transform({shingles_sql}, s -> pmod(xxhash64(s), {MINHASH_P}))"


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """(text_hash, n_docs, min_doc_id) per distinct content."""
    return (
        docs.select("doc_id", F.md5("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
    )


# if(): sequence(1, 0) DESCENDS in Spark ([1,0]) and slice then hits
# index 0 — docs shorter than the shingle width need an explicit empty array
_SHINGLES_FROM_TOKS = (
    "array_distinct(transform("
    " if(size(toks) < {n}, array(), sequence(1, size(toks) - {m})),"
    " i -> concat_ws(' ', slice(toks, i, {n}))))"
)


def _tokenized(docs: DataFrame) -> DataFrame:
    """(doc_id, toks) — tokenization hoisted into its own projection.
    Inlining split(text) into the shingle transform would re-split the
    document once PER SHINGLE: higher-order-function lambdas get no
    subexpression elimination, and the multi-reference non-cheap
    projection blocks CollapseProject from inlining this one."""
    return docs.select("doc_id", F.split("text", " ").alias("toks"))


def _shingles_col(n: int = 3):
    """Distinct word n-gram shingles over a ``toks`` column (JVM-side;
    apply to :func:`_tokenized` output)."""
    return F.expr(_SHINGLES_FROM_TOKS.format(m=n - 1, n=n))


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.4
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (doc_a < doc_b, jaccard>=t).

    Inverted-index formulation: explode distinct shingles, self-join on
    shingle (only docs sharing a shingle are ever compared), count
    intersections, compute |A∪B| = |A|+|B|-|A∩B|.
    """
    sh = (
        _tokenized(docs)
        .select("doc_id", F.explode(_shingles_col(n)).alias("sh"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    b = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def duplicated_ngram_stats(
    docs: DataFrame, n: int = 5, portable: bool = False
) -> DataFrame:
    """Per-document exact duplicated-n-gram coverage — the corpus-level
    repeated-substring audit of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"): for every document,
    how many of its DISTINCT token n-grams also occur in at least one
    other document, plus the covered fraction. High ``dup_fraction``
    docs are boilerplate/templated/mirrored content that near-dup
    tiers (MinHash/SimHash, doc-granular) under-report because only a
    SPAN is shared, not the whole document.

    Shape (the 100 TB design): inverted-index counting — one explode
    of the distinct-shingle arrays, one partial/final count keyed by
    shingle identity (map-side combine absorbs boilerplate
    heavy-hitter shingles), one equi-join of the exploded relation
    back to the >=2 shingle set, one per-doc aggregate. Two shuffles
    total, both keyed, text never shuffles (only shingle identities),
    nothing collected.

    Shingle identity: production (``portable=False``) is the
    xxhash64-of-token-hashes fold (``_token_hash_shingles_sql`` — one
    hash per token, no shingle strings materialized; 64-bit collisions
    negligible); portable mode uses the exact shingle STRING so a
    DuckDB oracle reproduces counts with zero collision/hash-porting
    concerns.

    Returns DF(doc_id, n_ngrams, n_duplicated, dup_fraction) — one row
    per document; docs shorter than n tokens report (0, 0, NULL).
    """
    toks = _tokenized(docs)
    if portable:
        ex = toks.select("doc_id", F.explode(_shingles_col(n)).alias("h"))
    else:
        ex = toks.selectExpr("doc_id", f"{_TOKEN_HASHES} AS th").selectExpr(
            "doc_id", f"explode({_token_hash_shingles_sql(n)}) AS h"
        )
    hc = ex.groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
    per = (
        ex.join(hc, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum((F.col("nd") >= 2).cast("long")).alias("n_duplicated"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
            F.coalesce("n_duplicated", F.lit(0)).alias("n_duplicated"),
            F.when(
                F.coalesce("n_ngrams", F.lit(0)) == 0, F.lit(None).cast("double")
            )
            .otherwise(
                F.round(
                    F.col("n_duplicated").cast("double")
                    / F.col("n_ngrams").cast("double"),
                    6,
                )
            )
            .alias("dup_fraction"),
        )
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """(doc_id, sig array<bigint>) MinHash signatures.

    Shingle extraction and shingle hashing stay JVM-side; the per-doc
    min over the hash family runs as an Arrow-batched pandas UDF (one
    numpy matrix op per batch — no per-row Python loops over hash
    functions). sig_i = min over shingles of (a_i*x + b_i) mod 2^31-1 —
    exact int64 arithmetic, reproduced verbatim by the DuckDB oracle
    (portable mode). Empty docs get the all-P sentinel signature.
    """
    a, b = _hash_params(num_hashes, seed)
    P = np.int64(MINHASH_P)
    scratch: dict = {}

    @pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(shingle_hashes: pd.Series) -> pd.Series:
        # ragged-batch vectorization: one flat shingle-hash array for
        # the whole Arrow batch, per-row mins via minimum.reduceat —
        # no per-row Python. Hash functions are processed in chunks of
        # 8 through ONE preallocated (total_shingles x 8) buffer with
        # in-place multiply/add/mod: the naive `(h*a + b) % P` spelling
        # allocates 3 multi-MB temporaries per chunk, and at 32
        # concurrent workers the resulting mmap/page-zero churn turns
        # 90% of worker CPU into kernel time (measured: the signatures
        # stage ran 3x SLOWER on 32 cores than 8 before this).
        lens = np.array(
            [0 if hs is None else len(hs) for hs in shingle_hashes], dtype=np.int64
        )
        out = np.full((len(lens), num_hashes), MINHASH_P, dtype=np.int64)
        nonempty = lens > 0
        if nonempty.any():
            total = int(lens.sum())
            h_flat = _scratch_buf(scratch, "h", total, np.int64)[:total]
            np.concatenate(
                [
                    np.asarray(hs, dtype=np.int64)
                    for hs in shingle_hashes
                    if hs is not None and len(hs) > 0
                ],
                out=h_flat,
            )
            h_all = h_flat[:, None]
            offsets = np.zeros(int(nonempty.sum()), dtype=np.int64)
            offsets[1:] = np.cumsum(lens[nonempty])[:-1]
            mins = np.empty((len(offsets), num_hashes), dtype=np.int64)
            m = _scratch_buf(scratch, "m", total * 8, np.int64)[
                : total * 8
            ].reshape(total, 8)
            for c0 in range(0, num_hashes, 8):
                c1 = min(c0 + 8, num_hashes)
                mv = m[:, : c1 - c0]
                np.multiply(h_all, a[c0:c1], out=mv)
                np.add(mv, b[c0:c1], out=mv)
                np.remainder(mv, P, out=mv)
                np.minimum.reduceat(mv, offsets, axis=0, out=mins[:, c0:c1])
            out[nonempty] = mins
        return pd.Series(list(out))

    if portable:
        shingles = _SHINGLES_FROM_TOKS.format(m=shingle_n - 1, n=shingle_n)
        hashed = _tokenized(docs).select(
            "doc_id", F.expr(_shingle_hash_sql(shingles, True)).alias("sh_hashes")
        )
    else:
        hashed = (
            _tokenized(docs)
            .select("doc_id", F.expr(_TOKEN_HASHES).alias("th"))
            .select(
                "doc_id",
                F.expr(
                    _token_hash_shingles_sql(
                        shingle_n, f"pmod({{h}}, {MINHASH_P})"
                    )
                ).alias("sh_hashes"),
            )
        )
    return hashed.select("doc_id", sig_udf("sh_hashes").alias("sig"))


def bucket_candidate_pairs(
    banded: DataFrame,
    keys: list[str],
    id_col: str,
    max_bucket_size: int | None,
    out_a: str = "doc_a",
    out_b: str = "doc_b",
) -> DataFrame:
    """Distinct unordered candidate pairs (out_a < out_b) of ids sharing
    a bucket, in ONE shuffle: bucket members collect into their
    ``keys`` group and pairs generate map-side from each group's id
    array. The join spelling (cap agg + semi-join + bucket self-join)
    shuffles the O(rows x bands) banded frame three times.

    ``max_bucket_size`` skips oversized bucket groups: at web scale a
    single pathological bucket (boilerplate that hashes identically
    across millions of pages, the all-zeros band of empty docs) makes
    pair generation quadratic IN ONE TASK, and its members carry almost
    no near-dup signal per pair (they collide with everything) —
    standard practice is to skip them and let the other bands /
    verification recover real pairs. Pass ``None`` to disable (exact
    small-scale runs and the recall tests do)."""
    cap = max_bucket_size if max_bucket_size is not None else (1 << 62)
    bucket_ids = (
        banded.groupBy(*keys)
        .agg(F.collect_list(id_col).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= F.lit(cap)))
    )
    pair_expr = (
        "flatten(transform(sequence(1, size(ids) - 1), i ->"
        " transform(slice(ids, i + 1, size(ids) - i), y ->"
        "  struct(least(element_at(ids, i), y) AS a,"
        "         greatest(element_at(ids, i), y) AS b))))"
    )
    return (
        bucket_ids.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select(F.col("p.a").alias(out_a), F.col("p.b").alias(out_b))
        .distinct()
    )


def _lsh_candidates(
    docs: DataFrame,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    seed: int,
    max_bucket_size: int | None,
    portable: bool,
) -> tuple[DataFrame, DataFrame]:
    """Shared LSH candidate generation: returns (sigs PERSISTED,
    cands(doc_a, doc_b)). Caller owns ``sigs.unpersist()`` (or leaves
    it to eviction — both driver queries run bounded corpora)."""
    rows_per_band = num_hashes // bands
    band_key = (
        "md5(concat_ws(',', slice(sig, bd*{r}+1, {r})))"
        if portable
        else "xxhash64(concat_ws(',', slice(sig, bd*{r}+1, {r})))"
    ).format(r=rows_per_band)
    # the signature frame feeds a diamond (banding -> bucket-size cap +
    # both sides of the self-join + the estimate joins): persist it or
    # the shingle+UDF pipeline re-executes per reference.
    # O(docs * num_hashes * 8B) — ~0.5% of corpus text size, spills to
    # disk if it doesn't fit.
    sigs = minhash_signatures(
        docs, num_hashes, shingle_n, seed, portable=portable
    ).persist()
    # Banding carries ONLY (doc_id, band, bucket) — never the signature
    # array. Shipping sig through the band explode multiplies shuffle
    # bytes by bands * sig_size (measured 8->32-core scaling efficiency
    # 0.30 at 2M docs: the job was shuffle-bandwidth-bound); signatures
    # rejoin from the persisted frame only for the distinct candidate
    # pairs, which are O(near-dups), not O(docs * bands).
    # Docs with NO shingles (shorter than shingle_n) carry the all-P
    # sentinel signature: banding them would bucket every such doc
    # together (pairwise Jaccard is undefined on empty shingle sets, and
    # at web scale they form the worst pathological bucket). Signature
    # values are mod P, so sig[1] = P identifies the sentinel exactly.
    banded = sigs.filter(F.expr(f"element_at(sig, 1) <> {MINHASH_P}")).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}),"
                f" bd -> struct(bd AS band, {band_key} AS bucket))"
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    cands = bucket_candidate_pairs(
        banded, ["band", "bucket"], "doc_id", max_bucket_size
    )
    return sigs, cands


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.4,
    seed: int = 42,
    max_bucket_size: int | None = 100_000,
    portable: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding, verified with the
    signature-estimated Jaccard.

    (doc_a, doc_b, est_jaccard) — pairs sharing at least one LSH band
    bucket with estimated Jaccard >= threshold. Bucket join is a
    groupBy on (band, bucket_hash): linear in corpus size, never
    quadratic — this is the 100 TB dedup path. Buckets larger than
    ``max_bucket_size`` are skipped (see :func:`bucket_candidate_pairs`).
    Portable mode keys buckets by md5 of the band's signature slice
    (DuckDB-reproducible); fast mode by xxhash64 of the same string.
    """
    sigs, cands = _lsh_candidates(
        docs, num_hashes, bands, shingle_n, seed, max_bucket_size, portable
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),"
        " 0, (acc, v) -> acc + v)"
    ) / F.lit(float(num_hashes))
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def minhash_verified_pairs(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket_size: int | None = 100_000,
    portable: bool = False,
) -> DataFrame:
    """The production dedup decision tier: LSH candidates verified with
    the EXACT shingle-set Jaccard (not the signature estimate).

    (doc_a, doc_b, jaccard) — pairs sharing an LSH band bucket whose
    exact Jaccard over distinct word ``shingle_n``-gram STRING sets is
    >= threshold. The estimate in :func:`minhash_lsh_pairs` has
    stddev ~ 1/sqrt(num_hashes) (~0.125 at 64 hashes) — too noisy to
    drive deletions near the cut; standard practice (and the reference
    pipeline's contract for removal decisions) is estimate-to-find,
    exact-to-decide.

    Scale shape: candidate generation is the linear one-shuffle LSH
    path; the exact verification joins the shingle-set frame ONLY for
    candidate ids (two hash joins on doc id), so string sets are
    shipped for O(near-dups) docs, never the corpus. ``array_intersect``
    / ``array_union`` on the two sorted-distinct arrays is JVM-side,
    per-pair O(|A| + |B|). No hash approximation in the verdict, so
    ``portable`` affects candidate RECALL only — the reported jaccard
    values are hash-free in both modes (what lets the DuckDB oracle
    gate this with full hash match).
    """
    sigs, cands = _lsh_candidates(
        docs, num_hashes, bands, shingle_n, seed, max_bucket_size, portable
    )
    shsets = _tokenized(docs).select(
        "doc_id",
        F.expr(
            _SHINGLES_FROM_TOKS.format(n=shingle_n, m=shingle_n - 1)
        ).alias("shset"),
    )
    sa = shsets.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("sh_a"))
    sb = shsets.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    out = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        # candidates never include shingle-less docs (the sentinel
        # filter in _lsh_candidates keeps them out of banding), so
        # union >= 1 and the divide is safe
        .withColumn(
            "jaccard",
            F.round(inter.cast("double") / union.cast("double"), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def simhash64(
    docs: DataFrame, shingle_n: int = 2, seed: int = 42, portable: bool = False
) -> DataFrame:
    """(doc_id, simhash BIGINT) — 64-bit SimHash over word n-grams.

    Shingle hashing is JVM-side (two independent 32-bit md5-digit
    halves in portable mode — integer-exact in DuckDB, so the oracle
    reproduces the fingerprint bit for bit; xxhash64 split hi/lo in
    fast mode); the bit-vote accumulation is a vectorized pandas UDF
    (unpackbits matrix sum per Arrow batch). Bit b of the fingerprint
    is set iff strictly more than half the shingles have bit b set
    (bits 0-31 from the lo half, 32-63 from the hi half); the uint64
    word reinterprets as two's-complement BIGINT.
    """

    scratch: dict = {}

    @pandas_udf(T.LongType())
    def simhash_udf(hi_hashes: pd.Series, lo_hashes: pd.Series) -> pd.Series:
        # ragged-batch vectorization: unpack all shingle hashes of the
        # Arrow batch into one (total, 64) bit matrix, per-row bit votes
        # via add.reduceat, then vectorized word assembly.
        lens = np.array(
            [0 if hs is None else len(hs) for hs in hi_hashes], dtype=np.int64
        )
        out = np.zeros(len(lens), dtype=np.int64)
        nonempty = lens > 0
        if nonempty.any():
            hi_all = np.concatenate(
                [
                    np.asarray(hs, dtype=np.uint64)
                    for hs in hi_hashes
                    if hs is not None and len(hs) > 0
                ]
            )
            lo_all = np.concatenate(
                [
                    np.asarray(hs, dtype=np.uint64)
                    for hs in lo_hashes
                    if hs is not None and len(hs) > 0
                ]
            )
            h_all = (hi_all << np.uint64(32)) | lo_all
            h_col = h_all[:, None]
            offsets = np.zeros(int(nonempty.sum()), dtype=np.int64)
            offsets[1:] = np.cumsum(lens[nonempty])[:-1]
            # bit unpack in chunks of 16 through one preallocated
            # buffer with in-place shift/and — the one-shot
            # `(h[:,None] >> arange(64)) & 1` spelling allocates two
            # (total x 64) uint64 temporaries (~600 MB per 10k-doc
            # batch), whose mmap/page-zero churn serializes 32
            # concurrent workers in the kernel (same pathology as the
            # MinHash kernel above).
            total = h_all.shape[0]
            sums = np.empty((len(offsets), 64), dtype=np.uint64)
            buf = _scratch_buf(scratch, "bits", total * 16, np.uint64)[
                : total * 16
            ].reshape(total, 16)
            for b0 in range(0, 64, 16):
                shifts = np.arange(b0, b0 + 16, dtype=np.uint64)
                np.right_shift(h_col, shifts, out=buf)
                np.bitwise_and(buf, np.uint64(1), out=buf)
                np.add.reduceat(buf, offsets, axis=0, out=sums[:, b0 : b0 + 16])
            votes = sums.astype(np.int64) * 2 - lens[nonempty][:, None]
            words = (
                (votes > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)
            ).sum(axis=1, dtype=np.uint64)
            out[nonempty] = words.astype(np.int64)
        return pd.Series(out)

    shingles = _SHINGLES_FROM_TOKS.format(m=shingle_n - 1, n=shingle_n)
    toked = _tokenized(docs)
    if portable:
        # one md5 per shingle, both 32-bit halves extracted from the
        # same hex array (hx stays a separate projection: transform/md5
        # is non-cheap, so CollapseProject won't inline it twice)
        hexed = toked.select(
            "doc_id", F.expr(f"transform({shingles}, s -> md5(s))").alias("hx")
        )
        hashed = hexed.select(
            "doc_id",
            F.expr(f"transform(hx, h -> {md5_digits_spark_sql('h', 8, 0)})").alias("hs_hi"),
            F.expr(f"transform(hx, h -> {md5_digits_spark_sql('h', 8, 8)})").alias("hs_lo"),
        )
    else:
        # shingle hashes from per-token hashes (no shingle strings, see
        # _token_hash_shingles_sql), hi/lo split from the same array
        # (hx multi-referenced -> stays its own projection)
        hexed = (
            toked.select("doc_id", F.expr(_TOKEN_HASHES).alias("th"))
            .select(
                "doc_id",
                F.expr(_token_hash_shingles_sql(shingle_n)).alias("hx"),
            )
        )
        hashed = hexed.select(
            "doc_id",
            F.expr("transform(hx, h -> shiftrightunsigned(h, 32))").alias("hs_hi"),
            F.expr("transform(hx, h -> h & 4294967295)").alias("hs_lo"),
        )
    return hashed.select("doc_id", simhash_udf("hs_hi", "hs_lo").alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    max_distance: int = 3,
    shingle_n: int = 2,
    seed: int = 42,
    fingerprints: DataFrame | None = None,
    max_bucket_size: int | None = 100_000,
    portable: bool = False,
) -> DataFrame:
    """(doc_a, doc_b, hamming) — near-duplicate pairs within Hamming
    distance ``max_distance`` over 64-bit SimHash fingerprints.

    Banded multi-index with the pigeonhole guarantee: the fingerprint
    splits into ``max_distance + 1`` disjoint bit bands, and two
    fingerprints within ``max_distance`` differing bits must agree
    EXACTLY on at least one band. Candidates are therefore a bucketed
    equi-join on (band, band_bits) — linear in corpus size, never
    all-pairs (the 100 TB shape, same as the MinHash-LSH band join) —
    and each candidate is verified exactly with
    ``bit_count(a XOR b) <= max_distance``, so recall is 100% and
    precision is exact, unlike probabilistic LSH banding.

    ``fingerprints`` short-circuits recomputation when a
    (doc_id, simhash) frame already exists. Band buckets larger than
    ``max_bucket_size`` are skipped (see :func:`bucket_candidate_pairs`; with the
    cap active, recall is exact only for pairs outside skipped
    buckets — at web scale a skipped bucket is near-certainly
    boilerplate whose members are exact dups handled by the exact
    tier).
    """
    bands = max_distance + 1
    width = 64 // bands
    # 16 bytes/doc, feeds a diamond (cap + both join sides): persist an
    # internally-computed fingerprint frame so the shingle-hash pipeline
    # runs once; caller-supplied frames keep the caller's storage policy
    fp = (
        fingerprints
        if fingerprints is not None
        else simhash64(docs, shingle_n=shingle_n, seed=seed, portable=portable).persist()
    )
    band_structs = []
    for b in range(bands):
        w = width + (64 % bands if b == bands - 1 else 0)
        mask = (1 << w) - 1
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned("simhash", b * width)
                .bitwiseAND(F.lit(mask))
                .alias("bits"),
            )
        )
    banded = fp.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bits").alias("bits"))
    # One shuffle: bucket members (doc_id, simhash — 16 bytes) collect
    # into their (band, bits) group, the same-size cap as bucket_candidate_pairs
    # applies on the grouped array, and candidate pairs generate
    # map-side from the sorted member list (sort_array orders by
    # doc_id, so doc_a < doc_b by construction). The join spelling
    # shuffled the O(docs x bands) banded frame three times (cap agg +
    # cap semi-join + bucket self-join).
    cap = max_bucket_size if max_bucket_size is not None else (1 << 62)
    bucket_ms = (
        banded.groupBy("band", "bits")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "simhash"))).alias("ms"))
        .filter((F.size("ms") >= 2) & (F.size("ms") <= F.lit(cap)))
    )
    pair_expr = (
        "flatten(transform(sequence(1, size(ms) - 1), i ->"
        " transform(slice(ms, i + 1, size(ms) - i), y ->"
        "  struct(element_at(ms, i).doc_id AS doc_a, y.doc_id AS doc_b,"
        "         element_at(ms, i).simhash AS sim_a, y.simhash AS sim_b))))"
    )
    return (
        bucket_ms.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.sim_a", "p.sim_b")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))),
        )
        .filter(F.col("hamming") <= max_distance)
        .select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
    )


def dedup_clusters(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.4,
    seed: int = 42,
    max_bucket_size: int | None = 100_000,
    portable: bool = False,
) -> DataFrame:
    """(doc_id, cluster, is_representative) — near-duplicate clusters:
    MinHash-LSH pair edges closed transitively by min-label connected
    components (pipeline tier composed with the graph engine's CC
    superstep loop). ``cluster`` is the minimum doc_id of the
    component; ``is_representative`` (0/1) marks the one doc per
    cluster a dedup pass would keep. Exact duplicates need no separate
    tier here: identical texts produce identical signatures, land in
    every band bucket together, and estimate Jaccard 1.0.

    The 100 TB shape is the sum of its parts: the pair generation is
    the linear banded bucket join (never all-pairs), and the closure is
    the delta-messaging CC loop over the pair graph — which is tiny
    relative to the corpus (only docs with a near-dup partner have
    edges; everything else short-circuits to a singleton in
    superstep 1).
    """
    pairs = minhash_lsh_pairs(
        docs,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
        seed=seed,
        max_bucket_size=max_bucket_size,
        portable=portable,
    )
    from ..algorithms.cc import connected_components

    # CC references its edge frame several times (partition sizing,
    # adjacency build, first-superstep neighbor-min): persist the pair
    # edges so the banded join pipeline runs once. Tiny — one row per
    # near-dup pair.
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).persist()
    comp, _ = connected_components(
        edges,
        symmetrize_edges=True,
        vertices=docs.select(F.col("doc_id").alias("id")),
    )
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster"),
        (F.col("id") == F.col("component")).cast("int").alias("is_representative"),
    )


def canonical_docs(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.4,
    seed: int = 42,
    max_bucket_size: int | None = 100_000,
    portable: bool = False,
) -> DataFrame:
    """(cluster, kept_doc_id, q10, cluster_size) — the dedup pass that
    actually DROPS documents: one surviving row per near-duplicate
    cluster, the survivor chosen by highest integer quality key
    (:func:`~linkgraph.pipeline.textstats.quality_key`), ties to the
    lowest doc_id. Composes :func:`dedup_clusters` (MinHash-LSH pairs
    closed by the CC loop) with quality-aware representative selection
    — the reference's dedup story keeps min-id; a training-data
    pipeline keeps the best-quality copy.

    100 TB shape: clustering is the linear banded bucket join + the
    delta CC loop (see dedup_clusters); selection adds ONE
    cluster-keyed shuffle. The quality key never touches the text a
    second time per step — it's computed in the same single scan that
    feeds clustering, and the per-cluster argmax is a partial-aggregate
    (max_by) rather than a window sort, so the exchange carries one row
    per (partition, cluster).
    """
    from .textstats import quality_key

    clusters = dedup_clusters(
        docs,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
        seed=seed,
        max_bucket_size=max_bucket_size,
        portable=portable,
    )
    keyed = clusters.join(quality_key(docs), "doc_id")
    # argmax by (q10 desc, doc_id asc) as a single aggregate: pack the
    # ordering into one BIGINT sort key (q10 is 0..10, doc_id >= 0) so
    # min_by suffices and the agg combines map-side
    sort_key = ((F.lit(10) - F.col("q10")).cast("long") * F.lit(2**53) + F.col("doc_id"))
    return (
        keyed.withColumn("_sk", sort_key)
        .groupBy("cluster")
        .agg(
            F.min_by("doc_id", "_sk").alias("kept_doc_id"),
            F.min_by("q10", "_sk").alias("q10"),
            F.count(F.lit(1)).alias("cluster_size"),
        )
    )


def duplicate_spans(
    docs: DataFrame, n: int = 8, min_docs: int = 2, portable: bool = False
) -> DataFrame:
    """Cross-document duplicated TEXT SPANS — the span-granular
    companion of :func:`duplicated_ngram_stats`: instead of per-doc
    coverage counts, emit the actual maximal token ranges whose every
    word n-gram also occurs in at least ``min_docs`` distinct documents
    (itself included; min_docs=2 = "shared with at least one other
    doc"). These ranges are what a Lee-et-al-style substring dedup
    pass CUTS from the corpus, and what doc-granular MinHash/SimHash
    cannot see when only a boilerplate span is shared.

    Returns DF(doc_id, span_start, span_end, n_grams): 1-based token
    positions, ``span_end = last duplicated shingle position + n - 1``
    (the span covers whole tokens), ``n_grams`` = duplicated shingle
    positions merged into the span. Maximality comes from the
    gaps-and-islands grouping (pos - row_number), the same run
    detector as :func:`~linkgraph.pipeline.textstats.
    ngram_decontaminate`.

    100 TB shape: positional shingles explode once (text itself never
    shuffles — only 8-byte xxhash64 shingle identities in production
    mode); the shingle document-frequency table is a partial/final
    count keyed by shingle identity whose map-side combine absorbs
    boilerplate heavy hitters; the >=min_docs set equi-joins back
    (left-semi, identity-keyed), and ONLY matched positions — O(actual
    duplication) rows — reach the per-doc run window. ``portable=True``
    keeps raw shingle strings so the DuckDB oracle replays verbatim.

    Approximation note (production mode): with ``portable=False`` the
    shingle identity is the raw 64-bit xxhash64 value with no
    verification, the same hash-identity trade the other near-dup
    tiers make. A collision between two DISTINCT shingles merges
    their document-frequency counts, which can push a shingle past
    ``min_docs`` and emit a false duplicated span. Expected collisions
    among U distinct shingles ~= U^2 / 2^65 (birthday bound): ~0.003
    at U=1e8 and ~27 at U=1e10 — per corpus, not per document — so at
    100 TB the false-span rate is vanishingly small relative to real
    duplication. ``portable=True`` keeps exact shingle strings and has
    no such approximation (the driver oracle pins that mode).
    """
    shingle = F.expr(
        f"transform(if(size(toks) < {n}, array(), sequence(1, size(toks) - {n - 1})),"
        f" i -> concat_ws(' ', slice(toks, i, {n})))"
    )
    key = (lambda c: F.col(c)) if portable else (lambda c: F.xxhash64(F.col(c)))
    corpus = (
        _tokenized(docs)
        .select("doc_id", F.posexplode(shingle).alias("pos", "sh"))
        .select("doc_id", (F.col("pos") + 1).alias("pos"), key("sh").alias("k"))
    )
    dup_keys = (
        corpus.select("doc_id", "k")
        .distinct()
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("k")
    )
    matched = corpus.join(dup_keys, "k", "left_semi")
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        matched.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (n - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(
            "doc_id",
            F.col("span_start").cast("long"),
            F.col("span_end").cast("long"),
            F.col("n_grams").cast("long"),
        )
    )


def cut_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame | None = None,
    n: int = 8,
    min_docs: int = 2,
    portable: bool = False,
) -> DataFrame:
    """The substring-dedup CUT: rewrite the corpus with the
    cross-document duplicated spans found by :func:`duplicate_spans`
    removed — the operator a Lee-et-al-style training-data pipeline
    actually runs after span discovery (the reference analogue is the
    mutation channel's delete path, SURVEY §3.9 /
    pregelix PregelixJob mutation API). Every token whose 1-based
    position falls inside ANY span for its document is dropped; the
    survivors are re-joined in original order. Overlapping spans (runs
    closer than ``n`` tokens overlap after the ``+ n - 1`` widening)
    need no pre-merge — coverage is checked per token, so the result
    is identical either way.

    Returns DF(doc_id, text, n_tokens, n_tokens_cut): the rewritten
    text (empty string when the whole doc was duplicated), the
    original token count, and how many tokens were removed. Every doc
    appears exactly once; span-free docs pass through unchanged with
    ``n_tokens_cut = 0``.

    Pass a precomputed ``spans`` frame (doc_id, span_start, span_end)
    to compose with a cached discovery pass; otherwise
    :func:`duplicate_spans` runs with the given ``n`` / ``min_docs`` /
    ``portable``.

    100 TB shape: the span table is O(actual duplication) rows of 3
    longs and aggregates to one small sorted struct-array per
    afflicted doc (ONE doc_id-keyed shuffle of spans only); the text
    then meets it in a single doc_id equi-join — the corpus itself
    crosses the wire once, exactly as in any by-doc_id operator — and
    the cut is a JVM higher-order ``filter`` with a positional
    ``exists`` over the per-doc span array (no Python, no per-token
    explode of the text). Docs are independent, so the plan is
    embarrassingly parallel after the join.
    """
    if spans is None:
        spans = duplicate_spans(docs, n=n, min_docs=min_docs, portable=portable)
    per_doc = spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"), F.col("span_end").alias("e")
                )
            )
        ).alias("_spans")
    )
    keep_token = lambda tok, i: F.when(
        F.col("_spans").isNull(), F.lit(True)
    ).otherwise(
        ~F.exists(
            "_spans", lambda sp: (i + 1 >= sp["s"]) & (i + 1 <= sp["e"])
        )
    )
    # _kept is multi-referenced and non-cheap, which blocks
    # CollapseProject from inlining it twice (see _tokenized)
    return (
        _tokenized(docs)
        .join(per_doc, "doc_id", "left")
        .withColumn("_kept", F.filter("toks", keep_token))
        .select(
            "doc_id",
            F.concat_ws(" ", "_kept").alias("text"),
            F.size("toks").cast("long").alias("n_tokens"),
            (F.size("toks") - F.size("_kept")).cast("long").alias("n_tokens_cut"),
        )
    )
