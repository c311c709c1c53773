"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (100 TB): every variant is shuffle-partitioned on content-derived
keys — never a cross join, never a driver-side collect.

- exact:       hash-groupBy on md5(text); one shuffle on the digest.
- MinHash+LSH: shingle -> k minhashes -> band keys -> self-join per band
               bucket (the classic band-bucket shuffle); candidate pairs are
               verified with true token-set Jaccard before emission.
- SimHash:     per-token hashes -> 32-bit signature (map-side aggregate HOF,
               zero shuffle) -> 4 byte-band bucket joins -> Hamming filter.

To make near-duplicate detection *observable* on the driver's synthetic
corpus (whose 500 documents are all distinct), operators that mine pairs run
over an augmented corpus: every 10th document is re-added with doc_id+1_000_000
and two junk tokens appended — a ~97%-Jaccard near-duplicate. The DuckDB
oracle applies the identical augmentation, so results remain exactly
comparable. Hashes are the cross-engine polynomial hash from
``functions.text`` (reference's custom-operator extension analog:
tests/custom_extension_codec.rs:160-264).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import DUCK_POLY_HASH, DUCK_TOKENS, poly_hash, tokens

# MinHash parameters: sig_i = min over shingles of (A[i]*h + B[i]) mod P.
P = 2_147_483_647
A = (2, 3, 5, 7, 11, 13, 17, 19)
B = (1, 2, 3, 4, 5, 6, 7, 8)
N_SIG = 8
BANDS = ((0, 1), (2, 3), (4, 5), (6, 7))
JACCARD_MIN_PPM = 700_000
SIMHASH_BITS = 32
HAMMING_MAX = 3
AUG_OFFSET = 1_000_000
AUG_SUFFIX = " zz yy"
# 3-token shingle hash combined from per-token hashes (one char-level fold
# per token, not per shingle — ~k-fold cheaper and identical in the oracle).
SHINGLE_MULT = 1_000_003
MOD = 1_000_000_007
# Frequent-bucket suppression: an LSH band bucket larger than this is a
# degenerate hub (low-entropy corpora produce them); comparing inside it is
# quadratic and useless for dedup, so it is skipped. The oracle applies the
# identical cap, and at cluster scale this is also the skew-join guard.
MAX_BAND_BUCKET = 64
# Skew fixture (minhash_pairs_skew): HUB_COPIES exact replicas of one
# document, injected so every band bucket they share exceeds MAX_BAND_BUCKET
# and the cap is forced to FIRE on real data — the dormant-at-test-scale
# guard proven against the oracle, not just present in the plan.
HUB_OFFSET = 2_000_000
HUB_COPIES = 96
# Content-defined chunking (chunk_overlap): a token ends a chunk when its
# hash % CHUNK_DIV == 0 -> expected chunk length CHUNK_DIV tokens, and chunk
# boundaries depend only on content, never on offsets — the property that
# makes passage-level dedup catch a duplicated paragraph pasted into an
# otherwise-different document (whole-doc MinHash cannot).
CHUNK_DIV = 16
# Exact-substring span dedup (ngram_span_dedup): the duplicated-passage unit
# is a SPAN_K-token n-gram; maximal runs of cross-document-duplicated n-grams
# are merged into spans (Lee et al. 2021, "Deduplicating Training Data Makes
# Language Models Better" — the suffix-array pass re-expressed relationally).
SPAN_K = 8
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS
# algorithm): k-gram unit and guarantee-window width. Every window of
# WINNOW_W consecutive k-gram hashes contributes its rightmost minimum, so
# any shared substring of >= WINNOW_W + WINNOW_K - 1 tokens is GUARANTEED
# to share a fingerprint (the property random sampling lacks).
WINNOW_K = 4
WINNOW_W = 4


def _corpus(spark: SparkSession, sf_dir: str, rebalance: bool = True) -> DataFrame:
    """documents + near-duplicate augmentation (see module docstring).

    Rebalanced to cluster parallelism by default: the synthetic table is one
    parquet row group (= one scan task), and most consumers run HOF-heavy
    per-row compute that must fan out. Pass ``rebalance=False`` when the
    first downstream operator is itself a shuffle (e.g. a groupBy) — the
    extra exchange would be pure overhead."""
    from ..sources.tables import rebalance_narrow_scan

    path = f"{sf_dir}/documents.parquet"
    # NULL-text docs are excluded EXPLICITLY (round-12 review): a NULL
    # token list propagates to all-NULL signatures on Spark while the
    # oracle's list_prepend(0, NULL) fallback fabricates a REAL signature
    # ([B_i]) — a cross-engine divergence on the first NULL document; a
    # document with no text has nothing to dedup on any path
    docs = (
        spark.read.parquet(path)
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull())
    )
    if rebalance:
        docs = rebalance_narrow_scan(docs, path)
    return docs.unionAll(_augment(docs))


def _augment(docs: DataFrame) -> DataFrame:
    """Near-duplicate copies of every 10th document — ONE statement of the
    observability augmentation both ``_corpus`` and ``_incremental_sides``
    must apply identically (cross-engine parity rides on it matching the
    ``_DUCK_CORPUS`` / incremental oracles' UNION branch exactly)."""
    return docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + AUG_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(AUG_SUFFIX)).alias("text"),
    )


_DUCK_CORPUS = f"""corpus AS (
    SELECT doc_id, text FROM documents WHERE text IS NOT NULL
    UNION ALL
    SELECT doc_id + {AUG_OFFSET} AS doc_id, text || '{AUG_SUFFIX}' AS text
    FROM documents WHERE doc_id % 10 = 0 AND text IS NOT NULL
)"""


def _jaccard_ppm(a: str, b: str):
    """The ONE spelling of exact-Jaccard verification in ppm over two
    distinct-token array columns (round-14 review: four hand-copied
    spellings risked drift in load-bearing cross-engine arithmetic).
    greatest(., 1): ANSI-safe — 0/0 and 0/1 both floor to 0 and drop at
    the JACCARD_MIN_PPM filter."""
    return F.floor(
        F.lit(1e6)
        * F.size(F.array_intersect(a, b))
        / F.greatest(F.size(F.array_union(a, b)), F.lit(1))
    ).cast("long")


def _cap_buckets(df: DataFrame, keys: list[str], cap: int = MAX_BAND_BUCKET) -> DataFrame:
    """Drop rows in oversized LSH buckets (frequent-bucket suppression).

    The *oversized* bucket list is tiny by construction (hubs are rare), so
    it broadcasts; the big side is filtered with a map-side anti-join and
    never shuffles toward the hubs."""
    bad = df.groupBy(*keys).count().filter(F.col("count") > cap).drop("count")
    return df.join(F.broadcast(bad), keys, "left_anti")


# --------------------------------------------------------------------- #
# exact dedup
# --------------------------------------------------------------------- #

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content digest: groups of identical text, keeping the
    smallest doc_id. Single hash-partitioned shuffle on the digest (no
    rebalance: the groupBy is the fan-out)."""
    return (
        _corpus(spark, sf_dir, rebalance=False)
        .groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(
            F.min("doc_id").cast("long").alias("keep_doc_id"),
            F.count("*").cast("long").alias("n_copies"),
        )
        .orderBy("text_hash")
    )


# --------------------------------------------------------------------- #
# MinHash + LSH
# --------------------------------------------------------------------- #

def _with_signature(df: DataFrame) -> DataFrame:
    """doc -> (toks, sig[8]) in one pass.

    Per-token char-level hashes are computed once; 3-token shingle hashes are
    integer combinations of them; each permuted minimum is
    ``array_min(transform(_sh, h -> (a*h+b) % P))`` — eight independent
    scalar reductions. Everything is one map-side expression chain per row —
    no shuffle, no recomputation of the char fold per permutation (the
    shingle column is referenced 8x, which keeps CollapseProject from
    inlining it into each consumer).

    Formulation benched at sf0.1 (local[32], best of 3 checkpoint runs):
    single ``aggregate`` folding an 8-slot array accumulator 0.99s (allocates
    a fresh array per shingle step), eight scalar ``aggregate`` folds 0.83s,
    eight ``array_min(transform(...))`` 0.73s — the winner, bit-identical
    minima (every ``(a*h+b) % P`` is ``< P``, the old fold's init). An
    explode + groupBy-MIN reshape (the simhash trick) is 68s here: the
    ``toks`` join-back array would ride every exploded shingle row."""
    df = df.withColumn("_toks", tokens(F.col("text")))
    df = df.withColumn("_th", F.transform(F.col("_toks"), poly_hash))
    th, n = F.col("_th"), F.size(F.col("_th"))
    shingle_hashes = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: (
                (F.element_at(th, i) * SHINGLE_MULT + F.element_at(th, i + 1)) % MOD
                * SHINGLE_MULT
                + F.element_at(th, i + 2)
            )
            % MOD,
        ),
    ).otherwise(
        # short docs: one whole-document shingle hash
        F.array(
            F.aggregate(
                th, F.lit(0).cast("long"), lambda acc, h: (acc * SHINGLE_MULT + h) % MOD
            )
        )
    )
    df = df.withColumn("_sh", shingle_hashes)
    sig = F.array(
        *[
            F.array_min(F.transform(F.col("_sh"), lambda h: (F.lit(a) * h + F.lit(b)) % P))
            for a, b in zip(A, B)
        ]
    )
    return (
        df.withColumn("toks", F.array_distinct(F.col("_toks")))
        .withColumn("sig", sig)
        .drop("_toks", "_th", "_sh")
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = _with_signature(_corpus(spark, sf_dir))
    cols = [F.col("sig")[i].alias(f"sig{i}") for i in range(N_SIG)]
    return sigs.select("doc_id", *cols).orderBy("doc_id")


def _band_rows(sigs: DataFrame) -> DataFrame:
    """Slim LSH band rows: only (doc_id, band_idx, x, y) travels through the
    band shuffle; token arrays are joined back per *pair*, not per band."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.col("sig")[lo].alias("x"),
                        F.col("sig")[hi].alias("y"),
                    )
                    for i, (lo, hi) in enumerate(BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.*")


def minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate generation + exact-Jaccard verification.

    Band keys shuffle-partition the corpus; only documents sharing a band
    bucket are compared (no cross join — the standard scale-out LSH plan)."""
    return _mine_minhash_pairs(_corpus(spark, sf_dir))


def _mine_minhash_pairs(corpus: DataFrame, ordered: bool = True) -> DataFrame:
    """Signature -> capped band rows -> bucket self-join -> Jaccard verify,
    over any ``(doc_id, text)`` frame — shared by the standard and the
    skew-fixture pair miners so the capped plan is the only plan.

    ``ordered=False`` drops the declared queries' presentation sort for
    INTERNAL consumers (the CC pair graph, corpus_pipeline's drop set):
    they checkpoint or aggregate the pairs immediately, so the checkpoint
    boundary would otherwise EXECUTE the range exchange + its sampling
    pass for rows whose order is then discarded (optimization round 14,
    guide §2.4 — "an orderBy used only to make output deterministic")."""
    # localCheckpoint, not persist: three consumers (both self-join sides +
    # the bucket-cap count) race a lazily-populated cache and recompute the
    # HOF chain concurrently on miss; eager checkpoint materializes once.
    sigs = _with_signature(corpus).select("doc_id", "toks", "sig").localCheckpoint()
    bands = _cap_buckets(_band_rows(sigs), ["band_idx", "x", "y"])
    a, b2 = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b2,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.x") == F.col("b.x"))
            & (F.col("a.y") == F.col("b.y"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    toks = sigs.select("doc_id", "toks")
    cand = (
        cand.join(toks.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("toks", "toks_a"), "doc_a")
        .join(toks.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("toks", "toks_b"), "doc_b")
    )
    jaccard = _jaccard_ppm("toks_a", "toks_b")
    out = cand.select("doc_a", "doc_b", jaccard.alias("jaccard_ppm")).filter(
        F.col("jaccard_ppm") >= JACCARD_MIN_PPM
    )
    return out.orderBy("doc_a", "doc_b") if ordered else out


def _skew_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`_corpus` plus a degenerate hub: ``HUB_COPIES`` exact replicas
    of the smallest doc_id's text (ids ``HUB_OFFSET + i``). All replicas
    share identical MinHash signatures, so every band bucket they land in
    holds > ``MAX_BAND_BUCKET`` rows — the low-entropy-corpus shape
    (boilerplate pages, empty docs) that makes uncapped LSH quadratic."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    seed = docs.orderBy("doc_id").limit(1).select("text")
    hub = (
        spark.range(HUB_COPIES)
        .select((F.col("id") + HUB_OFFSET).alias("doc_id"))
        .crossJoin(F.broadcast(seed))
        .select("doc_id", "text")
    )
    return _corpus(spark, sf_dir).unionAll(hub)


def minhash_pairs_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`minhash_dedup_pairs` over the hub-skewed corpus — the
    frequent-bucket cap (``_cap_buckets`` / ``MAX_BAND_BUCKET``) is forced
    ON by the data, so a green driver row proves the skew guard produces
    verified answers (hub buckets suppressed on BOTH engines; every
    non-hub near-dup pair still mined). This is the 100 TB contract under
    test: one hot key must cost pairs inside its own bucket, never the
    ability to answer the rest of the corpus."""
    return _mine_minhash_pairs(_skew_corpus(spark, sf_dir))


def chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level overlap via content-defined chunking: per document, the
    fraction of its chunks that also appear in an earlier (smaller-doc_id)
    document. Output ``(doc_id, n_chunks, n_shared, overlap_ppm)``.

    A token ends its chunk when ``poly_hash(token) % CHUNK_DIV == 0``, so
    chunk boundaries are a pure function of content — the same passage
    produces the same chunks at ANY offset in any document (the rsync/CDC
    boundary idea on tokens). A chunk is the order-sensitive hash fold of
    its token hashes; equal folds = equal passages.

    Scale shape: one doc_id exchange carries the exploded tokens into the
    per-doc boundary prefix-sum window and the per-chunk fold (the
    ``event_sequences`` pattern — windows and aggregates share the ONE
    partitioning); the chunk-owner table then shuffles on chunk_hash, whose
    cardinality is corpus_tokens / CHUNK_DIV. Nothing is quadratic: a
    passage duplicated across D documents costs D chunk rows, not D^2
    comparisons. Per-task state is bounded by the LARGEST DOCUMENT's tokens
    (the per-doc window/fold holds one document at a time — the same
    max-group bound as event_sequences' per-user state), not by the corpus.
    Over the augmented corpus, every copy overlaps its
    original ~fully (tail-token chunk boundaries may differ), while
    distinct documents stay near zero."""
    return chunk_overlap_frame(_corpus(spark, sf_dir))


def chunk_overlap_frame(docs: DataFrame) -> DataFrame:
    """Frame-level chunker/overlap kernel over ``(doc_id, text)`` — see
    :func:`chunk_overlap`. Exposed separately so the offset-independence
    property (the point of content-defined boundaries) is testable on
    constructed documents."""
    th = F.transform(tokens(F.col("text")), poly_hash)
    toks = docs.select("doc_id", F.posexplode(th).alias("pos", "h"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # chunk id = number of boundary tokens strictly BEFORE this one (a
    # boundary token closes its own chunk)
    chunked = toks.withColumn(
        "chunk_id",
        F.coalesce(
            F.sum((F.col("h") % CHUNK_DIV == 0).cast("long")).over(w), F.lit(0)
        ),
    )
    chunks = (
        chunked.groupBy("doc_id", "chunk_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "h"))).alias("ph"))
        .select(
            "doc_id",
            F.aggregate(
                F.col("ph"),
                F.lit(0).cast("long"),
                lambda acc, s: (acc * SHINGLE_MULT + s["h"]) % MOD,
            ).alias("chunk_hash"),
        )
        # two consumers (the owners aggregate and the per-doc join); the
        # eager checkpoint runs the tokenize->explode->window->fold chain
        # ONCE and both read its (doc_id, chunk_hash) output — tokens/DIV
        # rows, far smaller than the exploded tokens it replaces (the
        # top_terms tf-checkpoint pattern).
        .localCheckpoint()
    )
    owners = chunks.groupBy("chunk_hash").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        chunks.join(owners, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum((F.col("first_doc") < F.col("doc_id")).cast("long")).alias("n_shared"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_chunks",
        "n_shared",
        F.floor(F.lit(1e6) * F.col("n_shared") / F.greatest("n_chunks", F.lit(1)))
        .cast("long")
        .alias("overlap_ppm"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------- #
# exact-substring span dedup (duplicated n-gram runs, merged to spans)
# --------------------------------------------------------------------- #

def ngram_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span detection: for every document, the maximal token
    spans formed by merging overlapping-or-adjacent duplicated n-gram
    positions (gap <= SPAN_K). INVARIANT (stated precisely, round-12
    review — the old wording overclaimed): every TOKEN in a reported span
    is covered by at least one SPAN_K-token n-gram that also occurs in
    another document; interior n-gram START positions between two merged
    hits need not themselves be duplicated, so a consumer cutting only
    provably-duplicated text should cut the n-gram HITS, not the merged
    span. Output ``(doc_id, span_start, span_end, n_dup_ngrams)`` with
    token-index bounds (0-based, inclusive) and the count of duplicated
    n-gram positions the span merges.

    This is the relational form of the suffix-array exact-substring pass of
    Lee et al. 2021 (public paper): instead of one machine building a suffix
    array over the concatenated corpus, every document emits its n-gram
    hashes with positions, cross-document duplicates are found with ONE
    aggregation on the n-gram hash, and overlapping/adjacent duplicated
    positions are merged per document with a gaps-and-islands window —
    each step an operation Spark already distributes. Differs from
    ``chunk_overlap`` (which scores documents by shared content-defined
    chunks) by reporting exact sub-document SPANS at n-gram granularity —
    the unit you'd actually cut out of a training document.

    Scale shape: n-gram position table is linear in corpus tokens; the
    duplicate test is a map-side-combinable min/max groupBy on gh (never a
    self-join, never quadratic in occurrences); the join back to positions
    is gh-keyed with AQE skew handling; span merging partitions by doc_id so
    per-task window state is bounded by the largest single document. The
    position table feeds two consumers (owner aggregate + join back), so it
    is checkpointed once — the chunk_overlap two-consumer pattern.
    Matching is by 64-bit-range polynomial hash, as in the paper's
    implementation; hash collisions are identical on both engines."""
    return ngram_span_frame(_corpus(spark, sf_dir))


def _token_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, th): per-token polynomial hashes as one array per document
    — the char-level fold is the expensive tokenize step, so consumers that
    need it twice checkpoint THIS frame."""
    return docs.select(
        "doc_id", F.transform(tokens(F.col("text")), poly_hash).alias("th")
    )


def _ngram_positions(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, gh): the order-sensitive hash of every k-token n-gram
    with its 0-based start position. Linear in corpus tokens; shared by the
    span-dedup and winnowing kernels."""
    return _ngram_positions_from_th(_token_hashes(docs), k)


def _ngram_positions_from_th(th_df: DataFrame, k: int) -> DataFrame:
    return (
        th_df
        .filter(F.size("th") >= k)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("th") - k),
                    lambda i: F.struct(
                        i.cast("long").alias("pos"),
                        F.aggregate(
                            F.slice("th", i + 1, k),
                            F.lit(0).cast("long"),
                            lambda acc, h: (acc * SHINGLE_MULT + h) % MOD,
                        ).alias("gh"),
                    ),
                )
            ).alias("pg"),
        )
        .select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.gh").alias("gh"))
    )


def ngram_span_frame(docs: DataFrame) -> DataFrame:
    """Frame-level span kernel over ``(doc_id, text)`` — see
    :func:`ngram_span_dedup`. Exposed separately so span maximality and
    merge semantics are testable on constructed documents."""
    # two consumers (cross-doc owner aggregate + position join-back):
    # checkpoint so the tokenize->fold chain runs once
    pos = _ngram_positions(docs, SPAN_K).localCheckpoint()
    dup = (
        pos.groupBy("gh")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .filter(F.col("mn") != F.col("mx"))
        .select("gh")
    )
    hits = pos.join(dup, "gh").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = (
        hits.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "new_island",
            (F.col("prev").isNull() | (F.col("pos") - F.col("prev") > SPAN_K)).cast(
                "long"
            ),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + SPAN_K - 1).alias("span_end"),
            F.count("*").cast("long").alias("n_dup_ngrams"),
        )
        .select("doc_id", "span_start", "span_end", "n_dup_ngrams")
        .orderBy("doc_id", "span_start")
    )


# --------------------------------------------------------------------- #
# span scrubbing: cut duplicated spans, keep the first occurrence
# --------------------------------------------------------------------- #

def span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of exact-substring dedup (Lee et al. 2021 cut the
    duplicated spans out of the training text; :func:`ngram_span_dedup` is
    the detect step): drop every token covered by a duplicated n-gram whose
    FIRST corpus occurrence lies in an earlier document, so exactly one
    copy of every duplicated passage survives (in its smallest-doc_id
    document). Output ``(doc_id, n_tokens, n_dropped, scrubbed_fp)`` with
    ``scrubbed_fp`` the order-sensitive fold of the KEPT token hashes —
    byte-level proof of the surviving text without shipping it.

    Scale shape: same linear position table as the detect step
    (checkpointed once for its two consumers); ownership is a
    map-side-combinable MIN per n-gram hash (``first_doc < doc_id`` alone
    implies cross-document duplication — no distinct-count needed); token
    coverage explodes each foreign hit into K token indices (constant
    fan-out) and collapses straight into per-doc dropped-position SETS —
    only DROPPED positions ever shuffle, never the full token stream. The
    verdict is one doc-row left join of the checkpointed token-hash arrays
    against those sets; the fingerprint folds ``array_except`` (hash-set
    membership, O(tokens)) of the kept positions map-side. Per-task state
    is bounded by the largest document's tokens."""
    return span_scrub_frame(_corpus(spark, sf_dir))


def span_scrub_frame(docs: DataFrame) -> DataFrame:
    # the char-level tokenize fold is needed by BOTH the n-gram positions
    # and the final token stream — checkpoint it once (2 corpus scans +
    # 2 tokenize passes otherwise; measured 4 scans -> 2 in the plan)
    th_df = _token_hashes(docs).localCheckpoint()
    pos = _ngram_positions_from_th(th_df, SPAN_K).localCheckpoint()
    owners = pos.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    # Per-doc dropped-position sets: collect_set both dedups overlapping
    # span coverage AND collapses to one row per doc in a single shuffle —
    # only dup-covered positions travel, never the corpus token stream.
    # (The previous shape posexploded EVERY token into the join and rebuilt
    # per-doc arrays with collect_list + array_sort: 1.52s vs 0.86s here at
    # sf0.1, identical rows.)
    drop_sets = (
        pos.join(owners, "gh")
        .filter(F.col("first_doc") < F.col("doc_id"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + SPAN_K - 1)
            ).alias("t"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("t").alias("drop"))
    )
    # size(th) > 0 keeps parity with the exploded shape, which emitted no
    # row for a token-less document.
    j = th_df.filter(F.size("th") > 0).join(drop_sets, "doc_id", "left")
    drop = F.coalesce(F.col("drop"), F.array().cast("array<bigint>"))
    # array_except is hash-set membership (O(tokens + drops)) and preserves
    # the first argument's ascending order, so the fold visits kept tokens
    # in position order — the exact fold the oracle replays.
    kept = F.array_except(
        F.sequence(F.lit(0).cast("long"), F.size("th").cast("long") - 1), drop
    )
    fp = F.aggregate(
        kept,
        F.lit(0).cast("long"),
        lambda acc, i: (
            acc * SHINGLE_MULT + F.element_at(F.col("th"), (i + 1).cast("int"))
        )
        % MOD,
    )
    return j.select(
        "doc_id",
        F.size("th").cast("long").alias("n_tokens"),
        F.size(drop).cast("long").alias("n_dropped"),
        fp.alias("scrubbed_fp"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------- #
# winnowing fingerprints (rightmost window minima, MOSS)
# --------------------------------------------------------------------- #

def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken SIGMOD'03,
    public paper): from each window of :data:`WINNOW_W` consecutive
    :data:`WINNOW_K`-gram hashes, select the RIGHTMOST MINIMUM; the union of
    selections is the fingerprint set. Output ``(doc_id, pos, fp)``.

    Why this selection and not hash%p sampling: winnowing guarantees any
    match of length >= W + K - 1 tokens shares a fingerprint, with expected
    density 2/(W+1) — the local-algorithm property MOSS is built on.

    The windowed-scan spelling: "rightmost minimum of SOME full window
    containing q" decomposes into fixed frames — q is selected iff for some
    split j, the j hashes AFTER q are all > h(q) (strict: rightmost wins
    ties) and the W-1-j hashes BEFORE q are all >= h(q), with the window in
    bounds. min-over-frame aggregates for 2(W-1) fixed frames share ONE
    (doc_id, pos) window partitioning — one exchange for the whole
    selection, per-task state bounded by the largest document, zero joins
    and zero per-window explosion (a naive windows-as-rows spelling costs
    W rows per position). Hypothesis drives this against a direct
    rightmost-min-per-window Python replica, which is what proves the
    frame decomposition."""
    return winnow_frame(_corpus(spark, sf_dir))


def winnow_frame(docs: DataFrame) -> DataFrame:
    from functools import reduce as _reduce

    pos = _ngram_positions(docs, WINNOW_K)
    wp = Window.partitionBy("doc_id").orderBy("pos")
    c = pos.withColumn("n", F.count("*").over(Window.partitionBy("doc_id")))
    for i in range(1, WINNOW_W):
        c = c.withColumn(f"p{i}", F.min("gh").over(wp.rowsBetween(-i, -1)))
        c = c.withColumn(f"f{i}", F.min("gh").over(wp.rowsBetween(1, i)))
    h = F.col("gh")
    conds = []
    for j in range(WINNOW_W):
        pcnt = WINNOW_W - 1 - j
        cond = F.lit(True)
        if pcnt:
            cond = cond & (F.col("pos") >= pcnt) & (F.col(f"p{pcnt}") >= h)
        if j:
            cond = cond & (F.col("pos") <= F.col("n") - 1 - j) & (
                F.col(f"f{j}") > h
            )
        conds.append(cond)
    return (
        c.filter(_reduce(lambda a, b: a | b, conds))
        .select("doc_id", "pos", h.alias("fp"))
        .orderBy("doc_id", "pos")
    )


# --------------------------------------------------------------------- #
# incremental dedup: new batch vs existing corpus index
# --------------------------------------------------------------------- #

def _incremental_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(index, incoming) split of the documents table.

    index    = even-doc_id half (the already-ingested historical corpus);
    incoming = odd docs (genuinely new) + near-dup copies of every 10th doc
               (whose sources are all index members — the observable
               duplicates, same augmentation rule as ``_corpus``)."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull())  # the _corpus NULL contract
    )
    index = docs.filter(F.col("doc_id") % 2 == 0)
    # != 0, not == 1: C-style modulo gives -1 for negative odd ids, which
    # would land a document in NEITHER side — silently never indexed and
    # never dedup-checked, identically in both spellings (round-12 review)
    incoming = docs.filter(F.col("doc_id") % 2 != 0).unionAll(_augment(docs))
    return index, incoming


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup check of a NEW document batch against an existing corpus
    index — the daily-ingest shape of dedup at 100 TB, where re-mining all
    pairs over the full corpus per batch (``minhash_dedup_pairs``) would be
    quadratic in days.

    Scale design: the historical corpus is the big side and NEVER shuffles.
    Incoming band rows (a daily batch, orders of magnitude smaller than the
    corpus) broadcast to the index band scan — a map-side hash join — and
    the surviving candidate pairs (bounded by |incoming| x BANDS x bucket
    cap) broadcast again to fetch index token sets for exact-Jaccard
    verification. Index band buckets are capped like the self-join path
    (hub suppression = skew guard). In production the index signatures/bands
    are a persisted table (built once per corpus and kept under the CDC
    feed — :func:`minhash_index_upsert`; reference analog: the reference
    re-reads its listing tables per query, ``tests/tpch.rs:149-161``); here
    they are recomputed from parquet, which adds scans but no shuffles.

    Returns one row per incoming document: (doc_id, is_dup)."""
    index, incoming = _incremental_sides(spark, sf_dir)
    # idx_sigs is deliberately NOT checkpointed despite two consumers:
    # column pruning gives each consumer a DISJOINT slice (the band stage
    # prunes away toks, the token fetch prunes away sig), so the "two"
    # computations sum to ~one full one with zero materialization — an
    # eager checkpoint forces the full (toks, sig) row to disk and benched
    # SLOWER (2.05s vs 1.74s at sf0.1). Contrast _mine_minhash_pairs,
    # whose three consumers all need the same columns.
    idx_sigs = _with_signature(index).select("doc_id", "toks", "sig")
    inc_sigs = (
        _with_signature(incoming).select("doc_id", "toks", "sig").localCheckpoint()
    )
    idx_bands = _cap_buckets(_band_rows(idx_sigs), ["band_idx", "x", "y"])
    inc_bands = _band_rows(inc_sigs)
    cand = (
        idx_bands.alias("i")
        .join(
            F.broadcast(inc_bands.alias("n")),
            (F.col("i.band_idx") == F.col("n.band_idx"))
            & (F.col("i.x") == F.col("n.x"))
            & (F.col("i.y") == F.col("n.y")),
        )
        .select(F.col("i.doc_id").alias("idx_id"), F.col("n.doc_id").alias("new_id"))
        .dropDuplicates(["idx_id", "new_id"])
    )
    pairs = (
        idx_sigs.select(F.col("doc_id").alias("idx_id"), F.col("toks").alias("toks_i"))
        .join(F.broadcast(cand), "idx_id")
        .join(
            F.broadcast(
                inc_sigs.select(F.col("doc_id").alias("new_id"), F.col("toks").alias("toks_n"))
            ),
            "new_id",
        )
    )
    jaccard = _jaccard_ppm("toks_i", "toks_n")
    dups = (
        pairs.select("new_id", jaccard.alias("jaccard_ppm"))
        .filter(F.col("jaccard_ppm") >= JACCARD_MIN_PPM)
        .select("new_id")
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        inc_sigs.select("doc_id")
        .join(F.broadcast(dups.withColumnRenamed("new_id", "doc_id")), "doc_id", "left")
        .select("doc_id", F.coalesce("is_dup", F.lit(0)).cast("long").alias("is_dup"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------- #
# SimHash
# --------------------------------------------------------------------- #

def _with_simhash(df: DataFrame) -> DataFrame:
    """(doc_id, simhash): 32-bit SimHash from per-token hashes via explode +
    two-phase hash aggregation.

    The aggregate formulation keeps every operator inside whole-stage codegen
    (explode -> 32 SUMs, partial map-side + final after a doc_id shuffle of
    already-reduced rows — one slim row per doc per map partition). The
    previous map-only formulation — a per-row ``aggregate`` folding a 32-slot
    array accumulator through ``zip_with`` — evaluated interpreted lambda
    expressions allocating two arrays per token and benched 2-4x slower
    despite avoiding the shuffle; the shuffle is the cheap part (32 longs per
    doc). Matches the DuckDB oracle's unnest + GROUP BY shape exactly,
    including dropping token-less documents."""
    hs = df.select(
        "doc_id", F.explode(F.transform(tokens(F.col("text")), poly_hash)).alias("h")
    )
    sums = hs.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    simhash = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
        simhash = term if simhash is None else simhash + term
    return sums.select("doc_id", simhash.alias("simhash"))


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _with_simhash(_corpus(spark, sf_dir)).select("doc_id", "simhash").orderBy("doc_id")


def simhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-band LSH over the 32-bit SimHash: a candidate pair must agree on
    at least one of the 4 signature bytes (a Hamming-<=3 pair always does, by
    pigeonhole); survivors have Hamming distance <= HAMMING_MAX.

    One exploded band table + one self-join on (band_idx, k) — not four
    separate joins — so the whole candidate stage is a single shuffle."""
    # Tiny signature table (2 ints/doc) read by both join sides and the
    # bucket-cap pass: eager localCheckpoint so the shuffle-bearing
    # signature aggregation runs exactly once (see minhash_dedup_pairs).
    sigs = _with_simhash(_corpus(spark, sf_dir)).select("doc_id", "simhash").localCheckpoint()
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        (F.shiftright("simhash", 8 * i) % 256).alias("k"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.*")
    bands = _cap_buckets(bands, ["band_idx", "k"])
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.k") == F.col("b.k"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.select("doc_a", "doc_b", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= HAMMING_MAX)
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------- #
# n-gram Jaccard (direct verification pass over cheap candidate keys)
# --------------------------------------------------------------------- #

def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs bucketed by (first token, token-count band) — a cheap
    deterministic blocking key — then exact distinct-token Jaccard."""
    c = _corpus(spark, sf_dir)
    toks = tokens(F.col("text"))
    # Tokenization is the expensive part and the keyed table is read three
    # times (bucket-cap count + both self-join sides): checkpoint the tokenized
    # form once instead of re-splitting the text per consumer.
    keyed = c.select(
        "doc_id",
        F.array_distinct(toks).alias("toks"),
        F.get(toks, 0).alias("k1"),  # NULL (not ANSI error) on empty toks
        F.floor(F.size(toks) / 10).alias("k2"),
    ).localCheckpoint()
    keyed = _cap_buckets(keyed, ["k1", "k2"])
    a, b = keyed.alias("a"), keyed.alias("b")
    jaccard = _jaccard_ppm("a.toks", "b.toks")
    return (
        a.join(
            b,
            (F.col("a.k1") == F.col("b.k1"))
            & (F.col("a.k2") == F.col("b.k2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jaccard.alias("jaccard_ppm"),
        )
        .filter(F.col("jaccard_ppm") >= JACCARD_MIN_PPM)
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------- #
# duplicate-cluster resolution (connected components over mined pairs)
# --------------------------------------------------------------------- #

# Near-dup clusters have tiny graph diameter (pairs share content, so the
# similarity graph is locally dense); min-label propagation converges in
# O(diameter) rounds. The cap is a LOUD safety valve, not an expected
# bound: hitting it raises ExecutionError instead of returning silently
# wrong labels (review fix, round 11 — a diameter-17 path under the old
# cap of 16 exited one hop short with no error). 64 covers any graph the
# property suite can draw (diameter <= node count <= 41) with margin;
# genuinely high-diameter graphs belong on connected_components_star.
MAX_CC_ITERS = 64


def _unconverged(kind: str, iters: int):
    from ..errors import ExecutionError

    return ExecutionError(
        f"{kind} did not converge within {iters} changing rounds "
        f"({iters + 1} executed, incl. the budgeted fixpoint-observation "
        "round) — the result would be silently wrong cluster labels; raise "
        "the round cap, or use connected_components_star for high-diameter "
        "graphs"
    )


def connected_components(pairs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) for every node of an undirected pair graph, with
    ``cluster_id`` = min doc_id reachable from the node.

    Distributed min-label propagation: per round, every node takes the min of
    its own label and its neighbors' labels — one hash-shuffle join per round
    keyed on doc_id, no driver-side graph. Labels only ever decrease, so
    convergence is detected by an O(1)-row aggregate (label-sum fixpoint)
    rather than a change-counting join. Each round's label table is
    ``localCheckpoint``ed (eager): iterative DataFrames MUST truncate lineage
    per round — persist() alone is not enough, because each round's plan
    embeds the previous round's plan and any cache miss (or cascading
    invalidation when the previous round is evicted) re-executes the entire
    chain, which measured *exponential* (2s -> 23s -> 228s per round) before
    the checkpoint. At 100 TB the same loop holds (edges are pairs-sized,
    labels one row per *duplicated* doc — both far smaller than the corpus);
    graphs with large diameter should use :func:`connected_components_star`
    (the O(log n)-round large-star/small-star variant, same join
    primitive). The loop runs on the caller's session: AQE coalesces its
    pairs-sized shuffles to the minimum partition size at any session
    width. Non-convergence at :data:`MAX_CC_ITERS` raises instead of
    returning wrong labels."""
    pairs = pairs.select("doc_a", "doc_b").localCheckpoint()
    edges = pairs.unionAll(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    # eager=False everywhere in this loop: the convergence aggregate is
    # the action that forces (and persists) each round's checkpoint, so
    # every round costs ONE driver job instead of two — the lineage
    # truncation the eager checkpoint existed for is identical
    # (optimization round 14, guide §1.2: fewer driver actions)
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
    converged = prev_sum is None  # empty graph is trivially converged
    # +1: the sum fixpoint is OBSERVED one round after labels stabilize
    # (equality needs a no-change round), so the cap must budget that
    # extra observation round — MAX_CC_ITERS bounds CHANGING rounds,
    # and a graph converging in exactly MAX_CC_ITERS of them must not
    # raise a false non-convergence
    for _ in range(MAX_CC_ITERS + 1):
        if converged:
            break
        nbr_min = (
            edges.join(labels.withColumnRenamed("doc_id", "doc_a"), "doc_a")
            .groupBy(F.col("doc_b").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        labels = (
            labels.join(nbr_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id")).alias(
                    "cluster_id"
                ),
            )
            .localCheckpoint(eager=False)
        )
        new_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
        if new_sum == prev_sum:
            converged = True
        prev_sum = new_sum
    if not converged:
        raise _unconverged("connected_components (min-label propagation)", MAX_CC_ITERS)
    return labels


def connected_components_star(pairs: DataFrame, max_iters: int = 32) -> DataFrame:
    """Alternating large-star/small-star connected components — the
    O(log n)-round alternative to :func:`connected_components` for
    HIGH-DIAMETER graphs (a path of length d needs d rounds of min-label
    propagation but only O(log d) star rounds, because both phases perform
    pointer-doubling-style contractions).

    Public algorithm (Kiveris et al., *Connected Components in MapReduce and
    Beyond*, SoCC'14):

    - large-star: every node u connects each STRICTLY LARGER neighbor to the
      minimum of its closed neighborhood min(Γ(u) ∪ {u});
    - small-star: edges oriented large→small; every node u connects each
      smaller-or-equal neighbor (and itself) to that minimum.

    Both phases are one groupBy + one join keyed on the star center — the
    identical shuffle primitive as the label-propagation loop, with the same
    per-round ``localCheckpoint`` lineage truncation, on the caller's
    session. Convergence is an O(1)-row checksum fixpoint (edge count +
    order-insensitive xxhash bit-xor), not a diffing join. Same output contract
    as :func:`connected_components`: (doc_id, cluster_id = min reachable
    doc_id) for every node of the input pair graph. Exhausting ``max_iters``
    before the checksum fixpoint raises — at that point L is not yet a set
    of stars, and the final nodes-join would emit duplicate doc_ids with
    conflicting cluster_ids."""
    pairs = pairs.select("doc_a", "doc_b").localCheckpoint()
    # eager=False: nodes is consumed once by the final join (forced
    # there), and each L checkpoint is forced by the round's checksum
    # aggregate — one driver job per round instead of two, identical
    # lineage truncation (optimization round 14, guide §1.2)
    nodes = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # edge list L, self-loops dropped; (u, v) is undirected
    L = (
        pairs.filter(F.col("doc_a") != F.col("doc_b"))
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _checksum(df: DataFrame) -> tuple:
        # bit_xor, not sum: order-insensitive, exact on the distinct edge
        # set, and cannot overflow (a sum of 64-bit hashes trips ANSI
        # overflow checking on externally-built sessions)
        row = df.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = _checksum(L)
    converged = prev[0] == 0  # edgeless graph is trivially converged
    # +1 observation round, same as connected_components: the checksum
    # fixpoint is seen one round after the edge set stabilizes, so
    # max_iters bounds CHANGING rounds rather than observations
    for _ in range(max_iters + 1):
        if converged:
            break
        # ---- large-star: neighbors v > u attach to min(Γ(u) ∪ {u})
        nbrs = L.unionAll(L.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        L = (
            nbrs.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star: orient large→small, attach Γ⁻(u) ∪ {u} to min
        D = L.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        m2 = D.groupBy("u").agg(F.min("v").alias("m"))
        L = (
            D.join(m2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(m2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        cur = _checksum(L)
        if cur == prev:
            converged = True
        prev = cur
    if not converged:
        raise _unconverged("connected_components_star", max_iters)
    # at fixpoint L is a set of stars (node -> component minimum);
    # isolated nodes (only ever in self-pairs) label themselves
    return nodes.join(
        L.select(F.col("u").alias("doc_id"), F.col("v").alias("parent")),
        "doc_id",
        "left",
    ).select(
        "doc_id", F.coalesce("parent", "doc_id").alias("cluster_id")
    )


def clear_pair_graph_memo() -> None:
    """No-op: no pair graph outlives the query that mined it, so there is
    nothing to clear. Kept only for ``perfbench/run.py``, which still calls
    it between queries; it goes away together with that call."""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve mined near-dup pairs into duplicate clusters: each document in
    any pair gets ``cluster_id`` = min doc_id reachable through the pair
    graph, plus an ``is_canonical`` keep-flag — the final step of a dedup
    cascade (pair mining says *what matches*; clustering says *what to keep*,
    and everything with ``is_canonical = false`` is the drop set)."""
    pairs = _mine_minhash_pairs(_corpus(spark, sf_dir), ordered=False)
    return _cluster_output(connected_components(pairs))


def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_clusters` computed with the O(log n)-round
    large-star/small-star CC instead of min-label propagation — identical
    output contract (and the identical DuckDB oracle), declared as its own
    query so the driver verifies BOTH clustering algorithms end-to-end."""
    pairs = _mine_minhash_pairs(_corpus(spark, sf_dir), ordered=False)
    return _cluster_output(connected_components_star(pairs))


def _cluster_output(labels: DataFrame) -> DataFrame:
    return labels.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------- #
# persisted MinHash LSH band index, rebuilt under a CDC batch
# (minhash_index_upsert, staged round 14)
# --------------------------------------------------------------------- #
# The dedup-tier twin of the ANN lifecycle (similarity.ivf_pq_index_build
# -> ivf_pq_index_upsert; the reference's register-then-query shape,
# benchmarks/src/tpch/run.rs:311-345, extended in time):
# :func:`dedup_incremental` proves the probe SHAPE (incoming bands
# broadcast onto the historical corpus) but recomputes the index
# signatures from parquet on every run; at 100 TB the banded signature
# index is a PERSISTED table refreshed under the daily CDC feed. Layout:
# hive-partitioned by (band_idx, bucket) where
# bucket = (x*31 + y) % MINHASH_INDEX_BUCKETS — a pure integer function
# of the band key (x, y in [0, P): non-negative, so both engines agree on
# the modulus), which gives the two properties the maintain/serve split
# rides on: (a) a band bucket (band_idx, x, y) lives wholly inside ONE
# partition directory, so frequent-bucket cap counts are correct over any
# partition-pruned scan; (b) a probe's partition set is computable from
# its OWN band rows before the index scan is planned, so the serve scan
# partition-prunes (PartitionFilters, the same pruning the two IVF-PQ
# indexes get on list_id).
MINHASH_INDEX_TABLE = "minhash_band_index"
MINHASH_INDEX_BUCKETS = 8


def minhash_index_location(n_hist: int, fp: int) -> str:
    """On-disk path for the persisted band index of a historical corpus
    with ``(row count, doc_id fingerprint) == (n_hist, fp)`` — the same
    scale- and content-isolated two-level key as the IVF-PQ index
    (``sources.tables.fp_fold``; the oracle re-derives both values from
    the documents view with scalar subqueries)."""
    from ..sources.tables import warehouse_root

    return f"{warehouse_root()}/{MINHASH_INDEX_TABLE}/n={n_hist}/f={fp}"


def _hist_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The historical (already-ingested) half of the documents table —
    the ``_incremental_sides`` index predicate, shared verbatim."""
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull() & (F.col("doc_id") % 2 == 0))
    )


def _bands_with_bucket(sigs: DataFrame) -> DataFrame:
    """Slim persisted-index rows from a signature frame: (doc_id,
    band_idx, x, y, bucket) — map-only."""
    b = _band_rows(sigs)
    return b.select(
        "doc_id",
        "x",
        "y",
        F.col("band_idx").cast("long").alias("band_idx"),
        ((F.col("x") * 31 + F.col("y")) % MINHASH_INDEX_BUCKETS)
        .cast("long")
        .alias("bucket"),
    )


def _minhash_change_batch(hist: DataFrame, max_id: int) -> DataFrame:
    """Deterministic CDC batch over the historical half (the
    ``_upsert_change_batch`` derivation pattern, so the DuckDB oracle
    reproduces it exactly; doc_ids here are all even, hence the even
    residues of % 20):

    - ``doc_id % 20 == 0``     -> DELETE
    - ``doc_id % 20 in (2,4)`` -> UPDATE (text || AUG_SUFFIX — a near-dup
      image whose trailing shingles genuinely move between band buckets)
    - ``doc_id % 20 == 6``     -> INSERT of doc_id + max_id with
      text || AUG_SUFFIX — a near-dup of an index member, so the serve
      probe has observable pairs to find
    """
    k = F.col("doc_id")
    dele = hist.filter(k % 20 == 0).select("doc_id", "text", F.lit("D").alias("__op"))
    upd = hist.filter((k % 20).isin(2, 4)).select(
        "doc_id",
        F.concat("text", F.lit(AUG_SUFFIX)).alias("text"),
        F.lit("U").alias("__op"),
    )
    ins = hist.filter(k % 20 == 6).select(
        (k + F.lit(max_id)).alias("doc_id"),
        F.concat("text", F.lit(AUG_SUFFIX)).alias("text"),
        F.lit("I").alias("__op"),
    )
    return dele.unionAll(upd).unionAll(ins)


def _band_index_rows(
    hist: DataFrame, rm_keys: DataFrame, delta_bands: DataFrame
) -> DataFrame:
    """Band index rows of the merged corpus, spelled
    ``bands(hist) ⟕anti rm_keys ∪ delta_bands``: the delta signatures are
    already materialized for the serve probe, so only the historical
    bands are computed here. No join hint: the planner broadcasts the
    removal keys from their size statistics and falls back to a
    sort-merge join when they outgrow the broadcast threshold."""
    bands = _bands_with_bucket(_with_signature(hist).select("doc_id", "sig"))
    return bands.join(rm_keys, "doc_id", "left_anti").unionByName(
        delta_bands.select(*bands.columns)
    )


def _partition_predicate(parts: list[tuple[int, int]]):
    """(band_idx, bucket) IN set as a disjunction of per-partition
    conjunctions — the spelling Catalyst turns into PartitionFilters on a
    hive layout (a struct-isin does not prune)."""
    from functools import reduce as _reduce

    return _reduce(
        lambda a, b: a | b,
        [(F.col("band_idx") == b) & (F.col("bucket") == k) for b, k in parts],
    )


def _read_band_index(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).select(
        "doc_id",
        "x",
        "y",
        F.col("band_idx").cast("long").alias("band_idx"),
        F.col("bucket").cast("long").alias("bucket"),
    )


def probe_band_index(
    spark: SparkSession,
    path: str,
    probe_sigs: DataFrame,
    corpus: DataFrame,
    probed: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """Serve half: near-dup pairs of the probe batch against the PERSISTED
    band index, verified by exact Jaccard over the maintained corpus.

    Scale shape: the probe's own band rows determine the partition set, so
    the index scan partition-prunes at plan time (plan-pinned); probe
    bands broadcast onto the pruned scan (the ``dedup_incremental``
    asymmetry — the index side never shuffles); index buckets are capped
    like every LSH path (a bucket lives wholly in one partition, so the
    cap count is pruning-safe); index-side token sets are tokenized only
    for CANDIDATE documents (broadcast semi onto the corpus scan).
    Output one row per verified pair: (probe_id, index_id, jaccard_ppm).

    ``probed`` (the probe bands' distinct partition set) may be passed in
    when the caller already collected it — the upsert's probe IS the
    delta batch, whose partition set the caller collects once
    (optimization round 14: one collect instead of two)."""
    probe_bands = _bands_with_bucket(probe_sigs.select("doc_id", "sig"))
    if probed is None:
        probed = sorted(
            {
                (int(r["band_idx"]), int(r["bucket"]))
                for r in probe_bands.select("band_idx", "bucket").distinct().collect()
            }
        )
    else:
        probed = sorted(set(probed))
    if not probed:
        return spark.createDataFrame(
            [], "probe_id bigint, index_id bigint, jaccard_ppm bigint"
        )
    idx = _read_band_index(spark, path).filter(_partition_predicate(probed))
    idx_capped = _cap_buckets(idx, ["band_idx", "x", "y"])
    cand = (
        idx_capped.alias("i")
        .join(
            F.broadcast(probe_bands.alias("p")),
            (F.col("i.band_idx") == F.col("p.band_idx"))
            & (F.col("i.x") == F.col("p.x"))
            & (F.col("i.y") == F.col("p.y"))
            & (F.col("i.doc_id") != F.col("p.doc_id")),
        )
        .select(
            F.col("p.doc_id").alias("probe_id"), F.col("i.doc_id").alias("index_id")
        )
        .dropDuplicates(["probe_id", "index_id"])
    )
    idx_toks = (
        corpus.join(
            F.broadcast(
                cand.select("index_id").distinct().withColumnRenamed(
                    "index_id", "doc_id"
                )
            ),
            "doc_id",
        )
        .select(
            F.col("doc_id").alias("index_id"),
            F.array_distinct(tokens(F.col("text"))).alias("toks_i"),
        )
    )
    pairs = cand.join(F.broadcast(idx_toks), "index_id").join(
        F.broadcast(
            probe_sigs.select(
                F.col("doc_id").alias("probe_id"), F.col("toks").alias("toks_p")
            )
        ),
        "probe_id",
    )
    jaccard = _jaccard_ppm("toks_p", "toks_i")
    return (
        pairs.select("probe_id", "index_id", jaccard.alias("jaccard_ppm"))
        .filter(F.col("jaccard_ppm") >= JACCARD_MIN_PPM)
        .orderBy("probe_id", "index_id")
    )


def minhash_index_spill_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spill-bearing stage of the maintain cycle, spelled measurably
    for the forced-spill sweep: the band rows sorted by the partition
    columns within each task — exactly the UnsafeExternalSorter pass a
    partitioned parquet write runs inside every task before opening
    files, which is where this operator's buffers live. The probe the
    operator RETURNS is broadcast-only with candidate volume bounded by
    |delta bands| x MAX_BAND_BUCKET (the scale property under test), so
    its executed plan legitimately shows zero spill at sweep scale; the
    sweep hash-checks the declared query against the post-upsert oracle
    as usual and takes its spill measurement from this frame."""
    hist = _hist_docs(spark, sf_dir).localCheckpoint()
    return (
        _bands_with_bucket(_with_signature(hist).select("doc_id", "sig"))
        .sortWithinPartitions("band_idx", "bucket", "doc_id")
    )


def minhash_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refresh of the persisted MinHash LSH band index under a CDC batch
    (staged round 14): apply a document change batch
    (insert/update/delete, derived deterministically — see
    :func:`_minhash_change_batch`) to the historical corpus, rebuild the
    partitioned band index of the merged corpus, then serve a near-dup
    probe of the delta batch from the on-disk index. Completes the dedup
    lifecycle (signatures -> pairs -> clusters -> incremental ->
    persisted index) exactly as rounds 12-14 completed the ANN lifecycle,
    mirroring the reference's register-then-query lifecycle
    (``benchmarks/src/tpch/run.rs:311-345``) extended in time. The
    refresh is a full rebuild: this call builds the index itself, so
    there is never an earlier index to patch.

    The written index is BIT-IDENTICAL to a from-scratch build over the
    merged corpus (pinned by pytest — MinHash has no fitted model, so
    rebuild equivalence is exact), and the DuckDB oracle replays the
    band-probe + Jaccard verification from the persisted parquet — a
    green row proves the on-disk state, not the logical dataflow. The
    merged corpus rides the verified :func:`cdc.cdc_merge` kernel."""
    from .cdc import cdc_merge

    hist = _hist_docs(spark, sf_dir).localCheckpoint()
    from ..sources.tables import frame_fingerprint_stats, write_partitioned

    n_hist, fp, max_id = frame_fingerprint_stats(hist, "doc_id")
    if n_hist == 0:
        # EMPTY corpus: a zero-row partitionBy write leaves no files to
        # read back — the probe of an empty index is the typed empty frame
        return spark.createDataFrame(
            [], "probe_id bigint, index_id bigint, jaccard_ppm bigint"
        )
    path = minhash_index_location(n_hist, fp)

    # eager=False: the change batch is three cheap filters over the
    # already-checkpointed hist blocks; its first consuming job forces and
    # persists it with no dedicated driver job (optimization round 14)
    changes = _minhash_change_batch(hist, max_id).localCheckpoint(eager=False)
    # merged is consumed exactly ONCE (the serve probe's candidate-token
    # semi-join) — the eager checkpoint here materialized the full merged
    # corpus text as its own driver job for a single downstream read
    # (optimization round 14, guide §5: cache only what is reused)
    merged = cdc_merge(hist, changes, key="doc_id")
    delta_docs = changes.filter(F.col("__op").isin("I", "U")).select("doc_id", "text")
    # probe == delta: signatures computed ONCE, map-only, shared by the
    # index write and the serve probe
    delta_sigs = (
        _with_signature(delta_docs).select("doc_id", "toks", "sig").localCheckpoint()
    )
    rm_keys = changes.filter(F.col("__op").isin("U", "D")).select("doc_id")
    delta_bands = _bands_with_bucket(delta_sigs.select("doc_id", "sig"))
    write_partitioned(
        _band_index_rows(hist, rm_keys, delta_bands),
        path,
        ["band_idx", "bucket"],
        len(BANDS) * MINHASH_INDEX_BUCKETS,
    )
    # the probe IS the delta batch, so its partition set (collected once)
    # prunes the serve scan
    new_parts = {
        (int(r["band_idx"]), int(r["bucket"]))
        for r in delta_bands.select("band_idx", "bucket").distinct().collect()
    }
    return probe_band_index(spark, path, delta_sigs, merged, probed=sorted(new_parts))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "dedup_exact": dedup_exact,
        "minhash_signatures": minhash_signatures,
        "minhash_dedup_pairs": minhash_dedup_pairs,
        "minhash_pairs_skew": minhash_pairs_skew,
        "chunk_overlap": chunk_overlap,
        "ngram_span_dedup": ngram_span_dedup,
        "dedup_incremental": dedup_incremental,
        "simhash_signatures": simhash_signatures,
        "simhash_dedup_pairs": simhash_dedup_pairs,
        "ngram_jaccard_pairs": ngram_jaccard_pairs,
        "dedup_clusters": dedup_clusters,
        "dedup_clusters_star": dedup_clusters_star,
        "winnow_fingerprints": winnow_fingerprints,
        "span_scrub": span_scrub,
        # promoted at the round-15 rotation (staged round 14): the persisted
        # MinHash LSH band index build/maintain split, completing the dedup
        # lifecycle the way rounds 12-14 completed the ANN lifecycle
        "minhash_index_upsert": minhash_index_upsert,
    }


# --------------------------------------------------------------------- #
# DuckDB oracles (identical integer arithmetic, DuckDB list-function forms)
# --------------------------------------------------------------------- #

_TOKS = DUCK_TOKENS.format(x="text")
_POLY_S = DUCK_POLY_HASH.format(x="s")
_POLY_T = DUCK_POLY_HASH.format(x="t")

_DUCK_SIG = f"""tokd AS (
    SELECT doc_id, {_TOKS} AS toks FROM corpus
), tokh AS (
    SELECT doc_id, list_distinct(toks) AS dtoks,
           list_transform(toks, t -> {_POLY_T}) AS th
    FROM tokd
), hashed AS (
    SELECT doc_id, dtoks,
           CASE WHEN len(th) >= 3
                THEN list_transform(range(1, len(th) - 1),
                     i -> ((th[i] * {SHINGLE_MULT} + th[i+1]) % {MOD} * {SHINGLE_MULT} + th[i+2]) % {MOD})
                ELSE [list_reduce(list_prepend(CAST(0 AS BIGINT), th), (acc, h) -> (acc * {SHINGLE_MULT} + h) % {MOD})]
           END AS hs
    FROM tokh
), sig AS (
    SELECT doc_id, dtoks,
           [{", ".join(f"list_min(list_transform(hs, x -> ({a} * x + {b}) % {P}))" for a, b in zip(A, B))}] AS sig
    FROM hashed
)"""

_DUCK_SIMHASH = f"""tokh AS (
    SELECT doc_id, unnest(list_transform({_TOKS}, t -> {_POLY_T})) AS h FROM corpus
), bits AS (
    SELECT doc_id,
           {", ".join(f"SUM(((h >> {j}) & 1) * 2 - 1) AS b{j}" for j in range(32))}
    FROM tokh GROUP BY doc_id
), sim AS (
    SELECT doc_id,
           CAST({" + ".join(f"(CASE WHEN b{j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(32))} AS BIGINT) AS simhash
    FROM bits
)"""


# Banded-LSH candidate mining + Jaccard verification as a reusable CTE chain
# ending in ``pairs`` — shared by the pair-mining oracle and the clustering
# oracle so the two cannot drift.
_DUCK_MINHASH_PAIRS = f"""bands AS (
    SELECT * FROM (
        SELECT doc_id, band_idx, x, y,
               COUNT(*) OVER (PARTITION BY band_idx, x, y) AS bucket_n
        FROM ({" UNION ALL ".join(
            f"SELECT doc_id, {i} AS band_idx, sig[{lo + 1}] AS x, sig[{hi + 1}] AS y FROM sig"
            for i, (lo, hi) in enumerate(BANDS)
        )})
    ) WHERE bucket_n <= {MAX_BAND_BUCKET}
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.x = b.x AND a.y = b.y
     AND a.doc_id < b.doc_id
), withtoks AS (
    SELECT doc_a, doc_b, sa.dtoks AS ta, sb.dtoks AS tb
    FROM cand
    JOIN sig sa ON sa.doc_id = doc_a
    JOIN sig sb ON sb.doc_id = doc_b
), pairs AS (
    SELECT doc_a, doc_b,
           CAST(FLOOR(1e6 * len(list_intersect(ta, tb)) / len(list_distinct(list_concat(ta, tb)))) AS BIGINT) AS jaccard_ppm
    FROM withtoks
    WHERE FLOOR(1e6 * len(list_intersect(ta, tb)) / len(list_distinct(list_concat(ta, tb)))) >= {JACCARD_MIN_PPM}
)"""


# Hub-skewed corpus (identical augmentation as _DUCK_CORPUS plus HUB_COPIES
# replicas of the smallest doc_id's text) — the minhash_pairs_skew fixture.
_DUCK_SKEW_CORPUS = f"""corpus AS (
    SELECT doc_id, text FROM documents WHERE text IS NOT NULL
    UNION ALL
    SELECT doc_id + {AUG_OFFSET} AS doc_id, text || '{AUG_SUFFIX}' AS text
    FROM documents WHERE doc_id % 10 = 0 AND text IS NOT NULL
    UNION ALL
    SELECT {HUB_OFFSET} + r.i AS doc_id, d.text
    FROM documents d, range(0, {HUB_COPIES}) AS r(i)
    WHERE d.doc_id = (SELECT MIN(doc_id) FROM documents) AND d.text IS NOT NULL
)"""


# Incremental-dedup side predicates over the combined sig CTE (index =
# even originals; incoming = odd originals + all augmented copies).
_IDX_PRED = f"doc_id < {AUG_OFFSET} AND doc_id % 2 = 0"
_INC_PRED = f"(doc_id >= {AUG_OFFSET} OR doc_id % 2 <> 0)"


def _duck_bands(pred: str) -> str:
    return " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band_idx, sig[{lo + 1}] AS x, sig[{hi + 1}] AS y "
        f"FROM sig WHERE {pred}"
        for i, (lo, hi) in enumerate(BANDS)
    )


_DUCK_INCREMENTAL = f"""idx_bands AS (
    SELECT * FROM (
        SELECT doc_id, band_idx, x, y,
               COUNT(*) OVER (PARTITION BY band_idx, x, y) AS bucket_n
        FROM ({_duck_bands(_IDX_PRED)})
    ) WHERE bucket_n <= {MAX_BAND_BUCKET}
), inc_bands AS (
    {_duck_bands(_INC_PRED)}
), cand AS (
    SELECT DISTINCT i.doc_id AS idx_id, n.doc_id AS new_id
    FROM idx_bands i JOIN inc_bands n
      ON i.band_idx = n.band_idx AND i.x = n.x AND i.y = n.y
), dups AS (
    SELECT DISTINCT new_id FROM cand
    JOIN sig si ON si.doc_id = cand.idx_id
    JOIN sig sn ON sn.doc_id = cand.new_id
    WHERE FLOOR(1e6 * len(list_intersect(si.dtoks, sn.dtoks))
                / len(list_distinct(list_concat(si.dtoks, sn.dtoks)))) >= {JACCARD_MIN_PPM}
)"""


def oracles() -> dict[str, str]:
    out = _oracles()
    # Both CC algorithms must reproduce the identical clustering — the star
    # variant is graded against the very same recursive-CTE oracle.
    out["dedup_clusters_star"] = out["dedup_clusters"]
    out.update(_winnow_span_oracles())
    # promoted at the round-15 rotation (staged round 14)
    out["minhash_index_upsert"] = _minhash_index_upsert_oracle()
    return out


def _minhash_index_upsert_oracle() -> str:
    """DuckDB replay of the maintain-then-probe pipeline reading
    ``(doc_id, x, y, band_idx, bucket)`` from the POST-UPSERT persisted
    parquet — a hash match proves the REBUILT on-disk state: every
    inserted and updated document present with its new band rows in the
    right partitions, every deleted/moved row absent, every unchanged
    row in place (a stale or missing band row changes the candidate
    set). The probe signatures, the merged corpus, and the frequent-bucket
    cap are re-derived in SQL from the documents view via the shared
    ``_DUCK_SIG`` machinery; partition selection uses the same
    (count, doc_id fingerprint) scalar subqueries the Spark build keyed
    the path on."""
    from ..sources.tables import duck_fp_sql, warehouse_root

    nb = MINHASH_INDEX_BUCKETS
    # ONE shared fold spelling (sources.tables.duck_fp_sql) — see the
    # round-14 review note there on the %-sign divergence it prevents
    duck_fp = duck_fp_sql("doc_id")
    bands_sel = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band_idx, sig[{lo + 1}] AS x, sig[{hi + 1}] AS y FROM sig"
        for i, (lo, hi) in enumerate(BANDS)
    )
    return f"""
        WITH hist AS (
            SELECT doc_id, text FROM documents
            WHERE text IS NOT NULL AND doc_id % 2 = 0
        ), corpus AS (
            -- the delta batch (U images + I rows) IS the probe side;
            -- named corpus so _DUCK_SIG reads it
            SELECT doc_id, text || '{AUG_SUFFIX}' AS text FROM hist
            WHERE doc_id % 20 IN (2, 4)
            UNION ALL
            SELECT doc_id + (SELECT COALESCE(MAX(doc_id), 0) FROM hist) AS doc_id,
                   text || '{AUG_SUFFIX}' AS text
            FROM hist WHERE doc_id % 20 = 6
        ), {_DUCK_SIG}, probe_bands AS (
            SELECT doc_id, band_idx, x, y, (x * 31 + y) % {nb} AS bucket
            FROM ({bands_sel})
        ), merged AS (
            -- the maintained corpus: survivors + U images + I rows
            SELECT doc_id, text FROM hist
            WHERE doc_id % 20 NOT IN (0, 2, 4)
            UNION ALL
            SELECT doc_id, text FROM corpus
        ), idx AS (
            SELECT doc_id, x, y,
                   CAST(band_idx AS BIGINT) AS band_idx,
                   CAST(bucket AS BIGINT) AS bucket
            FROM read_parquet(
                '{warehouse_root()}/{MINHASH_INDEX_TABLE}/*/*/*/*/*.parquet',
                hive_partitioning = true
            )
            -- stats over hist: the Spark build keys the location on the
            -- FILTERED historical corpus (count + doc_id fingerprint)
            WHERE TRY_CAST(n AS BIGINT) = (SELECT COUNT(*) FROM hist)
              AND TRY_CAST(f AS BIGINT) = (SELECT {duck_fp} FROM hist)
        ), idx_capped AS (
            SELECT * FROM (
                SELECT *, COUNT(*) OVER (PARTITION BY band_idx, x, y) AS bucket_n
                FROM idx
            ) WHERE bucket_n <= {MAX_BAND_BUCKET}
        ), cand AS (
            SELECT DISTINCT p.doc_id AS probe_id, i.doc_id AS index_id
            FROM probe_bands p JOIN idx_capped i
              ON i.band_idx = p.band_idx AND i.x = p.x AND i.y = p.y
             AND i.doc_id <> p.doc_id
        ), itoks AS (
            SELECT doc_id, list_distinct({_TOKS}) AS toks FROM merged
        ), pairs AS (
            SELECT probe_id, index_id,
                   CAST(FLOOR(1e6 * len(list_intersect(s.dtoks, it.toks))
                        / GREATEST(len(list_distinct(list_concat(s.dtoks, it.toks))), 1)) AS BIGINT) AS jaccard_ppm
            FROM cand
            JOIN sig s ON s.doc_id = cand.probe_id
            JOIN itoks it ON it.doc_id = cand.index_id
        )
        SELECT probe_id, index_id, jaccard_ppm FROM pairs
        WHERE jaccard_ppm >= {JACCARD_MIN_PPM}
        ORDER BY probe_id, index_id
    """


def _winnow_span_oracles() -> dict[str, str]:
    w = WINNOW_W
    frames = ",\n                       ".join(
        f"MIN(gh) OVER (PARTITION BY doc_id ORDER BY pos "
        f"ROWS BETWEEN {i} PRECEDING AND 1 PRECEDING) AS p{i},\n"
        f"                       "
        f"MIN(gh) OVER (PARTITION BY doc_id ORDER BY pos "
        f"ROWS BETWEEN 1 FOLLOWING AND {i} FOLLOWING) AS f{i}"
        for i in range(1, w)
    )
    conds = []
    for j in range(w):
        pcnt = w - 1 - j
        parts = []
        if pcnt:
            parts.append(f"pos >= {pcnt} AND p{pcnt} >= gh")
        if j:
            parts.append(f"pos <= n - 1 - {j} AND f{j} > gh")
        conds.append("(" + " AND ".join(parts) + ")")
    sel = " OR ".join(conds)
    return {
        "winnow_fingerprints": f"""
            WITH {_DUCK_CORPUS}, tokd AS (
                SELECT doc_id, list_transform({_TOKS}, t -> {_POLY_T}) AS th FROM corpus
            ), pos AS (
                SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                       list_reduce(list_prepend(CAST(0 AS BIGINT), th[i : i + {WINNOW_K - 1}]),
                                   (acc, h) -> (acc * {SHINGLE_MULT} + h) % {MOD}) AS gh
                FROM tokd, UNNEST(range(1, len(th) - {WINNOW_K} + 2)) AS g(i)
                WHERE len(th) >= {WINNOW_K}
            ), win AS (
                SELECT doc_id, pos, gh,
                       COUNT(*) OVER (PARTITION BY doc_id) AS n,
                       {frames}
                FROM pos
            )
            SELECT doc_id, pos, gh AS fp FROM win
            WHERE {sel}
            ORDER BY doc_id, pos
        """,
        "span_scrub": f"""
            WITH {_DUCK_CORPUS}, tokd AS (
                SELECT doc_id, list_transform({_TOKS}, t -> {_POLY_T}) AS th FROM corpus
            ), pos AS (
                SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                       list_reduce(list_prepend(CAST(0 AS BIGINT), th[i : i + {SPAN_K - 1}]),
                                   (acc, h) -> (acc * {SHINGLE_MULT} + h) % {MOD}) AS gh
                FROM tokd, UNNEST(range(1, len(th) - {SPAN_K} + 2)) AS g(i)
                WHERE len(th) >= {SPAN_K}
            ), own AS (
                SELECT gh, MIN(doc_id) AS first_doc FROM pos GROUP BY gh
            ), fhits AS (
                SELECT p.doc_id, p.pos FROM pos p JOIN own USING (gh)
                WHERE own.first_doc < p.doc_id
            ), dropped AS (
                SELECT DISTINCT doc_id, pos + i AS t
                FROM fhits, UNNEST(range(0, {SPAN_K})) AS g(i)
            ), tok AS (
                SELECT doc_id, CAST(i - 1 AS BIGINT) AS t, th[i] AS h
                FROM tokd, UNNEST(range(1, len(th) + 1)) AS g(i)
            )
            SELECT tok.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(SUM(CASE WHEN d.t IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       COALESCE(list(h ORDER BY tok.t) FILTER (WHERE d.t IS NULL), [])),
                       (acc, x) -> (acc * {SHINGLE_MULT} + x) % {MOD}) AS scrubbed_fp
            FROM tok LEFT JOIN dropped d ON d.doc_id = tok.doc_id AND d.t = tok.t
            GROUP BY tok.doc_id ORDER BY tok.doc_id
        """,
    }


def _oracles() -> dict[str, str]:
    return {
        "dedup_exact": f"""
            WITH {_DUCK_CORPUS}
            SELECT md5(text) AS text_hash,
                   CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_copies
            FROM corpus GROUP BY md5(text) ORDER BY text_hash
        """,
        "minhash_signatures": f"""
            WITH {_DUCK_CORPUS}, {_DUCK_SIG}
            SELECT doc_id, {", ".join(f"sig[{i + 1}] AS sig{i}" for i in range(N_SIG))}
            FROM sig ORDER BY doc_id
        """,
        "minhash_dedup_pairs": f"""
            WITH {_DUCK_CORPUS}, {_DUCK_SIG}, {_DUCK_MINHASH_PAIRS}
            SELECT doc_a, doc_b, jaccard_ppm FROM pairs ORDER BY doc_a, doc_b
        """,
        "minhash_pairs_skew": f"""
            WITH {_DUCK_SKEW_CORPUS}, {_DUCK_SIG}, {_DUCK_MINHASH_PAIRS}
            SELECT doc_a, doc_b, jaccard_ppm FROM pairs ORDER BY doc_a, doc_b
        """,
        "chunk_overlap": f"""
            WITH {_DUCK_CORPUS}, tokd AS (
                SELECT doc_id, list_transform({_TOKS}, t -> {_POLY_T}) AS th FROM corpus
            ), tok AS (
                SELECT doc_id, UNNEST(range(1, len(th) + 1)) AS pos, UNNEST(th) AS h
                FROM tokd
            ), chunked AS (
                SELECT doc_id, pos, h,
                       COALESCE(SUM(CASE WHEN h % {CHUNK_DIV} = 0 THEN 1 ELSE 0 END) OVER (
                           PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
                FROM tok
            ), chunks AS (
                SELECT doc_id, chunk_id,
                       list_reduce(list_prepend(CAST(0 AS BIGINT), list(h ORDER BY pos)),
                                   (acc, x) -> (acc * {SHINGLE_MULT} + x) % {MOD}) AS chunk_hash
                FROM chunked GROUP BY doc_id, chunk_id
            ), owners AS (
                SELECT chunk_hash, MIN(doc_id) AS first_doc FROM chunks GROUP BY chunk_hash
            ), per_doc AS (
                SELECT c.doc_id,
                       CAST(COUNT(*) AS BIGINT) AS n_chunks,
                       CAST(SUM(CASE WHEN o.first_doc < c.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
                FROM chunks c JOIN owners o USING (chunk_hash)
                GROUP BY c.doc_id
            )
            SELECT doc_id, n_chunks, n_shared,
                   CAST(FLOOR(1e6 * n_shared / GREATEST(n_chunks, 1)) AS BIGINT) AS overlap_ppm
            FROM per_doc ORDER BY doc_id
        """,
        "ngram_span_dedup": f"""
            WITH {_DUCK_CORPUS}, tokd AS (
                SELECT doc_id, list_transform({_TOKS}, t -> {_POLY_T}) AS th FROM corpus
            ), pos AS (
                SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                       list_reduce(list_prepend(CAST(0 AS BIGINT), th[i : i + {SPAN_K - 1}]),
                                   (acc, h) -> (acc * {SHINGLE_MULT} + h) % {MOD}) AS gh
                FROM tokd, UNNEST(range(1, len(th) - {SPAN_K} + 2)) AS g(i)
                WHERE len(th) >= {SPAN_K}
            ), dup AS (
                SELECT gh FROM pos GROUP BY gh HAVING MIN(doc_id) <> MAX(doc_id)
            ), hits AS (
                SELECT p.doc_id, p.pos FROM pos p JOIN dup USING (gh)
            ), lagged AS (
                SELECT doc_id, pos,
                       LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                FROM hits
            ), isl AS (
                SELECT doc_id, pos,
                       SUM(CASE WHEN prev IS NULL OR pos - prev > {SPAN_K} THEN 1 ELSE 0 END)
                           OVER (PARTITION BY doc_id ORDER BY pos) AS island
                FROM lagged
            )
            SELECT doc_id, MIN(pos) AS span_start,
                   MAX(pos) + {SPAN_K} - 1 AS span_end,
                   CAST(COUNT(*) AS BIGINT) AS n_dup_ngrams
            FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start
        """,
        "dedup_incremental": f"""
            WITH {_DUCK_CORPUS}, {_DUCK_SIG}, {_DUCK_INCREMENTAL}
            SELECT s.doc_id,
                   CAST(CASE WHEN d.new_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_dup
            FROM sig s LEFT JOIN dups d ON d.new_id = s.doc_id
            WHERE {_INC_PRED.replace("doc_id", "s.doc_id")}
            ORDER BY s.doc_id
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE {_DUCK_CORPUS}, {_DUCK_SIG}, {_DUCK_MINHASH_PAIRS}, edges AS (
                SELECT doc_a AS u, doc_b AS v FROM pairs
                UNION
                SELECT doc_b AS u, doc_a AS v FROM pairs
            ), reach(doc_id, r) AS (
                SELECT u, u FROM edges
                UNION
                SELECT reach.doc_id, edges.v FROM reach JOIN edges ON reach.r = edges.u
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(MIN(r) AS BIGINT) AS cluster_id,
                   MIN(r) = doc_id AS is_canonical
            FROM reach GROUP BY doc_id ORDER BY doc_id
        """,
        "simhash_signatures": f"""
            WITH {_DUCK_CORPUS}, {_DUCK_SIMHASH}
            SELECT doc_id, simhash FROM sim ORDER BY doc_id
        """,
        "simhash_dedup_pairs": f"""
            WITH {_DUCK_CORPUS}, {_DUCK_SIMHASH}, bandrows AS (
                SELECT * FROM (
                    SELECT doc_id, simhash, band_idx, k,
                           COUNT(*) OVER (PARTITION BY band_idx, k) AS bucket_n
                    FROM ({" UNION ALL ".join(
                        f"SELECT doc_id, simhash, {i} AS band_idx, (simhash >> {8 * i}) % 256 AS k FROM sim"
                        for i in range(4)
                    )})
                ) WHERE bucket_n <= {MAX_BAND_BUCKET}
            ), cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                                a.simhash AS sa, b.simhash AS sb
                FROM bandrows a JOIN bandrows b
                  ON a.band_idx = b.band_idx AND a.k = b.k AND a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
            FROM cand WHERE bit_count(xor(sa, sb)) <= {HAMMING_MAX}
            ORDER BY doc_a, doc_b
        """,
        "ngram_jaccard_pairs": f"""
            WITH {_DUCK_CORPUS}, keyed AS (
                SELECT * FROM (
                    SELECT doc_id, list_distinct({_TOKS}) AS toks,
                           ({_TOKS})[1] AS k1,
                           CAST(FLOOR(len({_TOKS}) / 10) AS BIGINT) AS k2,
                           COUNT(*) OVER (PARTITION BY ({_TOKS})[1], CAST(FLOOR(len({_TOKS}) / 10) AS BIGINT)) AS bucket_n
                    FROM corpus
                ) WHERE bucket_n <= {MAX_BAND_BUCKET}
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(FLOOR(1e6 * len(list_intersect(a.toks, b.toks)) / len(list_distinct(list_concat(a.toks, b.toks)))) AS BIGINT) AS jaccard_ppm
            FROM keyed a JOIN keyed b
              ON a.k1 = b.k1 AND a.k2 = b.k2 AND a.doc_id < b.doc_id
            WHERE FLOOR(1e6 * len(list_intersect(a.toks, b.toks)) / len(list_distinct(list_concat(a.toks, b.toks)))) >= {JACCARD_MIN_PPM}
            ORDER BY doc_a, doc_b
        """,
    }
