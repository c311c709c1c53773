"""Corpus-curation operators: the dataset-assembly tier of a training-data
pipeline (deterministic splits, stratified sampling, chunking, sequence
packing, eval-set decontamination, PII scrubbing, corpus statistics).

The reference engine stops at query execution; a 100 TB training-data
pipeline additionally needs the curation stages that turn a filtered corpus
into training shards. Like the rest of the pipeline tier these are engine
extensions (reference analog: the custom-operator extension mechanism,
reference ``tests/custom_extension_codec.rs:160-264``), built as JVM-side
DataFrame expressions — no Python in any hot path — and every one is
DuckDB-oracle-checked with exact integer arithmetic.

Determinism doctrine: every sampling/splitting decision is a pure function
of the data (polynomial hash of the stable ``doc_id``), never of partitioning,
task order, or RNG state — so a 1000-executor re-run, a backfill, or a
speculative retry assigns every document identically.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    DUCK_POLY_HASH,
    DUCK_TOKENS,
    ascii_lower,
    poly_hash,
    shingles,
    tokens,
)
from .text import _docs

# Train/val/test split: hash-bucket 0-79 train, 80-89 val, 90-99 test.
SPLIT_TRAIN_END = 80
SPLIT_VAL_END = 90
# Stratified sample size per (lang, source) stratum.
SAMPLE_PER_STRATUM = 20
# Fixed-width character chunking (context-window sharding stand-in).
CHUNK_CHARS = 200
# Sequence packing: token budget per packed training sequence, and the
# deterministic parallel-packer fan-out (packing runs independently per
# (source, packer-group) so the window sort never sees one giant partition).
PACK_BUDGET_TOKENS = 512
PACK_GROUPS = 8
# Decontamination: eval membership = poly_hash(doc_id) % EVAL_MOD == 0
# (~1% of the corpus stands in for a benchmark/eval set); overlap unit is a
# DECON_K-token shingle.
EVAL_MOD = 97
DECON_K = 8
# PII patterns — restricted to the regex subset with identical semantics in
# Java regex (Spark) and RE2 (DuckDB): character classes, +, literal dot.
EMAIL_RE = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z][a-z]+"
LONGNUM_RE = r"[0-9][0-9][0-9]+"
# Corpus n-gram statistics.
NGRAM_K = 3
NGRAM_TOP = 50
# Deterministic training-shard fan-out.
N_SHARDS = 16


def _doc_hash() -> F.Column:
    """Stable per-document int64: polynomial hash of the decimal doc_id
    string. Exactly reproducible in DuckDB (same fold, same modulus), unlike
    xxhash64/md5 whose cross-engine spellings differ."""
    return poly_hash(F.col("doc_id").cast("string"))


_DUCK_DOC_HASH = DUCK_POLY_HASH.format(x="CAST(doc_id AS VARCHAR)")

# Magnitude-uniform 32-bit doc hash for MAGNITUDE-sensitive decisions
# (sample ordering, permutation positions, wide-modulus Bernoulli draws).
# poly_hash is only safe for SMALL-modulus residues: its magnitude encodes
# the id string's length (h("5")~53 vs h("1999")~1.5e6), so ordering or
# wide-range thresholding on it degenerates to doc_id order — caught by the
# weighted_sample weight-proportionality property test.
_HASH32_HEX = 8
_HASH32_MOD = 1 << (4 * _HASH32_HEX)
_DUCK_DOC_HASH32 = (
    f"CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, {_HASH32_HEX})) AS BIGINT)"
)


def _doc_hash32() -> F.Column:
    """Magnitude-uniform 32-bit md5-slice doc hash (`_DUCK_DOC_HASH32` is
    the DuckDB twin) — use whenever the hash's ORDER or wide-range value
    matters, not just a small-modulus residue."""
    return F.conv(
        F.substring(
            F.md5(F.col("doc_id").cast("string").cast("binary")), 1, _HASH32_HEX
        ),
        16,
        10,
    ).cast("long")


# --------------------------------------------------------------------- #
# split assignment
# --------------------------------------------------------------------- #


def split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by hash bucket.

    Map-only: zero shuffles, zero coordination — each of the 1000 executors
    assigns its own rows, and the same document lands in the same split on
    every re-run and backfill (the property random() splits lack)."""
    bucket = (_doc_hash() % 100).alias("bucket")
    return (
        _docs(spark, sf_dir)
        .select(F.col("doc_id"), bucket)
        .select(
            "doc_id",
            "bucket",
            F.when(F.col("bucket") < SPLIT_TRAIN_END, "train")
            .when(F.col("bucket") < SPLIT_VAL_END, "val")
            .otherwise("test")
            .alias("split"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------- #
# stratified sampling
# --------------------------------------------------------------------- #


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size sample per (lang, source) stratum: the
    SAMPLE_PER_STRATUM documents with the smallest (hash, doc_id) key.

    One shuffle on the stratum key; rank truncation bounds the output per
    stratum regardless of stratum skew. At 100 TB the per-stratum sort is the
    cost — a production variant would pre-filter with an approximate hash
    threshold (keep h < k/N_stratum * MOD) before the exact rank, shrinking
    the sort input to ~k rows per stratum; the exact rank here IS the spec."""
    w = Window.partitionBy("lang", "source").orderBy("h", "doc_id")
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "lang", "source", _doc_hash32().alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_PER_STRATUM)
        .select("lang", "source", "doc_id", F.col("rn").cast("long").alias("rn"))
        .orderBy("lang", "source", "doc_id")
    )


# --------------------------------------------------------------------- #
# chunking
# --------------------------------------------------------------------- #


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into fixed-width character chunks (the sharding
    step before tokenization in a context-window pipeline).

    Map-side explode — rows fan out by ceil(len/CHUNK_CHARS) with no shuffle;
    empty documents yield one empty chunk (greatest(len,1) guards Spark's
    descending-sequence behavior when start > stop)."""
    n_chunks_minus1 = F.floor(
        (F.greatest(F.length("text"), F.lit(1)) - 1) / F.lit(CHUNK_CHARS)
    ).cast("long")
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks_minus1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.col("text")
            .substr(
                (F.col("chunk_id") * CHUNK_CHARS + 1).cast("int"),
                F.lit(CHUNK_CHARS),
            )
            .alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


# --------------------------------------------------------------------- #
# sequence packing
# --------------------------------------------------------------------- #


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-fill sequence packing: documents stream in doc_id order
    into PACK_BUDGET_TOKENS-token bins; emit per-bin document counts and
    token totals.

    Packing runs independently per (source, packer-group) — the group is a
    hash bucket of the document, so PACK_GROUPS parallel packers per source
    each fill their own bins deterministically. That keeps the running-sum
    window partitioned (no single global cumsum, which would serialize a
    100 TB corpus through one task) while staying a pure function of the
    data. Contiguous fill (bin = floor(previous-cum / budget)) is the
    deterministic, windowable relaxation of greedy first-fit: a bin may
    overflow by at most one document, never underfill."""
    w = (
        Window.partitionBy("source", "grp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            "source",
            (_doc_hash() % PACK_GROUPS).alias("grp"),
            F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        )
        .withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn(
            "pack_id",
            F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(PACK_BUDGET_TOKENS)).cast("long"),
        )
    )
    return (
        toks.groupBy("source", "grp", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
        )
        .orderBy("source", "grp", "pack_id")
    )


# --------------------------------------------------------------------- #
# decontamination
# --------------------------------------------------------------------- #


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    DECON_K-token shingle with the eval set (here: the deterministic ~1%
    hash slice standing in for a held-out benchmark).

    Scale shape: the eval shingle set is tiny relative to the corpus, so the
    overlap check is a broadcast semi-join against a distinct eval-shingle
    table — the corpus is scanned once, map-side, with no corpus shuffle.
    Shingle explode fans out per token, which is inherent to n-gram overlap
    (same cost class as the MinHash signature pass). The tokenized base is
    ``localCheckpoint``ed because THREE consumers read it (the eval-shingle
    build, the corpus probe branch, and the final doc list) — without it
    the dominant map stage (scan + tokenize) executes once per consumer,
    the dsir_weights two-consumer lesson (``selection.py``)."""
    base = _docs(spark, sf_dir).select(
        "doc_id",
        tokens(F.col("text")).alias("toks"),
        (_doc_hash() % EVAL_MOD == 0).alias("is_eval"),
    ).localCheckpoint()
    sh = base.select(
        "doc_id",
        "is_eval",
        F.explode(F.array_distinct(shingles(F.col("toks"), DECON_K))).alias("ng"),
    )
    eval_ng = sh.filter("is_eval").select("ng").distinct()
    contaminated = (
        sh.filter(~F.col("is_eval"))
        .join(F.broadcast(eval_ng), "ng", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    return (
        base.filter(~F.col("is_eval"))
        .select("doc_id")
        .join(contaminated, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("hit"), F.lit(False)).alias("contaminated"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------- #
# PII scrubbing
# --------------------------------------------------------------------- #


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction: count email-shaped and long-number spans,
    and fingerprint the redacted text (emails -> <EMAIL>, 3+-digit runs ->
    <NUM>). Map-only JVM regex; the fingerprint proves the redacted output
    byte-identical across engines without shipping megabytes of text through
    the comparison."""
    # ascii_lower, not lower(): the PII patterns are pure-ASCII classes,
    # and JVM full case mapping lowers 'İ' to TWO codepoints where
    # DuckDB's simple mapping yields one — lower() made redacted_fp
    # diverge cross-engine on special-cased uppercase text (round-13
    # review; the stopword-fold fix applied to the scrub path)
    low = ascii_lower(F.col("text"))
    redacted = F.regexp_replace(
        F.regexp_replace(low, EMAIL_RE, "<EMAIL>"), LONGNUM_RE, "<NUM>"
    )
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.regexp_count(low, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
            F.regexp_count(low, F.lit(LONGNUM_RE)).cast("long").alias("n_longnums"),
            poly_hash(redacted).alias("redacted_fp"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------- #
# corpus n-gram statistics
# --------------------------------------------------------------------- #


def ngram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-N n-gram frequencies (occurrence counts, not
    document counts). Classic two-phase aggregate: map-side partial counts
    absorb the explode fan-out before the shuffle; the final top-N is
    Spark's TakeOrdered (no global sort materialization). Tie-break on the
    n-gram string makes the cut deterministic cross-engine."""
    return (
        _docs(spark, sf_dir)
        .select(F.explode(shingles(tokens(F.col("text")), NGRAM_K)).alias("ngram"))
        # a token-less document's whole-doc fallback shingle is '' on
        # Spark but NULL under the DuckDB spelling — and an empty n-gram
        # is meaningless in top-N mining; excluded identically (round-13)
        .filter(F.col("ngram") != "")
        .groupBy("ngram")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
        .limit(NGRAM_TOP)
    )


# --------------------------------------------------------------------- #
# mixture weighting
# --------------------------------------------------------------------- #


def domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token shares and uniform-target mixture weights (the
    sampling multipliers that rebalance a skewed crawl toward a target
    domain mixture).

    Per-source aggregate (one shuffle on source), then a broadcast cross
    join against the single-row corpus total — never a driver-side collect
    and never a global window (an empty-frame window would funnel the whole
    result through one partition).

    The weight divisor clamps the share at 1 ppm (``greatest(share, 1)``,
    identically in the oracle): a long-tail source under 1 ppm of corpus
    tokens floors to ``share_ppm = 0``, and dividing by it yields NULL on
    both engines (non-ANSI Spark and DuckDB both return NULL for x/0) —
    which ``domain_resample``'s ``n_copies > 0`` filter would then silently
    drop, erasing exactly the most under-represented domain the resampler
    exists to upsample. Clamped, such a source gets the maximum upsample
    weight (target/1 ppm); ``share_ppm`` itself still reports the true 0."""
    per_src = (
        _docs(spark, sf_dir)
        .select("source", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("src_tokens"))
    )
    totals = per_src.agg(
        F.sum("src_tokens").alias("total_tokens"),
        F.count("*").alias("n_sources"),
    )
    share = F.floor(F.lit(1e6) * F.col("src_tokens") / F.col("total_tokens")).cast("long")
    target = F.floor(F.lit(1e6) / F.col("n_sources")).cast("long")
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "src_tokens",
            share.alias("share_ppm"),
            F.floor(F.lit(1e6) * target / F.greatest(share, F.lit(1)))
            .cast("long")
            .alias("weight_ppm"),
        )
        .orderBy("source")
    )


def domain_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic temperature-resampling toward the uniform domain
    mixture: every document gets an integer copy count whose expectation is
    exactly :func:`domain_mix`'s ``weight_ppm`` — ``floor(w)`` copies always,
    one more iff the document's hash-ppm falls under the fractional
    remainder. Over-represented domains downsample (0/1 copies), under-
    represented ones upsample (≥1), and the decision is a pure function of
    (doc_id, corpus mixture): re-runs, backfills, and speculative retries
    agree byte-for-byte with no RNG state.

    Scale shape: the per-source weight table is a handful of rows —
    broadcast onto one corpus scan, map-only assignment; no shuffle beyond
    the weight aggregation itself. The copy count is emitted as a column
    (consumers explode it); materializing duplicates here would multiply
    the shuffled bytes for no information."""
    weights = domain_mix(spark, sf_dir).select("source", "weight_ppm")
    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", (_doc_hash32() % 1_000_000).alias("hh")
    )
    n_copies = F.expr("weight_ppm DIV 1000000") + (
        F.col("hh") < F.col("weight_ppm") % 1_000_000
    ).cast("long")
    return (
        docs.join(F.broadcast(weights), "source")
        .select("doc_id", "source", n_copies.cast("long").alias("n_copies"))
        .filter(F.col("n_copies") > 0)
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------- #
# deterministic shard shuffle
# --------------------------------------------------------------------- #


def shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into N_SHARDS training shards: shard =
    hash % N, position within shard = rank of (hash, doc_id).

    This is the "shuffle the corpus before training" step done without RNG
    state: the hash IS the permutation, so every re-run, backfill, and
    speculative retry writes byte-identical shards. One shuffle on the shard
    key; the within-shard sort is bounded by corpus/N_SHARDS and runs as a
    partial sort per shard, never a global order-by (at 100 TB pick N_SHARDS
    so a shard's key column fits a task's spill budget — the sort is on the
    8-byte hash, not the document payload, so even 1e9-row shards sort fine)."""
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        _docs(spark, sf_dir)
        .select("doc_id", _doc_hash32().alias("h"))
        .withColumn("shard", (F.col("h") % N_SHARDS).cast("long"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("shard", "pos", "doc_id")
        .orderBy("shard", "pos")
    )


# --------------------------------------------------------------------- #
# repetition statistics (quality signals)
# --------------------------------------------------------------------- #


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals (the Gopher-rules family): token
    count, distinct-token count, 2-gram total and the top 2-gram's
    occurrence count — the inputs to duplicate-token-fraction and
    top-n-gram-concentration quality filters.

    One corpus scan; the 2-gram explode is absorbed by a map-side partial
    count before the (doc_id, gram) shuffle — the exchange carries one row
    per DISTINCT gram per doc, which is exactly what a high-repetition doc
    collapses. The rollup down to doc_id is a second, doc-row-sized
    exchange (its input is already one row per distinct gram). No Python,
    no per-row UDF — pure JVM expressions end to end."""
    ex = (
        _docs(spark, sf_dir)
        .select("doc_id", tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            F.size(F.array_distinct("toks")).cast("long").alias("n_uniq_tokens"),
            F.explode(shingles(F.col("toks"), 2)).alias("g"),
        )
    )
    per_gram = ex.groupBy("doc_id", "n_tokens", "n_uniq_tokens", "g").agg(
        F.count("*").alias("c")
    )
    return (
        per_gram.groupBy("doc_id", "n_tokens", "n_uniq_tokens")
        .agg(
            F.sum("c").cast("long").alias("n_2grams"),
            F.max("c").cast("long").alias("top_2gram_count"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------- #
# weighted sampling (priority sampling)
# --------------------------------------------------------------------- #

# Priority sampling (Duffield, Lund & Thorup, "Priority sampling for
# estimation of arbitrary subset sums", JACM 2007 — public paper): item i
# with weight w_i draws u_i ~ U(0,1] and gets priority q_i = w_i / u_i; the
# k highest-priority items form the sample, and the (k+1)-th priority is
# the estimation threshold. Chosen over Efraimidis-Spirakis A-ES
# (u^(1/w) keys) because its priority is a RATIO — exactly expressible in
# the engine's integer doctrine with no logarithm.
#
# u's surrogate MUST be magnitude-uniform: the module's poly_hash is fine
# for BUCKETING (its residues equidistribute) but its magnitude encodes the
# id string's LENGTH (h("5")~53, h("1999")~1.5e6), which would bias the
# draw toward short doc_ids instead of weight — caught by the
# weight-proportionality property test. So u comes from a 32-bit md5 slice
# (the KMV sketch's hash family, cross-engine exact):
# q_i = w_i * 2^32 DIV (h32_i + 1), bit-identical on both engines; int64
# headroom holds to w ~ 2^31 chars per document.
WSAMPLE_K = 100
_WSAMPLE_HASH_HEX = _HASH32_HEX
_WSAMPLE_HASH_MOD = _HASH32_MOD


def _parquet_column_max(sf_dir: str, table: str, column: str) -> int | None:
    """Max of an integer column read from parquet FOOTER statistics — the
    zero-job way to bound a guard input (at 100 TB a MAX aggregate is a
    full column scan; row-group stats are a driver-side metadata read).
    Returns None when any file/row-group lacks stats (the caller falls back
    to the aggregate)."""
    import os as _os

    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is baked in
        return None
    root = f"{sf_dir}/{table}.parquet"
    if _os.path.isfile(root):
        files = [root]
    else:
        # Walk the whole tree, not a top-level glob: a partitioned layout
        # nests data files under key=value dirs, and a layout that mixes
        # nested and top-level files must not yield a max over a subset.
        # Any unrecognized data file means the listing may be incomplete —
        # return None so the caller's MAX-aggregate fallback runs (same
        # for non-local paths, where os.walk yields nothing).
        files = []
        for dirpath, _dirs, names in _os.walk(root):
            for n in names:
                if n.startswith(("_", ".")):
                    continue  # _SUCCESS / _metadata / .crc sidecars
                if not n.endswith(".parquet"):
                    return None
                files.append(_os.path.join(dirpath, n))
        files.sort()
    if not files:
        return None
    best: int | None = None
    for f in files:
        try:
            md = pq.ParquetFile(f).metadata
        except Exception:  # noqa: BLE001 - unreadable footer -> fallback
            return None
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        if column not in idx:
            return None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx[column]).statistics
            if st is None or not st.has_min_max:
                return None
            v = st.max
            best = v if best is None or v > best else best
    return best


def check_priority_headroom(max_weight: int) -> None:
    """Raise PlanningError when the priority cross-multiplication
    ``weight * 2^32`` could exceed int64: Spark's non-ANSI long multiply
    WRAPS SILENTLY while the DuckDB oracle raises on BIGINT overflow, so
    past the bound the engines diverge instead of failing loudly (the
    pagerank/bm25/dsir/cms guard pattern). Pure so the trip condition is
    unit-testable without a 2-GB document."""
    i64 = 2**63 - 1
    if max_weight > i64 // _WSAMPLE_HASH_MOD:
        from ..errors import PlanningError

        raise PlanningError(
            f"weighted_sample priority would exceed int64 headroom at "
            f"max_weight={max_weight} (bound {i64 // _WSAMPLE_HASH_MOD}); "
            "chunk documents above ~2^31 chars or rescale the weight "
            "before sampling"
        )


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample of :data:`WSAMPLE_K` documents by
    priority sampling, weight = ``n_chars``: ``(rank, doc_id, weight,
    priority_x)`` — heavier documents are proportionally likelier to rank,
    and the whole draw is a pure function of doc_id (re-runs, backfills and
    speculative retries sample identically; the module's determinism
    doctrine).

    Scale shape: priority is MAP-ONLY; the top-k is Spark's
    ``TakeOrderedAndProject`` (per-partition heaps of k, merged at one
    collector — never a global sort, never a single-partition window over
    the corpus). The rank window runs on the ALREADY-SELECTED k rows, so
    its single-partition state is bounded by k. Overflow: w * 2^32 stays
    in int64 up to w ~ 2^31 chars per document (a 2 GB single doc) —
    documents beyond that should be chunked regardless."""
    docs = _docs(spark, sf_dir).filter(F.col("n_chars").isNotNull())
    # overflow guard (the module-family pattern): trips loudly where
    # Spark's non-ANSI multiply would otherwise wrap silently. The bound
    # comes from parquet FOOTER stats when available (driver-side metadata
    # read, zero jobs — the only answer at 100 TB); a stats-less file falls
    # back to one MAX aggregate over the pruned n_chars column.
    max_w = _parquet_column_max(sf_dir, "documents", "n_chars")
    if max_w is None:
        max_w = (
            docs.agg(
                F.max(
                    F.greatest(F.col("n_chars").cast("long"), F.lit(1).cast("long"))
                ).alias("mw")
            ).first()["mw"]
            or 0
        )
    check_priority_headroom(max(int(max_w), 1))
    pri = docs.select(
        "doc_id",
        F.greatest(F.col("n_chars").cast("long"), F.lit(1).cast("long")).alias(
            "weight"
        ),
        (_doc_hash32() + 1).alias("__h1"),
    ).select(
        "doc_id",
        "weight",
        F.expr(f"CAST((weight * {_WSAMPLE_HASH_MOD}) DIV __h1 AS BIGINT)").alias(
            "priority_x"
        ),
    )
    top = pri.orderBy(F.col("priority_x").desc(), "doc_id").limit(WSAMPLE_K)
    return (
        top.withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("priority_x").desc(), "doc_id"))
            .cast("long"),
        )
        .select("rank", "doc_id", "weight", "priority_x")
        .orderBy("rank")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "split_assign": split_assign,
        "stratified_sample": stratified_sample,
        "chunk_documents": chunk_documents,
        "pack_sequences": pack_sequences,
        "decontaminate": decontaminate,
        "pii_scrub": pii_scrub,
        "ngram_top": ngram_top,
        "domain_mix": domain_mix,
        "domain_resample": domain_resample,
        "shuffle_shards": shuffle_shards,
        "repetition_stats": repetition_stats,
        "weighted_sample": weighted_sample,
    }


# COALESCE mirrors _docs' NULL-text-as-empty contract
_TOKS = DUCK_TOKENS.format(x="COALESCE(text, '')")


def _duck_shingles(toks: str, k: int) -> str:
    """DuckDB spelling of functions.text.shingles over list expression
    ``toks`` (inclusive 1-based list slicing)."""
    return (
        f"CASE WHEN len({toks}) >= {k} "
        f"THEN list_transform(generate_series(1, len({toks}) - {k - 1}), "
        f"i -> array_to_string(({toks})[i:i+{k - 1}], ' ')) "
        f"ELSE [array_to_string({toks}, ' ')] END"
    )


def oracles() -> dict[str, str]:
    return {
        **_weighted_sample_oracle(),
        "split_assign": f"""
            WITH b AS (
                SELECT doc_id, ({_DUCK_DOC_HASH}) % 100 AS bucket FROM documents
            )
            SELECT doc_id, bucket,
                   CASE WHEN bucket < {SPLIT_TRAIN_END} THEN 'train'
                        WHEN bucket < {SPLIT_VAL_END} THEN 'val'
                        ELSE 'test' END AS split
            FROM b ORDER BY doc_id
        """,
        "stratified_sample": f"""
            WITH ranked AS (
                SELECT lang, source, doc_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY lang, source
                           ORDER BY {_DUCK_DOC_HASH32}, doc_id
                       ) AS rn
                FROM documents
            )
            SELECT lang, source, doc_id, CAST(rn AS BIGINT) AS rn
            FROM ranked WHERE rn <= {SAMPLE_PER_STRATUM}
            ORDER BY lang, source, doc_id
        """,
        "chunk_documents": f"""
            SELECT doc_id, i AS chunk_id,
                   substring(COALESCE(text, ''), CAST(i * {CHUNK_CHARS} + 1 AS INT), {CHUNK_CHARS}) AS chunk_text
            FROM documents,
                 UNNEST(generate_series(
                     0,
                     CAST(FLOOR((greatest(length(COALESCE(text, '')), 1) - 1) / {CHUNK_CHARS}.0) AS BIGINT)
                 )) AS t(i)
            ORDER BY doc_id, chunk_id
        """,
        "pack_sequences": f"""
            WITH toks AS (
                SELECT doc_id, source,
                       ({_DUCK_DOC_HASH}) % {PACK_GROUPS} AS grp,
                       CAST(len({_TOKS}) AS BIGINT) AS n_tokens
                FROM documents
            ), packed AS (
                SELECT source, grp, n_tokens,
                       CAST(FLOOR((SUM(n_tokens) OVER (
                                       PARTITION BY source, grp ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING
                                   ) - n_tokens) / {PACK_BUDGET_TOKENS}.0) AS BIGINT) AS pack_id
                FROM toks
            )
            SELECT source, grp, pack_id,
                   COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
            FROM packed GROUP BY source, grp, pack_id
            ORDER BY source, grp, pack_id
        """,
        "decontaminate": f"""
            WITH base AS (
                SELECT doc_id, {_TOKS} AS toks,
                       ({_DUCK_DOC_HASH}) % {EVAL_MOD} = 0 AS is_eval
                FROM documents
            ), sh AS (
                SELECT doc_id, is_eval,
                       {_duck_shingles("toks", DECON_K)} AS ngs
                FROM base
            ), eval_ng AS (
                SELECT DISTINCT ng FROM sh, UNNEST(ngs) AS t(ng) WHERE is_eval
            ), contam AS (
                SELECT DISTINCT doc_id
                FROM sh, UNNEST(ngs) AS t(ng)
                WHERE NOT is_eval AND ng IN (SELECT ng FROM eval_ng)
            )
            SELECT b.doc_id, (c.doc_id IS NOT NULL) AS contaminated
            FROM base b LEFT JOIN contam c ON b.doc_id = c.doc_id
            WHERE NOT b.is_eval
            ORDER BY b.doc_id
        """,
        "pii_scrub": f"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(translate(COALESCE(text, ''), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '{EMAIL_RE}')) AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(translate(COALESCE(text, ''), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '{LONGNUM_RE}')) AS BIGINT) AS n_longnums,
                   {DUCK_POLY_HASH.format(x=f"regexp_replace(regexp_replace(translate(COALESCE(text, ''), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '{EMAIL_RE}', '<EMAIL>', 'g'), '{LONGNUM_RE}', '<NUM>', 'g')")} AS redacted_fp
            FROM documents ORDER BY doc_id
        """,
        "ngram_top": f"""
            SELECT ngram, COUNT(*) AS n_occurrences
            FROM (
                SELECT unnest({_duck_shingles(_TOKS, NGRAM_K)}) AS ngram
                FROM documents
            )
            WHERE ngram IS NOT NULL AND ngram <> ''
            GROUP BY ngram
            ORDER BY n_occurrences DESC, ngram ASC
            LIMIT {NGRAM_TOP}
        """,
        "domain_mix": f"""
            WITH per_src AS (
                SELECT source, COUNT(*) AS n_docs,
                       CAST(SUM(len({_TOKS})) AS BIGINT) AS src_tokens
                FROM documents GROUP BY source
            ), totals AS (
                SELECT SUM(src_tokens) AS total_tokens, COUNT(*) AS n_sources FROM per_src
            )
            SELECT source, n_docs, src_tokens,
                   CAST(FLOOR(1e6 * src_tokens / total_tokens) AS BIGINT) AS share_ppm,
                   CAST(FLOOR(1e6 * CAST(FLOOR(1e6 / n_sources) AS BIGINT)
                              / GREATEST(CAST(FLOOR(1e6 * src_tokens / total_tokens) AS BIGINT), 1)) AS BIGINT) AS weight_ppm
            FROM per_src CROSS JOIN totals
            ORDER BY source
        """,
        "domain_resample": f"""
            WITH per_src AS (
                SELECT source, CAST(SUM(len({_TOKS})) AS BIGINT) AS src_tokens
                FROM documents GROUP BY source
            ), totals AS (
                SELECT SUM(src_tokens) AS total_tokens, COUNT(*) AS n_sources FROM per_src
            ), w AS (
                SELECT source,
                       CAST(FLOOR(1e6 * CAST(FLOOR(1e6 / n_sources) AS BIGINT)
                                  / GREATEST(CAST(FLOOR(1e6 * src_tokens / total_tokens) AS BIGINT), 1)) AS BIGINT) AS weight_ppm
                FROM per_src CROSS JOIN totals
            ), d AS (
                SELECT doc_id, source, ({_DUCK_DOC_HASH32}) % 1000000 AS hh FROM documents
            )
            SELECT d.doc_id, d.source,
                   CAST(w.weight_ppm // 1000000
                        + CASE WHEN d.hh < w.weight_ppm % 1000000 THEN 1 ELSE 0 END
                        AS BIGINT) AS n_copies
            FROM d JOIN w USING (source)
            WHERE w.weight_ppm // 1000000
                  + CASE WHEN d.hh < w.weight_ppm % 1000000 THEN 1 ELSE 0 END > 0
            ORDER BY doc_id
        """,
        "shuffle_shards": f"""
            WITH h AS (
                SELECT doc_id, {_DUCK_DOC_HASH32} AS h FROM documents
            )
            SELECT CAST(h % {N_SHARDS} AS BIGINT) AS shard,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY h % {N_SHARDS} ORDER BY h, doc_id
                   ) AS BIGINT) AS pos,
                   doc_id
            FROM h ORDER BY shard, pos
        """,
        "repetition_stats": f"""
            WITH toks AS (
                SELECT doc_id, {_TOKS} AS toks FROM documents
            ), ex AS (
                SELECT doc_id,
                       CAST(len(toks) AS BIGINT) AS n_tokens,
                       CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq_tokens,
                       g
                FROM toks, UNNEST({_duck_shingles("toks", 2)}) AS t(g)
            ), per_gram AS (
                SELECT doc_id, n_tokens, n_uniq_tokens, g, COUNT(*) AS c
                FROM ex GROUP BY doc_id, n_tokens, n_uniq_tokens, g
            )
            SELECT doc_id, n_tokens, n_uniq_tokens,
                   CAST(SUM(c) AS BIGINT) AS n_2grams,
                   CAST(MAX(c) AS BIGINT) AS top_2gram_count
            FROM per_gram GROUP BY doc_id, n_tokens, n_uniq_tokens
            ORDER BY doc_id
        """,
    }


def _weighted_sample_oracle() -> dict[str, str]:
    return {
        "weighted_sample": f"""
            WITH pri AS (
                SELECT doc_id,
                       CAST(GREATEST(n_chars, 1) AS BIGINT) AS weight,
                       CAST((CAST(GREATEST(n_chars, 1) AS BIGINT)
                             * {_WSAMPLE_HASH_MOD})
                            // (({_DUCK_DOC_HASH32}) + 1)
                            AS BIGINT) AS priority_x
                FROM documents WHERE n_chars IS NOT NULL
            ), r AS (
                SELECT doc_id, weight, priority_x,
                       CAST(ROW_NUMBER() OVER (
                           ORDER BY priority_x DESC, doc_id) AS BIGINT) AS rank
                FROM pri
            )
            SELECT rank, doc_id, weight, priority_x
            FROM r WHERE rank <= {WSAMPLE_K}
            ORDER BY rank
        """,
    }
