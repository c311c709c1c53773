"""Sparse retrieval over the document corpus: BM25-style scoring and top-k.

A training-data pipeline needs retrieval twice over: quality-scoring
documents against seed queries, and attributing/test-set-searching at audit
time. This module scores every document against a deterministic query set
with a BM25-shaped ranking function and returns the per-query top-k — the
classic inverted-index dataflow (postings list -> term-at-a-time scoring ->
per-query heap) expressed as DataFrame ops Spark already distributes.

Exactness doctrine (cross-engine bit-parity with the DuckDB oracle): the
idf's logarithm is replaced by the linear odds ratio it dampens —
``idf_x = (1000*(2N - 2df + 1)) DIV (2df + 1)``, the Robertson-Spärck-Jones
odds kept rational — and the length-normalized tf saturation keeps BM25's
``k1``/``b`` shape in per-mille integers. Ranking order is BM25-like (exact
rank parity with float BM25 is not claimed; the SCORE is exactly
reproducible, which is what the oracle checks). All terms are non-negative,
so Spark ``DIV`` and DuckDB ``//`` agree.

Reference analog: the extension-operator mechanism
(tests/custom_extension_codec.rs:160-264); nothing in the reference surface
does retrieval.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import DUCK_POLY_HASH, DUCK_TOKENS, poly_hash, tokens
from .bpe import _docs

# Query docs: poly_hash(doc_id) % QUERY_MOD == 0 (~1% of the corpus stands in
# for a seed-query set); each query = the FIRST QUERY_TERMS tokens of its doc
# (de-duplicated relationally, so list_distinct order semantics never matter).
QUERY_MOD = 101
QUERY_TERMS = 8
# BM25 shape parameters in per-mille: k1 = 1.2, b = 0.75.
K1_X = 1200
B_X = 750
TOPK = 10


def check_score_headroom(n_docs: int, max_tf: int, max_dl: int) -> None:
    """Raise PlanningError when the integer scoring expression could exceed
    int64 (see the guard's call site in :func:`bm25_topk` for the bound
    derivation). Pure so the trip condition is unit-testable without a
    pathological multi-terabyte corpus."""
    i64 = 2**63 - 1
    if (
        n_docs * max_tf > i64 // (667 * (K1_X + 1000))
        or n_docs * max_dl > i64 // B_X
    ):
        from ..errors import PlanningError

        raise PlanningError(
            f"bm25 integer scoring would exceed int64 headroom at "
            f"n_docs={n_docs}, max_tf={max_tf}, max_dl={max_dl}; "
            "rescale (shard the corpus or clip tf/dl) or switch the "
            "score arithmetic to decimal(38,0)"
        )


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-:data:`TOPK` documents per query under integer-surrogate BM25.

    Scale shape (the inverted-index dataflow): the corpus is tokenized ONCE
    into a (doc, term, tf, dl) postings table — one shuffle, on (doc, term).
    The query-term table is tiny by construction (|queries| x QUERY_TERMS
    rows) and BROADCASTS; postings are filtered map-side to query terms
    before anything else, so document frequency and scoring aggregate over
    only the matched slice. Corpus-wide N and total token count reduce to
    ONE row that also broadcasts. The only per-query state is the top-k
    window, partitioned by query_id — bounded by that query's candidate
    postings, never the corpus. No term-at-a-time driver loop, no score
    matrix: at 1000 executors each scores its postings shard against all
    (broadcast) queries in one pass.

    Precondition: a corpus with at least one token (``total_toks > 0``); on
    an all-empty corpus the length-norm division yields NULL contributions
    on BOTH engines (Spark ``DIV`` and DuckDB ``//`` agree on NULL for a
    zero divisor), so the comparison stays exact but vacuous."""
    base = _docs(spark, sf_dir).select(
        "doc_id",
        tokens(F.col("text")).alias("toks"),
        poly_hash(F.col("doc_id").cast("string")).alias("dh"),
    )
    postings = (
        base.select(
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    qterms = (
        base.filter(F.col("dh") % QUERY_MOD == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice("toks", 1, QUERY_TERMS)).alias("term"),
        )
        .distinct()
    )
    # localCheckpoint the 1-row corpus stats: the guard collect below AND
    # the scoring plan's crossJoin both read it — unchecked, each re-ran
    # the corpus-wide aggregate (one extra tokenize+scan per query)
    stats = base.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size("toks")).cast("long").alias("total_toks"),
    ).localCheckpoint()
    # map-side restriction to query terms BEFORE df/scoring aggregates; the
    # restricted slice feeds two consumers (document frequency + scoring),
    # so it is checkpointed — without this every consumer re-runs the
    # corpus tokenize/explode chain (observed: 12 parquet scans in the
    # executed plan vs 3 after)
    qpost = postings.join(
        F.broadcast(qterms.select("term").distinct()), "term"
    ).localCheckpoint()
    # Guard the scoring expression's int64 headroom instead of trusting it
    # (the pagerank_frame pattern). Worst-case bounds with df >= 1:
    #   idf_x <= (1000*(2N-1)) DIV 3 < 667*N, so the numerator
    #   idf_x * tf * (K1_X+1000) < 667*N * max_tf * 2200 ~ 1.5e6*N*max_tf
    #   -> requires N * max_tf < int64_max / (667*(K1_X+1000));
    #   the length-norm term B_X * dl * N -> requires N * max_dl <
    #   int64_max / B_X. One KB-scale aggregate over the checkpointed
    #   restricted slice + the 1-row stats — bounded by model state, not
    #   data size. (At 1e9 docs these caps mean max_tf < ~6.3e3 and
    #   max_dl < ~1.2e7 — real corpora pass; a pathological one fails
    #   loudly here instead of wrapping silently.)
    head = (
        qpost.agg(F.max("tf").alias("max_tf"), F.max("dl").alias("max_dl"))
        .crossJoin(F.broadcast(stats))
        .collect()[0]
    )
    if head["max_tf"] is not None:
        check_score_headroom(head["n_docs"], head["max_tf"], head["max_dl"])
    dfreq = qpost.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    scored = (
        qpost.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.expr(
                f"""
                ((1000 * (2 * n_docs - 2 * df + 1)) DIV (2 * df + 1))
                * tf * {K1_X + 1000}
                DIV (tf * 1000
                     + ({K1_X} * (1000 - {B_X} + ({B_X} * dl * n_docs) DIV total_toks)) DIV 1000)
                """
            ).alias("contrib"),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("contrib").cast("long").alias("score_x"),
            F.count("*").cast("long").alias("n_terms_hit"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_x").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "rank", "doc_id", "score_x", "n_terms_hit")
        .orderBy("query_id", "rank")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {"bm25_topk": bm25_topk}


_TOKS = DUCK_TOKENS.format(x="text")
_DOC_HASH = DUCK_POLY_HASH.format(x="CAST(doc_id AS VARCHAR)")


def oracles() -> dict[str, str]:
    return {
        "bm25_topk": f"""
            WITH base AS (
                SELECT doc_id, {_TOKS} AS toks, ({_DOC_HASH}) AS dh
                FROM documents
            ), postings AS (
                SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, term,
                       CAST(COUNT(*) AS BIGINT) AS tf
                FROM base, UNNEST(toks) AS t(term)
                GROUP BY doc_id, len(toks), term
            ), qterms AS (
                SELECT DISTINCT doc_id AS query_id, term
                FROM base, UNNEST(toks[1 : {QUERY_TERMS}]) AS t(term)
                WHERE dh % {QUERY_MOD} = 0
            ), stats AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(SUM(len(toks)) AS BIGINT) AS total_toks
                FROM base
            ), qpost AS (
                SELECT p.* FROM postings p
                WHERE p.term IN (SELECT term FROM qterms)
            ), dfreq AS (
                SELECT term, CAST(COUNT(*) AS BIGINT) AS df
                FROM qpost GROUP BY term
            ), scored AS (
                SELECT q.query_id, p.doc_id,
                       CAST(SUM(
                           ((1000 * (2 * s.n_docs - 2 * d.df + 1)) // (2 * d.df + 1))
                           * p.tf * {K1_X + 1000}
                           // (p.tf * 1000
                               + ({K1_X} * (1000 - {B_X} + ({B_X} * p.dl * s.n_docs) // s.total_toks)) // 1000)
                       ) AS BIGINT) AS score_x,
                       CAST(COUNT(*) AS BIGINT) AS n_terms_hit
                FROM qpost p
                JOIN qterms q ON q.term = p.term
                JOIN dfreq d ON d.term = p.term
                CROSS JOIN stats s
                GROUP BY q.query_id, p.doc_id
            ), ranked AS (
                SELECT query_id, doc_id, score_x, n_terms_hit,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY query_id
                           ORDER BY score_x DESC, doc_id) AS BIGINT) AS rank
                FROM scored
            )
            SELECT query_id, rank, doc_id, score_x, n_terms_hit
            FROM ranked WHERE rank <= {TOPK}
            ORDER BY query_id, rank
        """,
    }
