"""Corpus-selection operators: clustering assignment and budgeted selection.

Two dataset-assembly stages a 100 TB training-data pipeline runs after
filtering/dedup, built as engine extensions the same way the reference ships
custom operators to workers (reference ``tests/custom_extension_codec.rs:
160-264``) — here as JVM-side DataFrame expressions Spark serializes
natively; no Python in any hot path.

- ``kmeans_assign``       nearest-centroid assignment over the embedding
                          corpus (the E-step of k-means / the routing step of
                          cluster-balanced data selection). Centroids ride
                          along as ONE broadcast row holding an array of
                          quantized vectors, so assignment is a pure
                          projection: zero shuffles over the corpus.
- ``token_budget_select`` greedy highest-score-first document selection under
                          a global token budget — the "take the best N tokens"
                          step of quality-pruned pretraining mixes — computed
                          as a BANDED two-phase prefix sum instead of one
                          global window, so no single task ever sees the
                          whole corpus.

Exactness doctrine (same as the similarity tier): embedding floats are
floored to ppm integers before any arithmetic (float->double widening is
exact and the 1e6 multiply rounds identically under IEEE on both engines),
after which every distance/cumulative-sum is int64 — the DuckDB oracle
matches bit-for-bit, not approximately.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import DUCK_POLY_HASH, DUCK_TOKENS, poly_hash, tokens

# k-means assignment: K centroids = the K vectors with the smallest vec_id
# (a deterministic seed choice, like the IVF tier's); 64-dim corpus.
KMEANS_K = 8
KMEANS_ITERS = 3  # Lloyd rounds for the driver-verified kmeans_lloyd_t3 query
DIM = 64
# Token-budget selection: global budget and the score-band width for the
# two-phase prefix sum. Bands must be monotone in score (band = score DIV
# width) so band-desc-then-score-desc ordering equals the global score-desc
# ordering.
SELECT_BUDGET_TOKENS = 10_000
SCORE_BAND_WIDTH = 50
# DSIR importance weights (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling" — public paper): hashed-bigram features,
# target domain = the corpus 'en' slice, raw = the whole corpus. The paper's
# per-feature log-likelihood ratio is replaced by its smoothed ppm
# probability RATIO (double-floored integer division, identical on both
# engines); DSIR_NBUCK bounds the feature space so the per-feature weight
# table is KB-scale and broadcasts.
DSIR_NBUCK = 4096
DSIR_MULT = 1_000_003
DSIR_MOD = 1_000_000_007

_QUANT = "transform(embedding, x -> CAST(FLOOR(1e6 * x) AS BIGINT))"


def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every embedding to its nearest of K fixed centroids (squared
    L2 over ppm-quantized components; ties broken by smallest centroid id).

    Scale shape: the K centroids collapse to a SINGLE broadcast row holding
    ``array<struct<cid, cxp>>``, and the per-vector argmin is one nested
    higher-order expression (``array_min`` over per-centroid distance
    structs) — a map-only projection over the corpus with zero exchanges
    before the output sort. At 100 TB this is the shape that matters: the
    E-step cost is exactly one corpus scan regardless of K, and re-runs/
    backfills assign identically because the centroid seed (smallest K
    vec_ids) and the tie-break are both deterministic. A full Lloyd
    iteration would alternate this operator with a ``groupBy(cluster)``
    mean — the M-step is one more shuffle on the cluster key."""
    from ..sources.tables import rebalance_narrow_scan

    path = f"{sf_dir}/embeddings.parquet"
    # narrow-scan rebalance: the per-vector distance fold below is the
    # expensive stage, and a single-row-group file would run it one-task.
    # NULL embeddings excluded (round-13 review, mirrored in the oracle):
    # a NULL row reaching the centroid seed collect crashed the driver
    # with a raw TypeError where DuckDB answered, and NULL propagation
    # through the distance argmin diverges between engines.
    emb = rebalance_narrow_scan(
        spark.read.parquet(path).select("vec_id", "embedding"), path
    ).filter(F.col("embedding").isNotNull())
    qcol = F.expr(_QUANT)
    cents_row = (
        emb.orderBy("vec_id")
        .limit(KMEANS_K)
        .select(F.col("vec_id").alias("cid"), qcol.alias("cxp"))
        # collect_list order is partition-dependent; sort_array on the
        # (cid, cxp) structs restores the deterministic cid order.
        .agg(F.sort_array(F.collect_list(F.struct("cid", "cxp"))).alias("cents"))
    )
    # struct field order ('d' first) makes array_min the argmin with the
    # (distance, centroid-id) tie-break — one expression, no explode, no
    # per-vector window shuffle.
    best = F.expr(
        "array_min(transform(cents, c -> named_struct("
        "'d', aggregate(zip_with(xp, c.cxp, (a, b) -> (a - b) * (a - b)), "
        "CAST(0 AS BIGINT), (s, v) -> s + v), "
        "'cid', c.cid)))"
    )
    return (
        emb.select("vec_id", qcol.alias("xp"))
        .crossJoin(F.broadcast(cents_row))
        .select("vec_id", best.alias("b"))
        .select(
            "vec_id",
            F.col("b.cid").alias("cluster"),
            F.col("b.d").alias("dist"),
        )
        .orderBy("vec_id")
    )


def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highest-score-first document selection under a global token budget:
    rank the corpus by (score DESC, doc_id), take documents while the
    running token total stays within ``SELECT_BUDGET_TOKENS``. ``n_chars``
    stands in for the integer quality score; any integer score column slots
    in, with NULL-scored documents EXCLUDED up front (explicitly, on both
    engines — without the filter a NULL score would fall out of the banded
    inner join on Spark but sort NULLS LAST and keep accumulating tokens in
    a plain SQL window, a silent cross-engine divergence).

    The naive spelling is one global window (``SUM OVER (ORDER BY score
    DESC)``) — a single-partition sort of the whole corpus, the thing that
    does NOT survive 100 TB. Instead the prefix sum runs banded: per-band
    token totals (one small aggregate) give each band a broadcast starting
    offset, and the within-band cumulative sum is an ordinary partitioned
    window — no task ever holds more than one band. Because the band key is
    ``score DIV width``, band-descending + in-band score-descending order
    IS the global score order, so the result is byte-identical to the
    global window the oracle runs."""
    from ..sources.tables import rebalance_narrow_scan

    path = f"{sf_dir}/documents.parquet"
    # narrow-scan rebalance: tokens() per document is the expensive stage
    docs = rebalance_narrow_scan(spark.read.parquet(path), path)
    base = (
        docs.select(
            "doc_id",
            F.col("n_chars").alias("score"),
            F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        )
        .filter(F.col("score").isNotNull())
        .withColumn("band", F.expr(f"score DIV {SCORE_BAND_WIDTH}"))
    )
    band_tot = base.groupBy("band").agg(F.sum("n_tokens").alias("band_tokens"))
    # The band table is O(score_range / width) rows — tens — so its
    # prefix-sum window runs on one task by construction; only this
    # handful-of-rows frame is ever single-partition.
    w_off = Window.orderBy(F.desc("band")).rowsBetween(Window.unboundedPreceding, -1)
    offsets = band_tot.select(
        "band",
        F.coalesce(F.sum("band_tokens").over(w_off), F.lit(0))
        .cast("long")
        .alias("band_offset"),
    )
    w_in = Window.partitionBy("band").orderBy(F.desc("score"), "doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        base.join(F.broadcast(offsets), "band")
        .withColumn(
            "cum_tokens",
            (F.col("band_offset") + F.sum("n_tokens").over(w_in)).cast("long"),
        )
        .filter(F.col("cum_tokens") <= SELECT_BUDGET_TOKENS)
        .select("doc_id", "score", "n_tokens", "cum_tokens")
        # doc_id tiebreak: zero-token documents tie on cum_tokens, so
        # cum_tokens alone is not a total order (review nit, round 11)
        .orderBy("cum_tokens", "doc_id")
    )


def _assign_to_literal_centroids(
    qvecs: DataFrame, cents: list[tuple[int, list[int]]]
) -> DataFrame:
    """E-step against driver-held centroids: ``(vec_id, xp)`` -> adds
    ``cluster``/``dist``. Centroids are inlined as ONE parsed SQL literal
    (the IVF tier's model-state pattern, ``similarity.py:_centroid_scores``)
    so assignment is a pure map-side projection — zero shuffles, zero
    broadcast jobs, linear in the corpus regardless of K."""
    if not cents:
        # EMPTY corpus: typed empty literals — bare array() is array<void>
        # and fails zip_with analysis (Spark crashed at plan time where
        # DuckDB answered zero rows); sequence(1, 0) DESCENDS. No row
        # evaluates these on the empty corpus (round-13 review, the
        # similarity._centroid_scores fix)
        cmat = F.expr("CAST(array() AS array<array<bigint>>)")
        cids = F.expr("CAST(array() AS array<bigint>)")
        idxs = F.expr("CAST(array() AS array<int>)")
    else:
        cmat = F.expr(
            "array("
            + ",".join("array(" + ",".join(f"{x}L" for x in cvec) + ")" for _, cvec in cents)
            + ")"
        )
        cids = F.expr("array(" + ",".join(f"{cid}L" for cid, _ in cents) + ")")
        idxs = F.sequence(F.lit(1), F.lit(len(cents)))
    dist = lambda cv: F.aggregate(  # noqa: E731 - local kernel
        F.zip_with(F.col("xp"), cv, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda s, v: s + v,
    )
    best = F.array_min(
        F.transform(
            idxs,
            lambda i: F.struct(
                dist(F.element_at(cmat, i)).alias("d"),
                F.element_at(cids, i).alias("cid"),
            ),
        )
    )
    return qvecs.withColumn("b", best).select(
        "vec_id", "xp", F.col("b.cid").alias("cluster"), F.col("b.d").alias("dist")
    )


def _trunc_div(s: int, c: int) -> int:
    """Truncate-toward-zero integer division (Spark's ``DIV``), so the
    component mean is sign-symmetric."""
    q = abs(s) // c
    return q if s >= 0 else -q


def kmeans_lloyd(
    emb: DataFrame, k: int = KMEANS_K, iters: int = 3
) -> tuple[DataFrame, list[tuple[int, list[int]]]]:
    """Full Lloyd k-means over ``(vec_id, embedding)``: ``iters`` rounds of
    E-step (assign, map-only against literal centroids) and M-step
    (per-cluster component-wise integer mean). Returns the final assignment
    frame ``(vec_id, cluster, dist)`` and the final centroids.

    Scale shape: the corpus is NEVER collected — each round collects only
    the K x DIM component-sum table (KB-scale model state, the same
    contract as the IVF seed collect). The M-step is posexplode ->
    two-level aggregate on (cluster, dim): the explode is absorbed by a
    map-side partial sum, so the shuffle carries at most K*DIM rows per
    upstream partition. A cluster that loses all members keeps its previous
    centroid (no respawn heuristics — deterministic across re-runs).
    Arithmetic is all-int64 on ppm-quantized components with truncating
    mean, so every round is exactly reproducible (the differential test
    replays the identical integers in pure Python)."""
    # Non-eager localCheckpoint: the seed collect + one M-step collect per
    # round + the final assignment are 2+iters separate jobs over the same
    # scan+quantize chain — materialize it once (the ann_ivf fit-step
    # pattern) instead of re-reading parquet and re-quantizing per job;
    # non-eager, so the seed collect (and round 1 for any partition the
    # limit skipped) materializes it instead of a dedicated job (round 14).
    qvecs = emb.select("vec_id", F.expr(_QUANT).alias("xp")).localCheckpoint(
        eager=False
    )
    cents = [
        (int(r["vec_id"]), [int(v) for v in r["xp"]])
        for r in qvecs.orderBy("vec_id").limit(k).collect()
    ]
    assigned = _assign_to_literal_centroids(qvecs, cents)
    for _ in range(iters):
        stats = (
            assigned.select("cluster", F.posexplode("xp").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.sum("val").alias("s"), F.count("*").alias("c"))
            .collect()
        )
        by_cluster: dict[int, dict[int, tuple[int, int]]] = {}
        for r in stats:
            by_cluster.setdefault(int(r["cluster"]), {})[int(r["pos"])] = (
                int(r["s"]),
                int(r["c"]),
            )
        cents = [
            (
                cid,
                [
                    _trunc_div(*by_cluster[cid][p])
                    for p in range(len(prev))
                ]
                if cid in by_cluster
                else prev,  # emptied cluster: centroid frozen
            )
            for cid, prev in cents
        ]
        assigned = _assign_to_literal_centroids(qvecs, cents)
    return assigned.select("vec_id", "cluster", "dist"), cents


def kmeans_lloyd_t3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing :func:`kmeans_lloyd`: ``KMEANS_ITERS`` full Lloyd
    rounds over the embeddings table, returning the final assignments
    ``(vec_id, cluster, dist)``. ``dist`` is squared L2 to the FINAL
    (thrice-updated) centroid, so a green driver row pins every E-step AND
    every M-step's integer mean — the DuckDB oracle replays the identical
    iteration unrolled as CTEs (the ``pagerank_nations`` pattern,
    ``operators/graph.py``), which is exactly what the all-int64
    ppm-quantized arithmetic was designed to make possible."""
    from ..sources.tables import rebalance_narrow_scan

    path = f"{sf_dir}/embeddings.parquet"
    # NULL embeddings excluded — the kmeans_assign exclusion contract
    emb = rebalance_narrow_scan(
        spark.read.parquet(path).select("vec_id", "embedding"), path
    ).filter(F.col("embedding").isNotNull())
    assigned, _ = kmeans_lloyd(emb, k=KMEANS_K, iters=KMEANS_ITERS)
    return assigned.orderBy("vec_id")


def _lloyd_oracle(iters: int) -> str:
    """The Lloyd iteration unrolled as one DuckDB CTE chain.

    ``a0 = E(c0)``; then per round ``n``: ``c_n = M(a_{n-1})`` (per-cluster
    component-wise truncating integer mean, empty clusters frozen via the
    LEFT JOIN + COALESCE) and ``a_n = E(c_n)`` — the exact schedule of
    :func:`kmeans_lloyd`. The sign-split ``//`` reproduces Spark's
    truncate-toward-zero ``DIV`` (DuckDB ``//`` floors); sums/counts are
    cast back to BIGINT so centroid lists stay int64 like Spark's."""

    def estep(n: int, cent: str) -> str:
        return f"""d{n} AS (
                SELECT q.vec_id, q.xp, c.cid,
                       list_reduce(list_prepend(CAST(0 AS BIGINT),
                           list_transform(range(1, len(q.xp) + 1),
                               i -> (q.xp[i] - c.cxp[i]) * (q.xp[i] - c.cxp[i]))),
                           (s, v) -> s + v) AS d
                FROM q CROSS JOIN {cent} c
            ), a{n} AS (
                SELECT vec_id, xp, cid AS cluster, d AS dist FROM (
                    SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY vec_id ORDER BY d, cid) AS rn
                    FROM d{n}
                ) WHERE rn = 1
            )"""

    parts = [
        """q AS (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(FLOOR(1e6 * x) AS BIGINT)) AS xp
                FROM embeddings
                WHERE embedding IS NOT NULL
            )""",
        """dims AS (
                SELECT UNNEST(range(1, (SELECT MAX(len(xp)) FROM q) + 1)) AS pos
            )""",
        f"""c0 AS (
                SELECT vec_id AS cid, xp AS cxp FROM q ORDER BY vec_id LIMIT {KMEANS_K}
            )""",
        estep(0, "c0"),
    ]
    for n in range(1, iters + 1):
        parts.append(
            f"""s{n} AS (
                SELECT a.cluster AS cid, d.pos,
                       CAST(SUM(a.xp[d.pos]) AS BIGINT) AS s,
                       CAST(COUNT(*) AS BIGINT) AS c
                FROM a{n - 1} a CROSS JOIN dims d GROUP BY 1, 2
            ), m{n} AS (
                SELECT cid,
                       list(CAST(CASE WHEN s >= 0 THEN s // c
                                      ELSE -((-s) // c) END AS BIGINT)
                            ORDER BY pos) AS cxp
                FROM s{n} GROUP BY cid
            ), c{n} AS (
                SELECT p.cid, COALESCE(m.cxp, p.cxp) AS cxp
                FROM c{n - 1} p LEFT JOIN m{n} m USING (cid)
            )"""
        )
        parts.append(estep(n, f"c{n}"))
    ctes = ",\n            ".join(parts)
    return f"""
            WITH {ctes}
            SELECT vec_id, cluster, CAST(dist AS BIGINT) AS dist
            FROM a{iters} ORDER BY vec_id
        """


def check_weight_headroom(total_bigrams: int, max_doc_bigrams: int) -> None:
    """Raise PlanningError when dsir's integer weight arithmetic could
    exceed int64: the numerator ``1e6 * (cnt + 1)`` (cnt bounded by the
    corpus bigram total) and the per-doc ``sum(w)`` (bounded by the doc's
    bigram count times the 1e12 weight ceiling). Pure so both trip
    conditions are unit-testable without a pathological corpus."""
    i64 = 2**63 - 1
    if (
        total_bigrams + DSIR_NBUCK > i64 // 1_000_000
        or max_doc_bigrams > i64 // 1_000_000_000_000
    ):
        from ..errors import PlanningError

        raise PlanningError(
            f"dsir integer weight arithmetic would exceed int64 headroom at "
            f"total_bigrams={total_bigrams}, max_doc_bigrams={max_doc_bigrams}"
            " (bounds: total < ~9.2e12, per-doc < ~9.2e6); shard the corpus "
            "or chunk oversized documents before weighting"
        )


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weight per document: how much more likely the
    document's hashed-bigram features are under the target domain (the
    ``lang = 'en'`` slice) than under the raw corpus. Output
    ``(doc_id, n_bigrams, dsir_weight)`` — the resampling step then keeps
    documents proportionally to weight; scoring every document is the
    expensive distributed part and is what this operator implements.

    Scale shape: the bigram feature stream is linear in corpus tokens and
    feeds two consumers (feature-count build + document scoring), so it is
    checkpointed once. Feature counts for target AND raw accumulate in ONE
    map-side-combinable aggregation (cnt_t as a conditional sum — the
    corpus is never scanned per-domain); the resulting weight table has at
    most DSIR_NBUCK rows, so scoring is a broadcast hash join — the corpus
    never shuffles on feature. Weight arithmetic is the add-one-smoothed
    probability ratio in ppm, all int64 (bounds: w <= 1e12, per-doc sum
    <= bigrams * 1e12 << 2^63)."""
    base = _dsir_docs(spark, sf_dir)
    th = F.transform(tokens(F.col("text")), poly_hash)
    big = (
        base.select("doc_id", "is_t", th.alias("th"))
        .filter(F.size("th") >= 2)
        .select(
            "doc_id",
            "is_t",
            # per-doc bigram count carried through the explode: every
            # doc-level statistic the headroom guard needs then rides a
            # MAP-ONLY aggregate instead of a groupBy(doc_id) shuffle
            # (optimization round 14 — the guard pass previously paid a
            # doc_id hash exchange plus a recomputed groupBy(f)+crossJoin)
            (F.size("th") - 1).cast("long").alias("nb"),
            F.explode(
                F.zip_with(
                    F.slice("th", 1, F.size("th") - 1),
                    F.slice("th", 2, F.size("th") - 1),
                    lambda a, b: ((a * DSIR_MULT + b) % DSIR_MOD) % DSIR_NBUCK,
                )
            ).alias("f"),
        )
        # two consumers (count build + scoring join): tokenize once;
        # non-eager: the headroom-guard aggregate below is the first
        # full-scan consumer and materializes it in the same job (round 14)
        .localCheckpoint(eager=False)
    )
    # Guard the documented int64 headroom instead of trusting it (the
    # pagerank_frame / bm25 pattern): the weight numerator is
    # 1e6 * (cnt + 1) with cnt <= tr, and the per-doc score is
    # sum(w) <= n_bigrams_doc * 1e12. The totals ARE whole-stream counts
    # (sum over the f-bucket table == count over the stream), so this is
    # ONE map-side-combined aggregate over the checkpointed bigram stream
    # — zero exchanges — and the totals become plan literals, removing
    # the old crossJoin from the weight table.
    head = big.agg(
        F.count("*").cast("long").alias("tr"),
        F.sum(F.col("is_t").cast("long")).cast("long").alias("tt"),
        F.max("nb").alias("max_nb"),
    ).collect()[0]
    if head["max_nb"] is not None:
        check_weight_headroom(int(head["tr"]), int(head["max_nb"]))
    tr = int(head["tr"] or 0)
    tt = int(head["tt"] or 0)
    counts = big.groupBy("f").agg(
        F.count("*").cast("long").alias("cnt_r"),
        F.sum(F.col("is_t").cast("long")).cast("long").alias("cnt_t"),
    )
    wts = counts.select(
        "f",
        F.expr(
            f"""
            (1000000 * (1000000 * (cnt_t + 1) DIV ({tt} + {DSIR_NBUCK})))
            DIV ((1000000 * (cnt_r + 1) DIV ({tr} + {DSIR_NBUCK})) + 1)
            """
        ).alias("w"),
    )
    return (
        big.join(F.broadcast(wts), "f")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("w").cast("long").alias("dsir_weight"),
        )
        .orderBy("doc_id")
    )


def _dsir_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import rebalance_narrow_scan

    path = f"{sf_dir}/documents.parquet"
    return rebalance_narrow_scan(
        spark.read.parquet(path).select(
            "doc_id",
            "text",
            F.coalesce(F.col("lang") == F.lit("en"), F.lit(False)).alias("is_t"),
        ),
        path,
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kmeans_assign": kmeans_assign,
        "kmeans_lloyd_t3": kmeans_lloyd_t3,
        "token_budget_select": token_budget_select,
        "dsir_weights": dsir_weights,
    }


def _dsir_oracle() -> dict[str, str]:
    poly_t = DUCK_POLY_HASH.format(x="t")
    return {
        "dsir_weights": f"""
            WITH base AS (
                SELECT doc_id, COALESCE(lang = 'en', FALSE) AS is_t,
                       list_transform({DUCK_TOKENS.format(x="text")}, t -> {poly_t}) AS th
                FROM documents
            ), big AS (
                SELECT doc_id, is_t,
                       ((th[i] * {DSIR_MULT} + th[i + 1]) % {DSIR_MOD}) % {DSIR_NBUCK} AS f
                FROM base, UNNEST(range(1, len(th))) AS g(i)
            ), counts AS (
                SELECT f, CAST(COUNT(*) AS BIGINT) AS cnt_r,
                       CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS cnt_t
                FROM big GROUP BY f
            ), tot AS (
                SELECT SUM(cnt_r) AS tr, SUM(cnt_t) AS tt FROM counts
            ), wts AS (
                SELECT f,
                       (1000000 * (1000000 * (cnt_t + 1) // (tt + {DSIR_NBUCK})))
                       // ((1000000 * (cnt_r + 1) // (tr + {DSIR_NBUCK})) + 1) AS w
                FROM counts, tot
            )
            SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   CAST(SUM(w.w) AS BIGINT) AS dsir_weight
            FROM big b JOIN wts w ON w.f = b.f
            GROUP BY b.doc_id ORDER BY b.doc_id
        """,
    }


_TOKS = DUCK_TOKENS.format(x="text")


def oracles() -> dict[str, str]:
    return {
        **_dsir_oracle(),
        "kmeans_lloyd_t3": _lloyd_oracle(KMEANS_ITERS),
        "kmeans_assign": f"""
            WITH q AS (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(FLOOR(1e6 * x) AS BIGINT)) AS xp
                FROM embeddings
                WHERE embedding IS NOT NULL
            ), c AS (
                SELECT vec_id AS cid, xp AS cxp FROM q ORDER BY vec_id LIMIT {KMEANS_K}
            ), d AS (
                SELECT q.vec_id, c.cid,
                       list_reduce(list_prepend(CAST(0 AS BIGINT),
                           list_transform(range(1, len(q.xp) + 1),
                               i -> (q.xp[i] - c.cxp[i]) * (q.xp[i] - c.cxp[i]))),
                           (s, v) -> s + v) AS d
                FROM q CROSS JOIN c
            ), r AS (
                SELECT vec_id, cid, d,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
                FROM d
            )
            SELECT vec_id, cid AS cluster, CAST(d AS BIGINT) AS dist
            FROM r WHERE rn = 1 ORDER BY vec_id
        """,
        "token_budget_select": f"""
            WITH t AS (
                SELECT doc_id, n_chars AS score,
                       CAST(len({_TOKS}) AS BIGINT) AS n_tokens
                FROM documents WHERE n_chars IS NOT NULL
            ), c AS (
                SELECT *, SUM(n_tokens) OVER (
                    ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING
                ) AS cum_tokens
                FROM t
            )
            SELECT doc_id, score, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
            FROM c WHERE cum_tokens <= {SELECT_BUDGET_TOKENS}
            ORDER BY cum_tokens, doc_id
        """,
    }
