"""Count-min sketch: mergeable bounded-state frequency estimation.

The third sketch in the engine's sketch tier (KMV distinct counting lives in
``operators/temporal.py``, histogram percentiles in ``operators/
analytics.py``): the count-min sketch of Cormode & Muthukrishnan 2005
("An Improved Data Stream Summary: The Count-Min Sketch and its
Applications", public paper). D independent hash rows x W buckets of
counters; point estimate = min over rows; error is ONE-SIDED (estimate >=
true count, overshoot <= e*N/W with probability 1-e^-D) and the structure
is trivially mergeable — partial sketches from every partition combine by
cell-wise addition, which is exactly a Spark map-side-combinable groupBy.

``cms_heavy_hitters`` builds the sketch over the events stream keyed by
user and scores every user against it, emitting the estimate NEXT TO the
exact count so the one-sided bound is verifiable row by row (and is, in
pytest and in the DuckDB oracle). At 100 TB the sketch build is the point:
D*W bounded state per partition, one KB-scale aggregate — the exact
per-user groupBy exists here as the candidate/verification side, the same
pattern as ``events_kmv_distinct``'s exact twin.

All hashing is integer affine-mod ((A_d*u + B_d) mod P) mod W — identical
in both engines, no floats anywhere.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CMS_D = 4
CMS_W = 512
CMS_P = 2_147_483_647
CMS_A = (2, 3, 5, 7)
CMS_B = (1, 2, 3, 4)
# heavy = estimate > 1.2x the mean stream share (cross-multiplied: 5*est*n
# > 6*N), scale-free so the flag stays populated from sf0.001 to 100 TB.
HH_NUM, HH_DEN = 6, 5


def _events_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.events import read_events

    return read_events(spark, sf_dir).select("user_id")


def check_cms_hash_headroom(max_abs_user_id: int) -> None:
    """Raise PlanningError when the affine bucket hash ``A_d*u + B_d``
    could exceed int64: with ANSI off Spark silently WRAPS the
    multiplication (returning a sketch built on wrapped buckets) while
    DuckDB raises — a succeed-vs-crash engine divergence, worse than
    either failure alone. Pure so the trip condition is unit-testable
    without a pathological key space (the check_heavy_flag pattern)."""
    i64 = 2**63 - 1
    if max_abs_user_id > (i64 - max(CMS_B)) // max(CMS_A):
        from ..errors import PlanningError

        raise PlanningError(
            f"cms affine hash would exceed int64 headroom at |user_id| = "
            f"{max_abs_user_id} (bound {(i64 - max(CMS_B)) // max(CMS_A)}); "
            "densify or rescale the key space before sketching"
        )


def check_ppm_headroom(
    total_tokens: int, total_est_distinct: int, n_sources: int = 0
) -> None:
    """Raise PlanningError when the exact-integer ppm forms
    ``(1_000_000 * x) DIV total`` could exceed int64 (x is bounded by its
    total, so the totals bound both numerators) — with ANSI off Spark
    would wrap silently where DuckDB raises — OR when a NON-EMPTY profile
    (``n_sources`` > 0) carries a ZERO total: every document tokenizing
    empty keeps its source row (the LEFT-join zero-default contract) but
    makes the share denominators 0, and ``x DIV 0`` returns NULL on Spark
    (ANSI off) while DuckDB's ``// 0`` raises — the succeed-vs-crash
    divergence class the round-12 guards target (round-13 review). Pure
    so both trip conditions are unit-testable without a 9-trillion-token
    (or all-empty) corpus."""
    from ..errors import PlanningError

    if n_sources > 0 and min(total_tokens, total_est_distinct) <= 0:
        raise PlanningError(
            f"domain profile has {n_sources} sources but zero totals "
            f"(total_tokens={total_tokens}, "
            f"total_est_distinct={total_est_distinct}): every document "
            "tokenized empty, so the ppm share denominators are 0 — Spark "
            "would NULL the shares where DuckDB raises; refusing to emit a "
            "divergent profile"
        )
    i64 = 2**63 - 1
    worst = max(total_tokens, total_est_distinct)
    if worst > i64 // 1_000_000:
        raise PlanningError(
            f"ppm share arithmetic would exceed int64 headroom at total = "
            f"{worst} (bound {i64 // 1_000_000}); shard the profile or "
            "switch the share arithmetic to decimal(38,0)"
        )


def check_heavy_flag_headroom(n_events: int, n_users: int) -> None:
    """Raise PlanningError when the cross-multiplied heavy test
    ``est * n_users * HH_DEN > n_events * HH_NUM`` could exceed int64 on
    EITHER side (est is bounded by n_events, so the left side is bounded
    by n_events * n_users * HH_DEN; the right side by n_events * HH_NUM —
    at n_users = 1 the right side is the binding bound, and an unguarded
    ``n_events * HH_NUM`` would wrap on Spark while DuckDB raised). Pure
    so the trip condition is unit-testable without a pathological
    stream."""
    i64 = 2**63 - 1
    if n_users > 0 and n_events > i64 // max(n_users * HH_DEN, HH_NUM):
        from ..errors import PlanningError

        raise PlanningError(
            f"cms heavy-hitter flag would exceed int64 headroom at "
            f"n_events={n_events}, n_users={n_users}; pre-aggregate the "
            "stream per shard or rescale the heavy threshold to a DIV form"
        )


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user count-min estimate vs exact count over the events stream:
    ``(user_id, est_cnt, true_cnt, is_heavy)``.

    Scale shape: the sketch build is ONE aggregation whose key space is
    D x W cells regardless of stream size — partial sketches combine
    map-side, and the finished sketch (KB) BROADCASTS onto the candidate
    side. Estimating = D broadcast-join probes + a min-groupBy per
    candidate. The exact per-user count rides the same single shuffle the
    candidates need anyway; at a scale where the exact side is unaffordable
    the sketch alone answers point queries — that is its purpose."""
    ev = _events_users(spark, sf_dir)
    cells = (
        ev.select(
            "user_id", F.explode(F.array(*[F.lit(d) for d in range(CMS_D)])).alias("d")
        )
        .select(
            "d",
            (
                (
                    F.element_at(F.array(*[F.lit(a) for a in CMS_A]), F.col("d") + 1)
                    * F.col("user_id")
                    + F.element_at(F.array(*[F.lit(b) for b in CMS_B]), F.col("d") + 1)
                )
                % CMS_P
                % CMS_W
            ).alias("bucket"),
        )
        .groupBy("d", "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    truth = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("true_cnt"))
    # localCheckpoint the 1-row totals: BOTH the guard collect below and
    # the returned plan's crossJoin read it — unchecked, each re-ran the
    # full events-wide aggregate (one extra stream scan per query)
    # non-eager: the guard collect below is the first consumer and
    # materializes the 1-row totals in its own job (round 14)
    total = ev.agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.max(F.abs(F.col("user_id"))).cast("long").alias("max_abs_u"),
    ).localCheckpoint(eager=False)
    probes = truth.select(
        "user_id",
        "true_cnt",
        F.explode(F.array(*[F.lit(d) for d in range(CMS_D)])).alias("d"),
    ).select(
        "user_id",
        "true_cnt",
        "d",
        (
            (
                F.element_at(F.array(*[F.lit(a) for a in CMS_A]), F.col("d") + 1)
                * F.col("user_id")
                + F.element_at(F.array(*[F.lit(b) for b in CMS_B]), F.col("d") + 1)
            )
            % CMS_P
            % CMS_W
        ).alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("user_id", "true_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    # Guard the cross-multiplied heavy test's int64 headroom (the
    # pagerank/bm25/dsir pattern): est_cnt <= n_events, so the left side is
    # bounded by n_events * n_users * HH_DEN. The 1-row totals are computed
    # anyway; the check is one scalar collect.
    trow = total.collect()[0]
    check_heavy_flag_headroom(trow["n_events"], trow["n_users"])
    # …and the affine bucket hash's (A_d*u wraps silently on Spark with
    # ANSI off, raises on DuckDB — a succeed-vs-crash divergence)
    if trow["max_abs_u"] is not None:
        check_cms_hash_headroom(int(trow["max_abs_u"]))
    return (
        est.crossJoin(F.broadcast(total))
        .select(
            "user_id",
            "est_cnt",
            "true_cnt",
            (
                F.col("est_cnt") * F.col("n_users") * HH_DEN
                > F.col("n_events") * HH_NUM
            ).alias("is_heavy"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------- #
# HyperLogLog distinct sketch (integer-surrogate registers)
# --------------------------------------------------------------------- #
#
# Flajolet et al. 2007 ("HyperLogLog: the analysis of a near-optimal
# cardinality estimation algorithm", public paper): m registers, register j
# = max over elements hashing to bucket j of rho(w) (1 + leading-zero count
# of the remaining hash bits); estimate = alpha_m * m^2 / sum_j 2^-M_j.
# The fourth engine sketch (KMV distinct in operators/temporal.py, histogram
# percentiles in operators/analytics.py, count-min above), and the one whose
# per-key state is FIXED (m bytes-ish) rather than k values — the standard
# choice when billions of group keys each need a cardinality.
#
# Exactness doctrine: the float harmonic mean is replaced by integer
# arithmetic shared bit-for-bit with DuckDB — 2^-M_j is scaled to the
# integer 2^(RHO_CAP - M_j), the leading-zero count is a generated
# comparison ladder (identical SQL text on both engines), and alpha_1024 =
# 0.7205 becomes the per-mille ALPHA_X = 721 with one final DIV 1000.
# Headroom: m^2 * 2^RHO_CAP = 2^59; DIV by sum >= m = 2^10 leaves <= 2^49,
# * 721 < 2^59 — never near int64.
#
# m = 1024 was chosen empirically against the exact twin: m=64 raw-biased
# +38% at 1.5k distincts (its raw mid-range); m=1024 keeps the corpus's
# cardinalities inside the linear-counting regime (errors 0% / +2% / +4.7%
# at sf0.001/0.01/0.1) and the asymptotic stderr at 3.2%.

HLL_M = 1024  # 2^10 buckets
HLL_ALPHA_X = 721  # alpha_1024 in per-mille (0.7213/(1 + 1.079/m))
HLL_RHO_CAP = 39  # register ceiling = max rho (w has 38 usable bits)
_HLL_W_BITS = 38  # 48-bit hash48 minus 10 bucket bits
# Small-range (linear counting) correction, applied below 2.5*m as in the
# paper: est = m * ln(m / V) with V = zero registers. ln never executes in
# either engine — V has only m possible values, so the correction is a
# generated integer lookup TABLE, indexed as a literal array in both SQL
# texts (1-based element_at on Spark, 1-based list subscript on DuckDB).
_HLL_LC_THRESHOLD = (5 * HLL_M) // 2


def _lc_table() -> list[int]:
    import math

    return [round(HLL_M * math.log(HLL_M / v)) for v in range(1, HLL_M + 1)]


def _hll_est_sql(div: str, index: str) -> str:
    """The full estimator over columns ``sum_nz``/``n_buckets`` as one SQL
    expression, shared by both engines modulo the integer-division token
    (Spark ``DIV``, DuckDB ``//``) and the 1-based array-literal indexing
    spelling (``index`` formats the literal list + index expression)."""
    pow_cap = f"CAST({1 << HLL_RHO_CAP} AS BIGINT)"
    raw = (
        f"({HLL_ALPHA_X} * (({HLL_M * HLL_M} * {pow_cap})"
        f" {div} (sum_nz + ({HLL_M} - n_buckets) * {pow_cap})) {div} 1000)"
    )
    lits = ",".join(str(x) for x in _lc_table())
    lc = index.format(lits=lits, idx=f"CAST({HLL_M} - n_buckets AS INT)")
    return (
        f"CASE WHEN {raw} <= {_HLL_LC_THRESHOLD} AND n_buckets < {HLL_M} "
        f"THEN {lc} ELSE {raw} END"
    )


_SPARK_INDEX = "element_at(array({lits}), {idx})"
_DUCK_INDEX = "([{lits}])[{idx}]"


def _bitlen_ladder(expr: str) -> str:
    """Integer bit-length of ``expr`` (0 for 0) as a comparison CASE ladder —
    the same generated SQL text runs on Spark and DuckDB, so no engine's
    log2/bit_length spelling (or float rounding) can diverge."""
    branches = " ".join(
        f"WHEN {expr} >= {1 << (b - 1)} THEN {b}"
        for b in range(_HLL_W_BITS, 0, -1)
    )
    return f"CASE {branches} ELSE 0 END"


def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user estimate from a HyperLogLog sketch,
    next to the exact count: ``(event_type, n_zero_registers, est_distinct,
    exact_distinct)`` — the cms_heavy_hitters exact-twin pattern, so the
    estimator is verifiable row by row (and comparable side by side with
    the KMV estimate in events_kmv_distinct over the same keys).

    Scale shape: the sketch build is ONE aggregation with at most
    ``m * |keys|`` groups — register updates (max) combine map-side, and
    per-key state is fixed at m registers no matter the stream size, which
    is the whole point: at billions of keys the KMV's k-values-per-key
    state multiplies, HLL's does not. The exact twin rides a second
    aggregate over the same exchange and exists for verification; at a
    scale where it is unaffordable the sketch alone answers."""
    from ..sources.events import read_events
    from .temporal import hash48

    # NULL keys are excluded EXPLICITLY (COUNT(DISTINCT) semantics, the
    # kmv_distinct doctrine): hash48(NULL) is a NULL register bucket that
    # inflates n_buckets without contributing to sum_nz — corrupting
    # n_zero_registers and the estimate identically in both engines, so
    # the oracle could never see it on NULL-bearing data
    ev = (
        read_events(spark, sf_dir)
        .select("event_type", "user_id")
        .filter(F.col("user_id").isNotNull())
    )
    h = ev.select(
        "event_type",
        hash48(F.col("user_id")).alias("h"),
    ).select(
        "event_type",
        (F.col("h") % HLL_M).alias("bucket"),
        F.col("h").cast("long").alias("h"),
    )
    # rho = 1 + leading zeros of the 38-bit w = 39 - bitlen(w); w = 0 maps
    # to RHO_CAP = 39 exactly, so no LEAST clamp is needed
    regs = (
        h.select(
            "event_type",
            "bucket",
            F.expr(
                f"{_HLL_W_BITS + 1} - ({_bitlen_ladder(f'(h DIV {HLL_M})')})"
            ).alias("rho"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    sketch = regs.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_RHO_CAP} - m_j)"))
        .cast("long")
        .alias("sum_nz"),
    )
    est = sketch.select(
        "event_type",
        (F.lit(HLL_M) - F.col("n_buckets")).cast("long").alias("n_zero_registers"),
        F.expr(f"CAST({_hll_est_sql('DIV', _SPARK_INDEX)} AS BIGINT)").alias(
            "est_distinct"
        ),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "event_type").orderBy("event_type")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cms_heavy_hitters": cms_heavy_hitters,
        "hll_distinct": hll_distinct,
        "domain_token_profile": domain_token_profile,
        # staged at round 10, promoted into the gate window at round 11
        "events_quantile_sketch": events_quantile_sketch,
    }


PROFILE_SHARDS = 8


def domain_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile: token-mass share plus an HLL
    distinct-token estimate built from per-SHARD partial sketches, feeding
    a diversity-aware mixture weight — the round-7/8 advisory composition
    of the two verified kernels (:func:`hll_distinct`'s register math and
    ``curation.domain_mix``'s share/weight arithmetic).

    What this adds over both parents is the MERGE step: shard-local
    register tables (``groupBy(source, shard, bucket).max(rho)`` — the
    partial sketch each shard of a 100 TB corpus would ship) combine into
    the per-source sketch by a second register-wise MAX across the
    aggregation boundary. Register-wise max IS HyperLogLog's merge
    operator, so the merged estimate must equal the unsharded one —
    pinned by ``tests/test_sketches.py`` on data, and the DuckDB oracle
    replays the same two-level dataflow.

    Output per source: ``(source, n_docs, src_tokens, share_ppm,
    est_distinct_tokens, exact_distinct_tokens, div_share_ppm,
    weight_ppm)`` where ``weight_ppm = floor(1e6 * div_share_ppm /
    greatest(share_ppm, 1))`` upweights domains whose share of DISTINCT
    vocabulary exceeds their share of raw token mass (dedup-style
    diversity signal) — all arithmetic in the ppm-floor integer forms
    both engines share bit-for-bit. The ``greatest(·, 1)`` clamp keeps
    the integer contract for a source holding under 1 ppm of total
    token mass (share_ppm floors to 0 there; an unguarded division
    would yield NULL weights on both engines). Scale shape: THREE
    corpus scans by construction — the tokenized subtree is consumed by
    the sketch build (state capped at ``m`` registers per
    (source, shard)) and by the exact-distinct twin, and the per-source
    token totals read the corpus once more; the consumers project
    disjoint column slices, so checkpointing the tokenized frame to
    share one scan would defeat column pruning (same finding as
    dedup_incremental's idx_sigs). Everything after the bounded
    aggregates is broadcast-sized. The exact-distinct twin exists for
    row-by-row verifiability, exactly like the parents."""
    from ..functions.text import tokens
    from .temporal import hash48

    # NULL-text-as-empty (round-13, the text/curation-tier contract,
    # mirrored in the oracle): size(tokens(NULL)) = -1 silently
    # SUBTRACTED a token from src_tokens where DuckDB skipped the NULL
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    toks = docs.select(
        "source",
        (F.col("doc_id") % PROFILE_SHARDS).alias("shard"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    )
    rho = toks.select(
        "source",
        "shard",
        hash48(F.col("tok")).alias("h"),
    ).select(
        "source",
        "shard",
        (F.col("h") % HLL_M).alias("bucket"),
        F.expr(f"{_HLL_W_BITS + 1} - ({_bitlen_ladder(f'(h DIV {HLL_M})')})").alias(
            "rho"
        ),
    )
    # level 1: shard-local partial sketches (max combines map-side)
    shard_regs = rho.groupBy("source", "shard", "bucket").agg(
        F.max("rho").alias("m_j")
    )
    # level 2: register-wise MAX across shards — the HLL merge operator
    regs = shard_regs.groupBy("source", "bucket").agg(F.max("m_j").alias("m_j"))
    sketch = regs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_RHO_CAP} - m_j)"))
        .cast("long")
        .alias("sum_nz"),
    )
    est = sketch.select(
        "source",
        F.expr(f"CAST({_hll_est_sql('DIV', _SPARK_INDEX)} AS BIGINT)").alias(
            "est_distinct_tokens"
        ),
    )
    exact = toks.groupBy("source").agg(
        F.countDistinct("tok").cast("long").alias("exact_distinct_tokens")
    )
    per_src = (
        docs.select(
            "source", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
        )
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("src_tokens"))
    )
    # prof is consumed twice (row side + totals side of the cross join);
    # without lineage truncation the WHOLE profile subtree — including the
    # corpus-fanout sketch build — executes once per consumer (measured: 6
    # parquet scans instead of 3). prof is sources-sized (KB), so the
    # checkpoint is the standard multi-consumer fix, not a data copy.
    # LEFT joins with zero defaults: a source whose documents ALL tokenize
    # to empty has no sketch/exact group, and an inner join would silently
    # drop it from the profile — corrupting dataset accounting, the exact
    # failure this family's doctrine forbids (mirrored in the oracle)
    prof = (
        per_src.join(est, "source", "left")
        .join(exact, "source", "left")
        .select(
            "source",
            "n_docs",
            "src_tokens",
            F.coalesce("est_distinct_tokens", F.lit(0))
            .cast("long")
            .alias("est_distinct_tokens"),
            F.coalesce("exact_distinct_tokens", F.lit(0))
            .cast("long")
            .alias("exact_distinct_tokens"),
        )
        # non-eager: the totals guard collect below is the first full-scan
        # consumer and materializes the profile in the same job (round 14)
        .localCheckpoint(eager=False)
    )
    totals = prof.agg(
        F.sum("src_tokens").alias("total_tokens"),
        F.sum("est_distinct_tokens").alias("total_est_distinct"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    # Guard the exact-integer ppm forms' int64 headroom (1e6 * x must fit)
    # AND the zero-total divide (a non-empty profile whose every document
    # tokenized empty — Spark NULLs x DIV 0 where DuckDB raises): the 1-row
    # totals are KB state computed off the checkpointed profile, so the
    # check is one scalar collect (the cms/bm25 guard pattern)
    trow = totals.collect()[0]
    check_ppm_headroom(
        int(trow["total_tokens"] or 0),
        int(trow["total_est_distinct"] or 0),
        n_sources=int(trow["n_sources"] or 0),
    )
    totals = totals.drop("n_sources")  # not part of the cross-joined output
    # ppm shares in the EXACT integer cross-multiplied form — the double
    # spelling floor(1e6 * x / y) rounds through one IEEE quotient whose
    # ulp can cross the integer boundary for totals past ~4.5e9 tokens
    # (and loses integer precision past 2^53), wrongly on BOTH engines
    # identically, which the module doctrine (and any third engine)
    # forbids
    share = F.expr("(1000000 * src_tokens) DIV total_tokens").cast("long")
    div_share = F.expr(
        "(1000000 * est_distinct_tokens) DIV total_est_distinct"
    ).cast("long")
    return (
        prof.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "src_tokens",
            share.alias("share_ppm"),
            "est_distinct_tokens",
            "exact_distinct_tokens",
            div_share.alias("div_share_ppm"),
            # greatest(share, 1): share_ppm floors to 0 for a <1 ppm source;
            # an unguarded division would NULL the declared integer output
            # (mirrored in the DuckDB oracle)
            F.expr(
                "(1000000 * ((1000000 * est_distinct_tokens) DIV total_est_distinct))"
                " DIV greatest((1000000 * src_tokens) DIV total_tokens, 1)"
            )
            .cast("long")
            .alias("weight_ppm"),
        )
        .orderBy("source")
    )


def _domain_profile_oracle() -> dict[str, str]:
    from ..functions.text import DUCK_TOKENS
    from .temporal import HASH_HEX_DIGITS

    toks = DUCK_TOKENS.format(x="COALESCE(text, '')")
    h48 = f"CAST(('0x' || substr(md5(tok), 1, {HASH_HEX_DIGITS})) AS BIGINT)"
    return {
        "domain_token_profile": f"""
            WITH toks AS (
                SELECT source, doc_id % {PROFILE_SHARDS} AS shard,
                       unnest({toks}) AS tok
                FROM documents
            ), rho AS (
                SELECT source, shard, h % {HLL_M} AS bucket,
                       {_HLL_W_BITS + 1} - ({_bitlen_ladder(f'(h // {HLL_M})')}) AS rho
                FROM (SELECT source, shard, {h48} AS h FROM toks)
            ), shard_regs AS (
                SELECT source, shard, bucket, MAX(rho) AS m_j
                FROM rho GROUP BY source, shard, bucket
            ), regs AS (
                SELECT source, bucket, MAX(m_j) AS m_j
                FROM shard_regs GROUP BY source, bucket
            ), sk AS (
                SELECT source,
                       CAST(COUNT(*) AS BIGINT) AS n_buckets,
                       CAST(SUM((CAST(1 AS BIGINT) << ({HLL_RHO_CAP} - m_j))) AS BIGINT) AS sum_nz
                FROM regs GROUP BY source
            ), est AS (
                SELECT source,
                       CAST({_hll_est_sql('//', _DUCK_INDEX)} AS BIGINT) AS est_distinct_tokens
                FROM sk
            ), exact AS (
                SELECT source, CAST(COUNT(DISTINCT tok) AS BIGINT) AS exact_distinct_tokens
                FROM toks GROUP BY source
            ), per_src AS (
                SELECT source, COUNT(*) AS n_docs,
                       CAST(SUM(len({toks})) AS BIGINT) AS src_tokens
                FROM documents GROUP BY source
            ), prof AS (
                SELECT source, n_docs, src_tokens,
                       CAST(COALESCE(est_distinct_tokens, 0) AS BIGINT) AS est_distinct_tokens,
                       CAST(COALESCE(exact_distinct_tokens, 0) AS BIGINT) AS exact_distinct_tokens
                FROM per_src LEFT JOIN est USING (source) LEFT JOIN exact USING (source)
            ), totals AS (
                SELECT SUM(src_tokens) AS total_tokens,
                       SUM(est_distinct_tokens) AS total_est_distinct
                FROM prof
            )
            SELECT source, n_docs, src_tokens,
                   CAST((1000000 * src_tokens) // total_tokens AS BIGINT) AS share_ppm,
                   est_distinct_tokens, exact_distinct_tokens,
                   CAST((1000000 * est_distinct_tokens) // total_est_distinct AS BIGINT) AS div_share_ppm,
                   CAST((1000000 * ((1000000 * est_distinct_tokens) // total_est_distinct))
                        // GREATEST((1000000 * src_tokens) // total_tokens, 1) AS BIGINT) AS weight_ppm
            FROM prof CROSS JOIN totals
            ORDER BY source
        """,
    }


# ---------------------------------------------------------------------------
# Mergeable rank sketch (staged round 10)
# ---------------------------------------------------------------------------

QSKETCH_K = 512      # retained sample rows per group — the FIXED state size
QSKETCH_SHARDS = 8   # simulated partial sketches (the 100 TB merge boundary)
QSKETCH_PERCENTILES = (50, 90, 99)  # the events_percentiles contract


def quantile_sketch_sample(
    rows: DataFrame, k: int = QSKETCH_K, shards: int = QSKETCH_SHARDS
) -> DataFrame:
    """The sketch's retained sample: bottom-``k`` rows per ``event_type`` by
    a uniform 48-bit row hash, built as per-shard partial sketches merged by
    the SAME bottom-k operator (min-k of a union is associative, exactly like
    HLL's register-wise max — merged == direct is pinned on data in
    tests/test_sketches.py). ``rows`` must carry (event_type, event_id,
    value_cents); returns the retained (event_type, event_id, value_cents, h).

    Scale shape: the rank<=k filter over the row_number window plans as a
    partial/final WindowGroupLimit, so every input partition forwards at most
    k rows per (type, shard) into the exchange — state is O(k) per group at
    ANY input size, and the merge level runs on shards*k rows per type."""
    from pyspark.sql import Window

    from .temporal import hash48

    hashed = rows.select(
        "event_type",
        "event_id",
        "value_cents",
        hash48(F.col("event_id")).alias("h"),
        (F.col("event_id") % shards).alias("shard"),
    )
    # level 1: per-shard partial sketch (bottom-k by hash; event_id then
    # value_cents break ties so retention is a total order even under
    # duplicate event_ids — rows still tied after value_cents are
    # identical rows, where either choice yields the same output)
    w1 = Window.partitionBy("event_type", "shard").orderBy(
        "h", "event_id", "value_cents"
    )
    l1 = (
        hashed.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= k)
        .drop("rn", "shard")
    )
    # level 2: the merge operator IS bottom-k again, over the union of
    # partial sketches — shards*k rows per type, never the fact stream
    w2 = Window.partitionBy("event_type").orderBy("h", "event_id", "value_cents")
    return (
        l1.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def events_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable epsilon-approximate percentiles per event type —
    the bounded-state companion ``events_percentiles``'s docstring promises
    for 100 TB group-bys, where sorting whole groups (exact rank selection)
    stops being an option.

    The sketch is a bottom-``k``-by-hash uniform row sample (Rosen 1997 /
    reservoir-by-priority): keep the ``k`` rows with the smallest
    deterministic 48-bit hash per group. That state is (a) FIXED at k rows
    per group regardless of group size, and (b) MERGEABLE — bottom-k of a
    union equals bottom-k of the per-shard bottom-k's, the same
    associativity HLL gets from register-wise max — which is what lets
    partial sketches ship from every shard of a 100 TB corpus and combine
    loss-free. Quantile estimates are exact rank selection WITHIN the
    retained sample (the ``(n*p + 99) DIV 100`` ceil-rank integer form both
    engines share); rank error is the sampling error, O(1/sqrt(k)) with
    k=512 (~4.4 ppt s.d.), and the estimate is EXACT whenever a group holds
    fewer than k rows. All arithmetic is integer (48-bit md5-slice hash,
    cent-quantized values), so the DuckDB oracle replays the identical
    two-level dataflow bit-for-bit. Output: ``(event_type, n_events,
    sample_k, p50_est_cents, p90_est_cents, p99_est_cents)``.

    vs the histogram sketch (``events_percentiles_hist``): no domain pass,
    no fixed-bin resolution floor — accuracy is in RANK space, value
    distribution irrelevant; vs exact (``events_percentiles``): one
    WindowGroupLimit-capped exchange instead of a whole-group sort."""
    from pyspark.sql import Window

    from ..sources.events import read_events

    # NULL event_id/value_cents rows are excluded EXPLICITLY (the
    # kmv/hll doctrine): hash48(NULL) has no deterministic identity and
    # the two engines rank NULLs at OPPOSITE ends of an ascending window
    # (Spark NULLS FIRST, DuckDB NULLS LAST) — a NULL row inside a
    # >k-row group would silently swap the retained sample between
    # engines; NULL values additionally have no rank in value space
    # (SQL aggregate semantics)
    ev = (
        read_events(spark, sf_dir)
        .select("event_type", "event_id", "value_cents")
        .filter(F.col("event_id").isNotNull() & F.col("value_cents").isNotNull())
    )
    sample = quantile_sketch_sample(ev)
    # exact rank selection WITHIN the k-row sample (ceil-rank integer form)
    ws = Window.partitionBy("event_type").orderBy("value_cents", "event_id")
    wp = Window.partitionBy("event_type")
    ranked = sample.select(
        "event_type",
        "value_cents",
        F.row_number().over(ws).alias("srn"),
        F.count("*").over(wp).alias("sk"),
    )
    est = ranked.groupBy("event_type").agg(
        F.max("sk").cast("long").alias("sample_k"),
        *[
            F.max(
                F.when(
                    F.expr(f"srn = (sk * {p} + 99) DIV 100"), F.col("value_cents")
                )
            )
            .cast("long")
            .alias(f"p{p}_est_cents")
            for p in QSKETCH_PERCENTILES
        ],
    )
    totals = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events")
    )
    return (
        totals.join(est, "event_type")
        .select(
            "event_type",
            "n_events",
            "sample_k",
            *[f"p{p}_est_cents" for p in QSKETCH_PERCENTILES],
        )
        .orderBy("event_type")
    )


def _quantile_sketch_oracle() -> dict[str, str]:
    from ..sources.events import DUCK_EVENTS_MS
    from .temporal import HASH_HEX_DIGITS

    h48 = f"CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, {HASH_HEX_DIGITS})) AS BIGINT)"
    pct = ",\n                   ".join(
        f"CAST(MAX(CASE WHEN srn = (sk * {p} + 99) // 100 THEN value_cents END) AS BIGINT) AS p{p}_est_cents"
        for p in QSKETCH_PERCENTILES
    )
    return {
        "events_quantile_sketch": f"""
            WITH e0 AS ({DUCK_EVENTS_MS}),
            e AS (
                SELECT * FROM e0
                WHERE event_id IS NOT NULL AND value_cents IS NOT NULL),
            hashed AS (
                SELECT event_type, event_id, value_cents, {h48} AS h,
                       event_id % {QSKETCH_SHARDS} AS shard
                FROM e),
            l1 AS (
                SELECT event_type, event_id, value_cents, h FROM (
                    SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY event_type, shard
                        ORDER BY h, event_id, value_cents) AS rn
                    FROM hashed) WHERE rn <= {QSKETCH_K}),
            l2 AS (
                SELECT event_type, event_id, value_cents FROM (
                    SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY event_type
                        ORDER BY h, event_id, value_cents) AS rn
                    FROM l1) WHERE rn <= {QSKETCH_K}),
            ranked AS (
                SELECT event_type, value_cents,
                       ROW_NUMBER() OVER (
                           PARTITION BY event_type
                           ORDER BY value_cents, event_id) AS srn,
                       COUNT(*) OVER (PARTITION BY event_type) AS sk
                FROM l2),
            est AS (
                SELECT event_type,
                   CAST(MAX(sk) AS BIGINT) AS sample_k,
                   {pct}
                FROM ranked GROUP BY event_type),
            totals AS (
                SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
                FROM e GROUP BY event_type)
            SELECT event_type, n_events, sample_k,
                   {", ".join(f"p{p}_est_cents" for p in QSKETCH_PERCENTILES)}
            FROM totals JOIN est USING (event_type)
            ORDER BY event_type
        """,
    }


def _hll_oracle() -> dict[str, str]:
    from .temporal import HASH_HEX_DIGITS

    h48 = (
        f"CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, "
        f"{HASH_HEX_DIGITS})) AS BIGINT)"
    )
    return {
        "hll_distinct": f"""
            WITH ev AS (
                SELECT event_type, user_id FROM events
                WHERE user_id IS NOT NULL
            ), h AS (
                SELECT event_type, {h48} AS h FROM ev
            ), rho AS (
                SELECT event_type, h % {HLL_M} AS bucket,
                       {_HLL_W_BITS + 1} - ({_bitlen_ladder(f'(h // {HLL_M})')}) AS rho
                FROM h
            ), regs AS (
                SELECT event_type, bucket, MAX(rho) AS m_j
                FROM rho GROUP BY event_type, bucket
            ), sk AS (
                SELECT event_type,
                       CAST(COUNT(*) AS BIGINT) AS n_buckets,
                       CAST(SUM((CAST(1 AS BIGINT) << ({HLL_RHO_CAP} - m_j))) AS BIGINT) AS sum_nz
                FROM regs GROUP BY event_type
            ), exact AS (
                SELECT event_type,
                       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
                FROM ev GROUP BY event_type
            )
            SELECT event_type,
                   CAST({HLL_M} - n_buckets AS BIGINT) AS n_zero_registers,
                   CAST({_hll_est_sql('//', _DUCK_INDEX)} AS BIGINT) AS est_distinct,
                   exact_distinct
            FROM sk JOIN exact USING (event_type)
            ORDER BY event_type
        """,
    }


def _duck_bucket(d: int) -> str:
    return f"(({CMS_A[d]} * user_id + {CMS_B[d]}) % {CMS_P}) % {CMS_W}"


def oracles() -> dict[str, str]:
    out = _hll_oracle()
    out.update(_domain_profile_oracle())
    out.update(_quantile_sketch_oracle())
    cell_rows = " UNION ALL ".join(
        f"SELECT {d} AS d, {_duck_bucket(d)} AS bucket FROM events"
        for d in range(CMS_D)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT user_id, {d} AS d, {_duck_bucket(d)} AS bucket FROM truth_base"
        for d in range(CMS_D)
    )
    return {
        **out,
        "cms_heavy_hitters": f"""
            WITH cells AS (
                SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM ({cell_rows}) GROUP BY d, bucket
            ), truth_base AS (
                SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_cnt
                FROM events GROUP BY user_id
            ), total AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
                       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
                FROM events
            ), probes AS (
                {probe_rows}
            ), est AS (
                SELECT p.user_id, CAST(MIN(c.cnt) AS BIGINT) AS est_cnt
                FROM probes p JOIN cells c ON c.d = p.d AND c.bucket = p.bucket
                GROUP BY p.user_id
            )
            SELECT t.user_id, e.est_cnt, t.true_cnt,
                   e.est_cnt * total.n_users * {HH_DEN} > total.n_events * {HH_NUM} AS is_heavy
            FROM truth_base t
            JOIN est e ON e.user_id = t.user_id
            CROSS JOIN total
            ORDER BY t.user_id
        """,
    }
