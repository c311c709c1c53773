"""Behavioral / corpus analytics operators.

The product-analytics layer over the event stream (funnels, cohort
retention, pivoted activity matrices, exact percentiles, anomaly days) plus
corpus-level term ranking — the query shapes a warehouse team runs daily on
top of the same engine the reference exposes (the reference's surface stops
at TPC-H-class SQL; these are the canonical "next" queries and exercise
window cascades, pivot, and distinct-aggregation plans the SQL corpus does
not cover; reference ``tests/tpch.rs:168-194`` is the analogous
query-corpus harness).

Every operator is designed around ONE scan of the fact table and the
minimum number of exchanges (asserted in ``tests/test_plans.py``):

- :func:`funnel` — cascaded cumulative-window minima share a single
  ``user_id`` exchange with the final per-user aggregate;
- :func:`retention` — a frame-less per-user window plus one cohort
  aggregate (two exchanges, the second over per-user-day rows only);
- :func:`events_pivot` — pivot with an EXPLICIT value list, so no
  driver-side distinct-collection job precedes the single aggregate;
- :func:`events_percentiles` — exact discrete percentiles by rank
  selection, one sort exchange on the group key (at 100 TB you would swap
  in a mergeable sketch — see ``temporal.events_kmv_distinct`` for the
  sketch pattern — but the exact form is the oracle-verifiable baseline);
- :func:`anomaly_days` — all second-pass statistics ride per-user windows
  over ALREADY-aggregated per-user-day rows (tiny vs the fact table);
- :func:`top_terms` — document frequencies are a broadcast dimension, so
  the (doc, term) aggregate never reshuffles on term.

All arithmetic is integer (epoch-ms, cents, ppm) so the DuckDB oracles
compare bit-for-bit; anomaly z-scores are cleared of division entirely by
scaling both sides (see :func:`anomaly_days`).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import DUCK_TOKENS, tokens
from ..sources.events import DUCK_EVENTS_MS, read_events

# Imported, not re-hardcoded: the lag-gap and session_window boundary
# equivalence (pinned by the Hypothesis boundary suite) is structural —
# tuning the lag-gap sessionizer's gap cannot silently strand this side.
from ..streaming.stateful import DEFAULT_GAP_MS as SESSION_GAP_MS

MS_PER_DAY = 86_400_000


def _fdiv(num: str, den: int, div: str = "DIV") -> str:
    """FLOOR-division SQL fragment shared by both engines (only the
    division token differs): Spark ``DIV`` and DuckDB ``//`` both truncate
    toward ZERO, so an uncorrected epoch-day bucket 0 would span two
    calendar days (-86399999..86399999 ms) for pre-epoch timestamps —
    identically in both spellings, which is exactly why the cross-engine
    gate could never see it (round-12 review). The CASE correction makes
    the bucket a true floor, matching date_trunc-style day keys."""
    return (
        f"(({num}) {div} {den} - (CASE WHEN ({num}) % {den} < 0 "
        f"THEN 1 ELSE 0 END))"
    )

#: Funnel stage sequence: a later stage only counts when it happens strictly
#: after the (first qualifying occurrence of the) previous stage.
FUNNEL_STAGES = ("view", "click", "purchase")

#: Explicit pivot domain — passing it to ``pivot()`` skips Spark's eager
#: distinct-collection job (a full extra scan of the fact table at 100 TB).
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

PERCENTILES = (50, 90, 99)

TOP_TERMS_K = 3


def _cum_window() -> Window:
    """Cumulative event-order frame per user. ``event_id`` tie-breaks equal
    timestamps so both engines see the identical row order."""
    return (
        Window.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def funnel_frame(ev: DataFrame) -> DataFrame:
    """Frame-level funnel: ``(event_id, user_id, event_type, ts_ms)`` ->
    per-user stage times. See :func:`funnel` for semantics and scale shape;
    this form is what the property tests drive with synthetic streams."""
    w = _cum_window()
    v, c, p = (F.col("event_type") == s for s in FUNNEL_STAGES)
    ts = F.col("ts_ms")
    staged = (
        ev.withColumn("t1s", F.min(F.when(v, ts)).over(w))
        .withColumn("t2s", F.min(F.when(c & (ts > F.col("t1s")), ts)).over(w))
    )
    agg = staged.groupBy("user_id").agg(
        F.min(F.when(v, ts)).alias("t_view"),
        F.min(F.when(c & (ts > F.col("t1s")), ts)).alias("t_click"),
        F.min(F.when(p & (ts > F.col("t2s")), ts)).alias("t_purchase"),
    )
    stage_cols = [F.col(f"t_{s}") for s in FUNNEL_STAGES]
    stages = sum(
        (F.when(sc.isNotNull(), 1).otherwise(0) for sc in stage_cols), F.lit(0)
    )
    return agg.select(
        "user_id", *[f"t_{s}" for s in FUNNEL_STAGES],
        stages.cast("long").alias("stages_completed"),
    ).orderBy("user_id")


def funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase) per user.

    A stage-k event qualifies only if it occurs STRICTLY after the first
    qualifying stage-(k-1) event — the sequencing that a naive
    min-per-type aggregation gets wrong (a purchase before the first view
    must not count). Expressed as cascaded cumulative-window minima:
    ``t1s`` carries "first view so far", so a click row can test
    ``ts_ms > t1s`` locally; likewise ``t2s`` for purchases.

    Scale shape: both windows and the final per-user aggregate share ONE
    ``user_id`` hash exchange and one sort (same partitioning + ordering —
    plan-asserted). State per user is O(1); no self-joins, no per-stage
    re-scans of the fact table."""
    # NULL (ts_ms, event_id) rows have no position in the cascade's
    # ordering, and the engines rank NULLs at opposite window ends —
    # excluded on both sides (round-12 review)
    return funnel_frame(
        read_events(spark, sf_dir)
        .select("event_id", "user_id", "event_type", "ts_ms")
        .filter(F.col("ts_ms").isNotNull() & F.col("event_id").isNotNull())
    )


def check_anomaly_headroom(max_days: int, max_cnt: int) -> None:
    """Raise PlanningError when anomaly_days' squared z-test could exceed
    int64: the largest intermediates are ``dev^2 <= (n*max_cnt)^2`` and
    ``4*(n*q - s^2) <= 4*(n*max_cnt)^2``, so the binding bound is
    ``n * max_cnt <= isqrt(int64_max // 4)`` (~1.5e9 — 1e6 events/day
    needs < ~1500 active days; beyond that promote to decimal(38,0)).
    Pure so the trip condition is unit-testable without a pathological
    stream (the cms/bm25 guard pattern)."""
    import math

    i64 = 2**63 - 1
    if max_days > 0 and max_days * max_cnt > math.isqrt(i64 // 4):
        from ..errors import PlanningError

        raise PlanningError(
            f"anomaly z-test would exceed int64 headroom at max_days="
            f"{max_days}, max_cnt={max_cnt} (bound n*max_cnt <= "
            f"{math.isqrt(i64 // 4)}); pre-scale counts or promote the "
            "test arithmetic to decimal(38,0)"
        )


def retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by the week of their first
    event; for each (cohort_week, week_offset) the count of distinct users
    active that many weeks later.

    The first-event day rides a frame-less per-user window (one exchange on
    ``user_id``); the cohort aggregate then shuffles per-user-DAY rows —
    already collapsed far below the fact-table row count. Weeks are integer
    day//7 buckets of the epoch-day, so no calendar/timezone dependency."""
    # NULL-ts events have no day and are excluded explicitly (mirrored in
    # the oracle); day/week keys are true FLOOR divisions (see _fdiv)
    ev = read_events(spark, sf_dir).filter(F.col("ts_ms").isNotNull()).select(
        "user_id", F.expr(_fdiv("ts_ms", MS_PER_DAY)).alias("day")
    )
    # Collapse to per-user-day BEFORE windowing: the window then runs over
    # active-day rows, not raw events.
    days = ev.distinct()
    wu = Window.partitionBy("user_id")
    staged = days.withColumn("first_day", F.min("day").over(wu))
    return (
        staged.select(
            F.expr(_fdiv("first_day", 7)).alias("cohort_week"),
            F.expr(f"{_fdiv('day', 7)} - {_fdiv('first_day', 7)}").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily activity matrix: one row per epoch-day, one count column per
    event type. The pivot value list is EXPLICIT (:data:`EVENT_TYPES`), so
    Spark skips the eager collect-distinct job and plans a single
    partial/final aggregate — at 100 TB the implicit form would scan the
    fact table twice. Absent (day, type) combinations surface as 0, matching
    the oracle's ``COUNT(*) FILTER`` spelling."""
    ev = read_events(spark, sf_dir).filter(F.col("ts_ms").isNotNull()).select(
        F.expr(_fdiv("ts_ms", MS_PER_DAY)).alias("day"), "event_type"
    )
    # count(lit(1)), not count("*"): Pivot's aggregate slot rejects the star.
    pivoted = (
        ev.groupBy("day").pivot("event_type", list(EVENT_TYPES)).agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "day",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    ).orderBy("day")


def events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete p50/p90/p99 of the event value per event type, by rank
    selection: ``row_number`` over (value, event_id) within the type, pick
    the rank ``ceil(n*p/100)`` (computed as ``(n*p + 99) DIV 100`` — pure
    integer, no float quantile interpolation to diverge between engines).

    One sort exchange on ``event_type``; the rank filter is a conditional
    aggregate, not a join-back. This is the oracle-verifiable exact
    baseline — at 100 TB a mergeable sketch replaces the per-group sort,
    but group-local sorts (values of ONE type per task) also spill fine."""
    # NULL values have no rank (SQL aggregate semantics), and the two
    # engines rank NULLs at OPPOSITE ends of an ascending window (Spark
    # NULLS FIRST, DuckDB NULLS LAST) — exclude them explicitly, and the
    # NULL-id tie-break rows with them (mirrored in the oracle)
    ev = (
        read_events(spark, sf_dir)
        .select("event_type", "value_cents", "event_id")
        .filter(F.col("value_cents").isNotNull() & F.col("event_id").isNotNull())
    )
    wo = Window.partitionBy("event_type").orderBy("value_cents", "event_id")
    wp = Window.partitionBy("event_type")
    staged = ev.select(
        "event_type",
        "value_cents",
        F.row_number().over(wo).alias("rn"),
        F.count("*").over(wp).alias("cnt"),
    )
    return (
        staged.groupBy("event_type")
        .agg(
            F.max("cnt").cast("long").alias("n_events"),
            *[
                F.max(
                    F.when(
                        F.expr(f"rn = (cnt * {p} + 99) DIV 100"), F.col("value_cents")
                    )
                )
                .cast("long")
                .alias(f"p{p}_cents")
                for p in PERCENTILES
            ],
        )
        .orderBy("event_type")
    )


HIST_BINS = 256


def events_percentiles_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch percentiles — the mergeable, bounded-state companion
    to :func:`events_percentiles`'s exact rank selection (which sorts whole
    groups). Two passes over the fact table: a min/max/count aggregate to fix
    the bin domain, then a bin-count aggregate; everything downstream
    (cumulative counts, bin selection) operates on at most
    ``HIST_BINS * |event types|`` rows. At 100 TB this is the shape that
    works: sketch state is O(bins) per group regardless of group size, and
    histograms merge associatively across partitions (Spark's partial/final
    aggregate does the merge). The estimate reported is the selected bin's
    LOWER EDGE — deterministic integer arithmetic end-to-end, identical in
    the oracle (vs interpolated estimates, which would reintroduce float
    divergence). A production variant would take the domain from parquet
    footer min/max instead of pass 1."""
    # NULL values bin to NULL and sort at OPPOSITE window ends per engine
    # (the events_percentiles contract) — excluded on both sides
    ev = (
        read_events(spark, sf_dir)
        .select("event_type", "value_cents")
        .filter(F.col("value_cents").isNotNull())
    )
    stats = ev.groupBy("event_type").agg(
        F.min("value_cents").alias("mn"),
        F.max("value_cents").alias("mx"),
        F.count("*").alias("n"),
    )
    binned = ev.join(F.broadcast(stats), "event_type").select(
        "event_type",
        F.expr(f"((value_cents - mn) * {HIST_BINS}) DIV (mx - mn + 1)").alias("bin"),
    )
    hist = binned.groupBy("event_type", "bin").agg(F.count("*").alias("c"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select("event_type", "bin", F.sum("c").over(wcum).alias("cum"))
    sel = (
        cum.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.max("mn").alias("mn"),
            F.max("mx").alias("mx"),
            *[
                F.min(
                    F.when(F.expr(f"cum >= (n * {p} + 99) DIV 100"), F.col("bin"))
                ).alias(f"b{p}")
                for p in PERCENTILES
            ],
        )
    )
    return sel.select(
        "event_type",
        "n_events",
        *[
            F.expr(f"mn + (b{p} * (mx - mn + 1)) DIV {HIST_BINS}")
            .cast("long")
            .alias(f"p{p}_lo_cents")
            for p in PERCENTILES
        ],
    ).orderBy("event_type")


def anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user anomalous activity days: a (user, day) whose event count
    deviates from that user's across-days mean by more than 2 population
    standard deviations.

    The z-score test is cleared of division and square roots so it is exact
    in int64: with n = user's active days, S = sum of counts, Q = sum of
    squared counts, flag when ``(n*cnt - S)^2 > 4*(n*Q - S^2)``
    (both sides are the original inequality times n^2; 4 = z^2). Bounds
    are GUARDED, not assumed (round-12 review — the previous claim that
    1e6 events/day x 1e4 days fits was false: n*Q reaches 1e20 there):
    :func:`check_anomaly_headroom` raises once ``n * max_cnt`` exceeds
    ``isqrt(int64_max/4)`` (~1.5e9); beyond that promote to
    decimal(38,0).

    Scale shape: the fact table collapses to per-user-day counts first (one
    exchange); the moment statistics are frame-less windows over those tiny
    rows on the SAME user partitioning."""
    ev = read_events(spark, sf_dir).filter(F.col("ts_ms").isNotNull()).select(
        "user_id", F.expr(_fdiv("ts_ms", MS_PER_DAY)).alias("day")
    )
    daily = ev.groupBy("user_id", "day").agg(F.count("*").cast("long").alias("cnt"))
    # Guard the squared z-test's int64 headroom (the cms/bm25 pattern):
    # with ANSI off Spark WRAPS dev*dev / n*q silently while DuckDB's
    # HUGEINT window sums stay exact or raise — a silent cross-engine flag
    # flip. One KB-scale aggregate over the (already collapsed) daily rows.
    head = daily.groupBy("user_id").agg(
        F.count("*").alias("n"), F.max("cnt").alias("mc")
    ).agg(F.max("n").alias("n"), F.max("mc").alias("mc")).collect()[0]
    if head["n"] is not None:
        check_anomaly_headroom(int(head["n"]), int(head["mc"]))
    wu = Window.partitionBy("user_id")
    staged = daily.select(
        "user_id",
        "day",
        "cnt",
        F.count("*").over(wu).alias("n"),
        F.sum("cnt").over(wu).alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).over(wu).alias("q"),
    )
    dev = F.col("n") * F.col("cnt") - F.col("s")
    var_scaled = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    return staged.select(
        "user_id",
        "day",
        "cnt",
        (dev * dev > F.lit(4) * var_scaled).alias("is_anomaly"),
    ).orderBy("user_id", "day")


def top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-:data:`TOP_TERMS_K` TF-IDF terms per document. The idf weight is
    the integer surrogate ``score_ppm = floor(1e6 * tf / df)`` — order-
    equivalent to tf/df and exactly reproducible cross-engine (no ``ln``,
    whose last-bit rounding could flip ranks between engines); ties break on
    the term itself.

    Scale shape: term frequencies aggregate once on (doc_id, term);
    document frequencies are a VOCABULARY-sized table — orders of magnitude
    smaller than the corpus — broadcast back onto the tf rows so they never
    reshuffle on term. The final per-doc ranking window is the only other
    exchange."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    tf = (
        docs.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
        # tf feeds BOTH the df aggregate and the score join; without the
        # checkpoint each branch would re-scan and re-tokenize the whole
        # corpus (same recompute hazard the MinHash pipeline pins,
        # operators/dedup.py). Checkpointed tf is (doc, term, count) — far
        # smaller than the raw text it replaces. Non-eager: the dfreq
        # broadcast build is the first consumer stage and materializes it
        # before the probe side reads the cache (round 14).
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    scored = tf.join(F.broadcast(dfreq), "term").select(
        "doc_id",
        "term",
        # exact integer form — the double spelling's IEEE quotient can
        # floor wrongly once 1e6*tf nears 2^53 (the domain_token_profile
        # lesson); tf is doc-length-bounded so the product fits int64
        F.expr("(1000000 * tf) DIV df").cast("long").alias("score_ppm"),
    )
    wd = Window.partitionBy("doc_id").orderBy(F.col("score_ppm").desc(), F.col("term"))
    return (
        scored.select(
            "doc_id", "term", "score_ppm",
            F.row_number().over(wd).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= TOP_TERMS_K)
        .orderBy("doc_id", "rnk")
    )


def events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the ``props`` JSON payload with a
    TYPED schema (``from_json`` — one JVM-side parse into a struct, vs
    ``get_json_object`` re-parsing the string per extracted field) and
    aggregate by the extracted attribute's decile bucket.

    Scale shape: parse + bucket are map-only over the scan; one aggregate
    exchange. At 100 TB the typed parse also feeds schema enforcement —
    malformed payloads surface as NULLs countable per bucket (``n_null``
    here), instead of exploding row-at-a-time in Python."""
    raw = spark.read.parquet(f"{sf_dir}/events.parquet").select("props", "value")
    k = F.from_json("props", "k BIGINT").getField("k")
    return (
        raw.select(
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("value_cents"),
            k.alias("k"),
        )
        .groupBy(F.expr("k DIV 10").alias("k_decile"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("value_cents").cast("long").alias("total_cents"),
            F.count(F.when(F.col("k").isNull(), 1)).cast("long").alias("n_null"),
        )
        .orderBy("k_decile")
    )


def events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip of :func:`events_pivot` back to long form via the native
    ``unpivot`` (melt) operator — wide metric matrices are the interchange
    format analysts hand back to the engine, and unpivot is the one
    relational operator in this corpus Spark plans as a pure map-side
    Expand: zero additional exchanges beyond the pivot's (plan-asserted).
    Zero-count combinations are retained, so the long form is dense:
    |days| x |event types| rows."""
    wide = events_pivot(spark, sf_dir)
    long = wide.unpivot(
        ["day"], [f"n_{t}" for t in EVENT_TYPES], "event_type", "n"
    )
    return long.select(
        "day",
        # strip the pivot's n_ column prefix back off
        F.expr("substring(event_type, 3)").alias("event_type"),
        F.col("n").cast("long").alias("n"),
    ).orderBy("day", "event_type")


def event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-ordered event-type sequences — the sequence-construction
    primitive of a behavioral-LM training pipeline (one training example per
    user, tokens in event order).

    ONE shuffle on ``user_id``; the sort is per-group inside the aggregate
    (``array_sort`` over collected (ts, id, type) structs — the struct field
    order IS the sort key, with ``event_id`` breaking timestamp ties), so no
    global ordering is ever imposed. State per user = that user's events:
    bounded by per-user activity, not corpus size; a pathological hub user
    would be chunked upstream (see ``curation.chunk_documents`` for the
    pattern)."""
    # NULL (ts_ms, event_id) rows have no position in the sequence order
    # (array_sort vs string_agg NULL placement differs) — excluded on
    # both sides (round-12 review)
    ev = (
        read_events(spark, sf_dir)
        .select("user_id", "ts_ms", "event_id", "event_type")
        .filter(F.col("ts_ms").isNotNull() & F.col("event_id").isNotNull())
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts_ms", "event_id", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
                " ",
            ).alias("seq"),
        )
        .orderBy("user_id")
    )


# SESSION_GAP_MS is imported from streaming.stateful at the top of this
# module (one source of truth for the session gap).


def sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE ``session_window`` operator — the
    engine-level counterpart to the hand-rolled lag-gap sessionizer
    (``streaming/stateful.py``), exercised as its own operator because it
    plans differently: a session-window aggregate with merging session
    state, not a window-function cascade.

    The input timestamp is ms-TRUNCATED first (``timestamp_millis(ts_ms)``)
    so Spark's merge decision and the oracle's lag arithmetic happen at the
    same precision. Boundary pinned (by the Hypothesis boundary suite,
    falsifying example ``[(0, 0), (0, 100)]`` @ gap 100): an event EXACTLY
    gap after the previous one still MERGES — ``session_window`` extends
    while ``next_ts <= current_end`` — so the oracle splits on ``diff >
    gap``, the SAME convention as the lag-sessionizer. (The two operators
    still aren't hash-identical: this one emits end = last event + gap,
    the lag form emits the raw last-event time.) One shuffle on (user_id,
    session candidates); session state merges associatively in the
    partial/final aggregate."""
    # a NULL event time has no session; the lag oracle would rank it at
    # the opposite window end anyway — excluded on both sides
    ev = (
        read_events(spark, sf_dir)
        .select("user_id", "ts_ms")
        .filter(F.col("ts_ms").isNotNull())
    )
    return session_windows_frame(ev).orderBy("user_id", "start_ms")


def session_windows_frame(ev: DataFrame, gap_ms: int = SESSION_GAP_MS) -> DataFrame:
    """Frame-level native session windows: ``(user_id, ts_ms)`` ->
    ``(user_id, start_ms, end_gap_ms, n_events)``. See
    :func:`sessionize_native`; the property suite drives this against a
    Python reference on gap-boundary-hitting synthetic streams."""
    gap_expr = f"INTERVAL {gap_ms} MILLISECOND"
    sw = (
        ev.select("user_id", F.expr("timestamp_millis(ts_ms)").alias("et"))
        .groupBy("user_id", F.session_window("et", gap_expr))
        .agg(F.count("*").cast("long").alias("n_events"))
    )
    return sw.select(
        "user_id",
        F.expr("unix_millis(session_window.start)").alias("start_ms"),
        F.expr("unix_millis(session_window.end)").alias("end_gap_ms"),
        "n_events",
    )


BASKET_TOP_N = 20


def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the :data:`BASKET_TOP_N` most frequent
    part pairs appearing together in an order.

    Pair generation is the classic quadratic trap; here it is bounded and
    map-side: ONE shuffle collapses lineitems to per-order distinct part
    sets, then pairs explode from each basket array (O(k^2) with k = basket
    size, ~7 for TPC-H — never corpus-quadratic), feeding a partial/final
    support aggregate and a TakeOrdered top-N. A second shuffle for the
    support aggregate; nothing else. Ties at the cut break on the pair
    itself, so the top-N is deterministic."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    baskets = li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("parts"))
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, x -> "
                "transform(filter(parts, y -> y > x), y -> struct(x AS part_a, y AS part_b))))"
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").cast("long").alias("support"))
        .orderBy(F.col("support").desc(), "part_a", "part_b")
        .limit(BASKET_TOP_N)
    )


def rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (incremental view maintenance for
    a SUM/COUNT rollup): yesterday's stored per-type rollup is merged with
    an aggregate over ONLY the newest day's events — the production shape
    where the nightly job scans one day, not the whole history.

    Sum/count are associative partial aggregates, so merge = union the
    stored partials with the delta partials and re-aggregate; the result is
    provably identical to a full recompute, which is exactly what the
    DuckDB oracle runs (the driver's hash compare IS the IVM correctness
    proof). Here "yesterday's rollup" is simulated from the same table
    (days < cutoff) since the driver provides no stored state; in
    production that branch is a read of the tiny rollup table and only the
    delta branch touches the fact table — and its time filter compares the
    RAW ``ts`` column against a physical-type-matched literal
    (:func:`..sources.events.ts_cutoff_literal`) so it reaches the parquet
    scan as a pushed predicate (plan-tested; a filter on the derived day
    number would NOT push), which at 100 TB with day-partitioned layout
    prunes to one partition."""
    from ..sources.events import ts_cutoff_literal

    ev = read_events(spark, sf_dir)
    cutoff = ev.agg(
        F.max(F.expr(_fdiv("ts_ms", MS_PER_DAY)))
    ).collect()[0][0]  # the "new" day (1 scalar)
    # NULL-ts rows satisfy NEITHER time filter and would silently vanish
    # from the split while the full-recompute oracle counted them — an
    # unstamped fact cannot be maintained incrementally, so both spellings
    # exclude it explicitly (round-12 review)
    raw = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("ts").isNotNull()
    )
    if cutoff is None:
        # empty (or all-null-ts) stream: an empty rollup, not a TypeError
        # from None * MS_PER_DAY below (review fix, round 11)
        cutoff = 0
    boundary = ts_cutoff_literal(raw, cutoff * MS_PER_DAY)

    def _partial(df: DataFrame) -> DataFrame:
        return df.select(
            "event_type",
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("value_cents"),
        ).groupBy("event_type").agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("value_cents").cast("long").alias("total_cents"),
        )

    stored = _partial(raw.filter(F.col("ts") < boundary))  # stands in for the rollup table
    delta = _partial(raw.filter(F.col("ts") >= boundary))
    return (
        stored.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("total_cents").cast("long").alias("total_cents"),
        )
        .orderBy("event_type")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "funnel": funnel,
        "retention": retention,
        "events_pivot": events_pivot,
        "events_unpivot": events_unpivot,
        "events_percentiles": events_percentiles,
        "events_percentiles_hist": events_percentiles_hist,
        "anomaly_days": anomaly_days,
        "top_terms": top_terms,
        "events_json": events_json,
        "event_sequences": event_sequences,
        "sessionize_native": sessionize_native,
        "basket_pairs": basket_pairs,
        "rollup_incremental": rollup_incremental,
    }


_CUM = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
_TOKS = DUCK_TOKENS.format(x="text")


def oracles() -> dict[str, str]:
    pivot_cols = ",\n                   ".join(
        f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS n_{t}"
        for t in EVENT_TYPES
    )
    pct_cols = ",\n                   ".join(
        f"CAST(MAX(CASE WHEN rn = (cnt * {p} + 99) // 100 THEN value_cents END) AS BIGINT) AS p{p}_cents"
        for p in PERCENTILES
    )
    return {
        "funnel": f"""
            WITH e0 AS ({DUCK_EVENTS_MS}),
            e AS (SELECT * FROM e0
                  WHERE ts_ms IS NOT NULL AND event_id IS NOT NULL),
            w1 AS (
                SELECT user_id, event_type, ts_ms,
                       MIN(CASE WHEN event_type = 'view' THEN ts_ms END) OVER (
                           PARTITION BY user_id ORDER BY ts_ms, event_id {_CUM}) AS t1s,
                       event_id
                FROM e),
            w2 AS (
                SELECT *,
                       MIN(CASE WHEN event_type = 'click' AND ts_ms > t1s THEN ts_ms END) OVER (
                           PARTITION BY user_id ORDER BY ts_ms, event_id {_CUM}) AS t2s
                FROM w1),
            agg AS (
                SELECT user_id,
                       MIN(CASE WHEN event_type = 'view' THEN ts_ms END) AS t_view,
                       MIN(CASE WHEN event_type = 'click' AND ts_ms > t1s THEN ts_ms END) AS t_click,
                       MIN(CASE WHEN event_type = 'purchase' AND ts_ms > t2s THEN ts_ms END) AS t_purchase
                FROM w2 GROUP BY user_id)
            SELECT user_id, t_view, t_click, t_purchase,
                   CAST((CASE WHEN t_view IS NULL THEN 0 ELSE 1 END)
                      + (CASE WHEN t_click IS NULL THEN 0 ELSE 1 END)
                      + (CASE WHEN t_purchase IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS stages_completed
            FROM agg ORDER BY user_id
        """,
        "retention": f"""
            WITH e AS ({DUCK_EVENTS_MS}),
            days AS (
                SELECT DISTINCT user_id, {_fdiv('ts_ms', MS_PER_DAY, '//')} AS day
                FROM e WHERE ts_ms IS NOT NULL),
            staged AS (
                SELECT user_id, day,
                       MIN(day) OVER (PARTITION BY user_id) AS first_day
                FROM days)
            SELECT {_fdiv('first_day', 7, '//')} AS cohort_week,
                   {_fdiv('day', 7, '//')} - {_fdiv('first_day', 7, '//')} AS week_offset,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
            FROM staged
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "events_pivot": f"""
            WITH e AS ({DUCK_EVENTS_MS})
            SELECT {_fdiv('ts_ms', MS_PER_DAY, '//')} AS day,
                   {pivot_cols}
            FROM e WHERE ts_ms IS NOT NULL GROUP BY 1 ORDER BY 1
        """,
        "events_percentiles": f"""
            WITH e AS ({DUCK_EVENTS_MS}),
            staged AS (
                SELECT event_type, value_cents,
                       ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value_cents, event_id) AS rn,
                       COUNT(*) OVER (PARTITION BY event_type) AS cnt
                FROM e WHERE value_cents IS NOT NULL AND event_id IS NOT NULL)
            SELECT event_type,
                   CAST(MAX(cnt) AS BIGINT) AS n_events,
                   {pct_cols}
            FROM staged GROUP BY event_type ORDER BY event_type
        """,
        "events_percentiles_hist": f"""
            WITH e0 AS ({DUCK_EVENTS_MS}),
            e AS (SELECT * FROM e0 WHERE value_cents IS NOT NULL),
            stats AS (
                SELECT event_type, MIN(value_cents) AS mn, MAX(value_cents) AS mx,
                       COUNT(*) AS n
                FROM e GROUP BY 1),
            binned AS (
                SELECT e.event_type,
                       ((value_cents - mn) * {HIST_BINS}) // (mx - mn + 1) AS bin
                FROM e JOIN stats USING (event_type)),
            hist AS (
                SELECT event_type, bin, COUNT(*) AS c FROM binned GROUP BY 1, 2),
            cum AS (
                SELECT event_type, bin,
                       SUM(c) OVER (PARTITION BY event_type ORDER BY bin
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM hist),
            sel AS (
                SELECT c.event_type,
                       MAX(s.n) AS n, MAX(s.mn) AS mn, MAX(s.mx) AS mx,
                       {", ".join(f"MIN(CASE WHEN cum >= (s.n * {p} + 99) // 100 THEN bin END) AS b{p}" for p in PERCENTILES)}
                FROM cum c JOIN stats s USING (event_type)
                GROUP BY c.event_type)
            SELECT event_type,
                   CAST(n AS BIGINT) AS n_events,
                   {", ".join(f"CAST(mn + (b{p} * (mx - mn + 1)) // {HIST_BINS} AS BIGINT) AS p{p}_lo_cents" for p in PERCENTILES)}
            FROM sel ORDER BY event_type
        """,
        "anomaly_days": f"""
            WITH e AS ({DUCK_EVENTS_MS}),
            daily AS (
                SELECT user_id, {_fdiv('ts_ms', MS_PER_DAY, '//')} AS day,
                       CAST(COUNT(*) AS BIGINT) AS cnt
                FROM e WHERE ts_ms IS NOT NULL GROUP BY 1, 2),
            staged AS (
                SELECT user_id, day, cnt,
                       COUNT(*) OVER (PARTITION BY user_id) AS n,
                       SUM(cnt) OVER (PARTITION BY user_id) AS s,
                       SUM(cnt * cnt) OVER (PARTITION BY user_id) AS q
                FROM daily)
            SELECT user_id, day, cnt,
                   (n * cnt - s) * (n * cnt - s) > 4 * (n * q - s * s) AS is_anomaly
            FROM staged ORDER BY user_id, day
        """,
        # The IVM merge must be output-invisible: the oracle is the full
        # recompute over all days.
        "rollup_incremental": f"""
            WITH e AS ({DUCK_EVENTS_MS})
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(value_cents) AS BIGINT) AS total_cents
            FROM e WHERE ts_ms IS NOT NULL
            GROUP BY event_type ORDER BY event_type
        """,
        # > gap: an event EXACTLY gap after the previous one still merges
        # (session_window extends while next_ts <= current end), see
        # sessionize_native's docstring.
        "sessionize_native": f"""
            WITH e0 AS ({DUCK_EVENTS_MS}),
            e AS (SELECT * FROM e0 WHERE ts_ms IS NOT NULL),
            gaps AS (
                SELECT user_id, ts_ms,
                       CASE WHEN lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) IS NULL
                              OR ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) > {SESSION_GAP_MS}
                            THEN 1 ELSE 0 END AS new_session
                FROM e),
            numbered AS (
                SELECT user_id, ts_ms,
                       SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms
                                              {_CUM}) AS session_no
                FROM gaps)
            SELECT user_id,
                   CAST(MIN(ts_ms) AS BIGINT) AS start_ms,
                   CAST(MAX(ts_ms) + {SESSION_GAP_MS} AS BIGINT) AS end_gap_ms,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM numbered GROUP BY user_id, session_no
            ORDER BY user_id, start_ms
        """,
        "basket_pairs": f"""
            WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            pairs AS (
                SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
                FROM items a JOIN items b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
            SELECT part_a, part_b, CAST(COUNT(*) AS BIGINT) AS support
            FROM pairs GROUP BY 1, 2
            ORDER BY support DESC, part_a, part_b
            LIMIT {BASKET_TOP_N}
        """,
        "events_unpivot": f"""
            WITH e AS ({DUCK_EVENTS_MS}),
            d AS (SELECT DISTINCT {_fdiv('ts_ms', MS_PER_DAY, '//')} AS day
                  FROM e WHERE ts_ms IS NOT NULL),
            t AS (SELECT * FROM (VALUES {", ".join(f"('{t}')" for t in EVENT_TYPES)}) AS v(event_type)),
            c AS (SELECT {_fdiv('ts_ms', MS_PER_DAY, '//')} AS day, event_type, COUNT(*) AS n
                  FROM e WHERE ts_ms IS NOT NULL GROUP BY 1, 2)
            SELECT d.day, t.event_type, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
            FROM d CROSS JOIN t
            LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type
            ORDER BY d.day, t.event_type
        """,
        "event_sequences": f"""
            WITH e0 AS ({DUCK_EVENTS_MS}),
            e AS (SELECT * FROM e0
                  WHERE ts_ms IS NOT NULL AND event_id IS NOT NULL)
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   string_agg(event_type, ' ' ORDER BY ts_ms, event_id) AS seq
            FROM e GROUP BY user_id ORDER BY user_id
        """,
        # json_valid + TRY_CAST mirror Spark from_json's NULL-on-malformed
        # contract: bare json_extract/CAST RAISES on the first malformed or
        # non-numeric payload, a crash-vs-answer divergence on exactly the
        # rows this query exists to absorb (round-12 review)
        "events_json": """
            WITH k AS (
                SELECT CASE WHEN json_valid(props)
                            AND json_type(json_extract(props, '$.k'))
                                IN ('BIGINT', 'UBIGINT')
                            THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                       END AS k,
                       CAST(ROUND(value * 100) AS BIGINT) AS value_cents
                FROM events)
            SELECT k // 10 AS k_decile,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(value_cents) AS BIGINT) AS total_cents,
                   CAST(COUNT(CASE WHEN k IS NULL THEN 1 END) AS BIGINT) AS n_null
            FROM k
            GROUP BY 1 ORDER BY 1
        """,
        "top_terms": f"""
            WITH toks AS (
                SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
            tf AS (
                SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
                FROM toks GROUP BY 1, 2),
            dfreq AS (
                SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
            scored AS (
                SELECT doc_id, term,
                       CAST((1000000 * tf) // df AS BIGINT) AS score_ppm
                FROM tf JOIN dfreq USING (term)),
            ranked AS (
                SELECT doc_id, term, score_ppm,
                       ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY score_ppm DESC, term) AS rnk
                FROM scored)
            SELECT doc_id, term, score_ppm, rnk
            FROM ranked WHERE rnk <= {TOP_TERMS_K}
            ORDER BY doc_id, rnk
        """,
    }
