"""Streaming ingestion + windowed aggregation for the events table.

Scale notes: the file source discovers new files incrementally (object-store
listing only); the windowed aggregate is a streaming stateful operator whose
state is bounded by the watermark — late rows beyond ``watermark`` are
dropped, everything else lands in its event-time window. State is partitioned
by (window, event_type), the same hash shuffle a batch groupBy would use.
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.events import events_raw_schema, ts_event_time_expr


def read_events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 8,
    glob: str | None = None,
) -> DataFrame:
    """``readStream`` over a parquet directory of event files.

    Streaming file sources require an explicit schema (no inference at
    runtime); the schema is probed from the files' footers so ``ts`` matches
    whichever physical encoding the data has — BIGINT nanos or timestamp —
    instead of hardcoding one (sources/events.py). ``max_files_per_trigger``
    bounds micro-batch size (and lets tests force multi-batch execution to
    exercise cross-batch state). ``glob`` filters filenames within the
    directory (the file source requires a directory path, so a single-file
    layout is addressed as dir + glob)."""
    reader = spark.readStream.schema(events_raw_schema(path, glob)).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.parquet(path)
    # Watermarks require TIMESTAMP (with local timezone), not NTZ; the
    # session timezone is UTC so wall-clock values match the batch NTZ path.
    return df.withColumn("ts", ts_event_time_expr(df))


def _total_value() -> Column:
    """The order-insensitive fixed-point money aggregate — ONE statement of
    the spelling every streaming query and its oracle twin
    (``SUM(CAST(ROUND(value * 1e4) AS BIGINT)) / 1e4``,
    :data:`_DUCK_TOTAL_VALUE`) must share: a plain double SUM is
    fold-order-dependent and would hash-mismatch across engines, and a
    precision retune edited in one site but not the others silently breaks
    a query's oracle.

    DOMAIN PRECONDITION (round-12 review, documented rather than guarded —
    there is no natural collect point in a streaming hot path): |value|
    must stay below ~9.2e14 (int64_max / 1e4). Beyond it Spark's cast
    SATURATES with ANSI off while DuckDB's RAISES, and a sum past int64
    wraps on Spark while DuckDB promotes to HUGEINT — a silent
    succeed-vs-crash divergence. Money-typed inputs are orders of
    magnitude inside the bound; a feed that is not should pre-scale."""
    return (F.sum(F.round(F.col("value") * 1e4).cast("long")) / F.lit(1e4)).alias(
        "total_value"
    )


_DUCK_TOTAL_VALUE = "SUM(CAST(ROUND(value * 1e4) AS BIGINT)) / 1e4 AS total_value"


def windowed_counts(
    events: DataFrame, window: str = "1 day", watermark: str = "1 day"
) -> DataFrame:
    """Tumbling-window counts/sums per event type with late-data handling.

    On bounded input this converges to queries/adhoc/events_daily.sql
    (window start == date_trunc('day', ts) for the 1-day window)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            _total_value(),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("day"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 day",
    slide: str = "12 hours",
    watermark: str = "40 days",
) -> DataFrame:
    """Sliding-window counts/sums per event type: each event lands in
    ``window/slide`` overlapping windows (Spark expands it to all of them
    map-side; state is per (window, type) exactly like the tumbling case,
    just window/slide times as many entries within the watermark horizon).

    The trend-smoothing shape (24 h totals refreshed every 12 h). On bounded
    input it converges to the closed-form batch expansion the oracle spells
    as a two-way UNION ALL (window = 2 x slide here)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide), F.col("event_type"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            _total_value(),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing bounded replay of the sliding-window aggregate."""
    ev = read_events_stream(_stream_session(spark), sf_dir, glob="events.parquet")
    result = run_to_completion(
        sliding_counts(ev), query_name="stream_sliding", output_mode="complete"
    )
    return result.orderBy("win_start", "event_type")


SLIDE_MS = 43_200_000  # 12 hours; window = 2 x slide, mirrored in the oracle


def click_view_join(
    clicks: DataFrame,
    views: DataFrame,
    lookback: str = "10 minutes",
    watermark: str = "40 days",
) -> DataFrame:
    """Stream-stream interval join: every click paired with the same user's
    views from the preceding ``lookback`` — attribution as a streaming join.

    Both sides are watermarked and the join carries event-time bounds, so
    each side's buffered state is evicted once the other side's watermark
    passes ``lookback`` — state stays O(users × lookback rate), not O(stream).
    The ``watermark`` delay is the disorder tolerance: input arriving more
    than that behind the max seen event time may be dropped, so bounded
    replays that must be EXACT (the oracle-gated query below) use a delay
    wider than the dataset's span; a live deployment tunes it to real lag.
    Inner-join emissions are append-mode safe (a match is final when it
    happens)."""
    # ms-TRUNCATE the event times BEFORE the interval join (the
    # sessionize_native pattern): the oracle joins on ms-truncated ts_ms,
    # and a sub-millisecond timestamp would otherwise flip boundary pairs
    # between engines — the timestamp[us] encoding permits them even
    # though the synthetic data is whole-ms (round-12 review)
    c = clicks.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.expr("timestamp_millis(unix_micros(ts) DIV 1000)").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    v = views.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user_id"),
        F.expr("timestamp_millis(unix_micros(ts) DIV 1000)").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    joined = c.join(
        v,
        F.expr(
            f"c_user_id = v_user_id AND "
            f"view_ts BETWEEN click_ts - INTERVAL {lookback} AND click_ts"
        ),
    )
    return joined.select(
        "click_id",
        F.col("c_user_id").alias("user_id"),
        F.expr("unix_micros(click_ts) DIV 1000").alias("click_ts_ms"),
        "view_id",
        F.expr("unix_micros(view_ts) DIV 1000").alias("view_ts_ms"),
    )


STREAM_STATE_PARTITIONS = 8

# one stream clone per LIVE parent session: weak keys, not id()s, so a
# dead parent's entry falls out and a new session allocated at its address
# cannot receive a clone bound to a stopped context
_stream_sessions: "weakref.WeakKeyDictionary[SparkSession, SparkSession]" = (
    weakref.WeakKeyDictionary()
)


def _silence_unconditional_aqe_warning(spark: SparkSession) -> None:
    """Demote MicroBatchExecution's logger to ERROR.

    Spark 4.1's ``disableAQESupportInStatelessIfUnappropriated`` logs
    "Disabling AQE since AQE is not supported in stateful workloads" and
    force-sets the conf UNCONDITIONALLY whenever the analyzed plan holds a
    stateful operator — it never checks whether AQE is already off (verified
    by decompiling MicroBatchExecution.class: the logWarning precedes an
    unguarded conf.set). Pre-disabling AQE on the stream session (which this
    module already does) therefore cannot silence it; scoping that one
    logger to ERROR is the only lever. Every other logger keeps WARN."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # noqa: BLE001 - cosmetic; never fail a query over logging
        pass


def _stream_session(spark: SparkSession) -> SparkSession:
    """Sibling session with ``spark.sql.shuffle.partitions`` scoped to
    stream volume (see stream_click_attr's docstring), built once per live
    parent. State partitioning binds at query start from the DataFrame's
    own session, so rooting the stream in a clone leaves concurrent batch
    queries on the caller's session — and the caller's conf — untouched."""
    clone = _stream_sessions.get(spark)
    if clone is not None:
        return clone
    from ..session import scoped_session

    _silence_unconditional_aqe_warning(spark)
    clone = scoped_session(
        spark,
        {
            "spark.sql.shuffle.partitions": str(STREAM_STATE_PARTITIONS),
            # AQE is unsupported in streaming and force-disabled at query
            # start anyway; pre-disabling it on the scoped stream session
            # stops ResolveWriteToStream from warning on EVERY query start
            # (the repeated-warning noise that bloated GATE.txt) while
            # leaving batch queries on the caller's session fully adaptive.
            "spark.sql.adaptive.enabled": "false",
        },
    )
    _stream_sessions[spark] = clone
    return clone


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: one row per (user-bucket, event type, day)
    key, state evicted by watermark (``dropDuplicatesWithinWatermark``).

    The streaming half of exact dedup: per-key state lives only until the
    watermark passes, so a continuous deployment holds O(active keys within
    the disorder window) rather than O(stream history). Only the key columns
    are emitted — which physical row survives depends on arrival order, and
    must not leak into the result. On a bounded replay with a watermark wider
    than the dataset span this is exactly batch DISTINCT (the oracle)."""
    ev = read_events_stream(_stream_session(spark), sf_dir, glob="events.parquet")
    result = run_to_completion(
        dedup_keys_stream(ev), query_name="stream_dedup", output_mode="append"
    )
    return result.orderBy("user_bucket", "event_type", "day")


def dedup_keys_stream(ev: DataFrame, watermark: str = "40 days") -> DataFrame:
    """Frame-level streaming distinct on (user-bucket, event type, day)."""
    return (
        ev.withWatermark("ts", watermark)
        .select(
            (F.col("user_id") % 100).alias("user_bucket"),
            F.col("event_type"),
            # date_trunc (timestamp), not to_date: a DATE column round-trips
            # to pandas differently per engine; the truncated timestamp is
            # the same dtype on both sides (events_daily convention).
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("ts"),
        )
        .dropDuplicatesWithinWatermark(["user_bucket", "event_type", "day"])
        .select("user_bucket", "event_type", "day")
    )


def stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join + running aggregate: the event stream
    joins the static customer dimension (broadcast to every micro-batch —
    the stream side never shuffles for the join), then aggregates per
    (segment, event type).

    The canonical ingest shape: dimension lookup stays map-side however
    large the stream; only the tiny post-join aggregate state shuffles.
    Complete-mode emission of a finite-cardinality aggregate."""
    stream_spark = _stream_session(spark)
    ev = read_events_stream(stream_spark, sf_dir, glob="events.parquet")
    cust = (
        stream_spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    agg = (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            _total_value(),
        )
    )
    result = run_to_completion(agg, query_name="stream_enrich", output_mode="complete")
    return result.orderBy("c_mktsegment", "event_type")


def stream_click_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing bounded replay of the stream-stream attribution join.

    Stateful streaming allocates one state store per shuffle partition and
    pays its setup every micro-batch, so state partitioning should track
    stream VOLUME, not the batch session's shuffle width (32 partitions cost
    ~7 s of store churn on this replay vs ~2.5 s at 8; a high-volume
    production stream would size it up again). The width lives on a scoped
    sibling session, so batch queries on the caller's session are unaffected
    even when running concurrently."""
    stream_spark = _stream_session(spark)
    out = click_view_join(
        read_events_stream(stream_spark, sf_dir, glob="events.parquet"),
        read_events_stream(stream_spark, sf_dir, glob="events.parquet"),
    )
    result = run_to_completion(
        out, query_name="stream_click_attr", output_mode="append"
    )
    return result.orderBy("click_id", "view_id")


LOOKBACK_MS = 600_000  # 10 minutes, mirrored in the oracle below

STREAM_TOPK_N = 3


def stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-day top-:data:`STREAM_TOPK_N` event types by count:
    ``(day, rank, event_type, n_events)``.

    Structured Streaming does not support rank/window functions over a
    stream, so production top-k splits exactly as here: the STATEFUL part
    is the watermark-bounded tumbling aggregate (state = one counter per
    (window, type), continuously maintained); ranking happens ON the
    materialized aggregate at read time — a windows x types table, orders
    of magnitude smaller than the stream, so the rank is a trivially cheap
    batch pass however large the input was. Watermark spans the bounded
    replay so the gated result is exact (the ``stream_sliding`` contract);
    ties break to the lexicographically-first event type."""
    from pyspark.sql import Window

    ev = read_events_stream(_stream_session(spark), sf_dir, glob="events.parquet")
    agg = run_to_completion(
        windowed_counts(ev, watermark="40 days"),
        query_name="stream_topk",
        output_mode="complete",
    )
    w = Window.partitionBy("day").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= STREAM_TOPK_N)
        .select("day", "rank", "event_type", "n_events")
        .orderBy("day", "rank")
    )


def _topk_oracle() -> dict[str, str]:
    return {
        "stream_topk": f"""
            WITH agg AS (
                SELECT date_trunc('day', ts) AS day, event_type,
                       CAST(COUNT(*) AS BIGINT) AS n_events
                FROM events
                -- Spark's streaming window DROPS NULL event-time rows (no
                -- window to assign); the oracle must not keep a NULL day
                -- group (round-13 review)
                WHERE ts IS NOT NULL
                GROUP BY 1, 2
            ), r AS (
                SELECT day, event_type, n_events,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY day
                           ORDER BY n_events DESC, event_type) AS BIGINT) AS rank
                FROM agg
            )
            SELECT day, rank, event_type, n_events FROM r
            WHERE rank <= {STREAM_TOPK_N}
            ORDER BY day, rank
        """,
    }


def queries():
    return {
        "stream_click_attr": stream_click_attr,
        "stream_dedup": stream_dedup,
        "stream_enrich": stream_enrich,
        "stream_sliding": stream_sliding,
        "stream_topk": stream_topk,
    }


def oracles() -> dict[str, str]:
    return {
        **_topk_oracle(),
        "stream_dedup": """
            SELECT DISTINCT user_id % 100 AS user_bucket, event_type,
                   date_trunc('day', ts) AS day
            FROM events
            ORDER BY user_bucket, event_type, day
        """,
        "stream_enrich": f"""
            SELECT c_mktsegment, event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   {_DUCK_TOTAL_VALUE}
            FROM events JOIN customer ON user_id = c_custkey
            GROUP BY c_mktsegment, event_type
            ORDER BY c_mktsegment, event_type
        """,
        "stream_click_attr": f"""
            WITH ev AS (
                SELECT event_id, user_id, event_type,
                       epoch_ns(ts) // 1000000 AS ts_ms
                FROM events
            )
            SELECT c.event_id AS click_id, c.user_id,
                   c.ts_ms AS click_ts_ms,
                   v.event_id AS view_id, v.ts_ms AS view_ts_ms
            FROM ev c JOIN ev v
              ON v.user_id = c.user_id
             AND c.event_type = 'click' AND v.event_type = 'view'
             AND v.ts_ms BETWEEN c.ts_ms - {LOOKBACK_MS} AND c.ts_ms
            ORDER BY click_id, view_id
        """,
        # Closed-form expansion of the sliding window (window = 2 x slide,
        # epoch-aligned like Spark's): each event contributes to the slide
        # bucket it falls in and the one before it.
        "stream_sliding": f"""
            WITH ev AS (
                -- ts IS NOT NULL: F.window drops NULL event-time rows; the
                -- closed form must not invent a NULL window (round-13)
                SELECT event_type, epoch_ns(ts) // 1000000 AS ts_ms, value
                FROM events WHERE ts IS NOT NULL
            ), exp AS (
                -- floor-aligned slide bucket: DuckDB // truncates toward
                -- zero while Spark's F.window FLOOR-aligns, so pre-epoch
                -- events landed in different windows (round-12 review)
                SELECT event_type, value,
                       (ts_ms // {SLIDE_MS}
                        - (CASE WHEN ts_ms % {SLIDE_MS} < 0 THEN 1 ELSE 0 END))
                       * {SLIDE_MS} AS win_ms FROM ev
                UNION ALL
                SELECT event_type, value,
                       (ts_ms // {SLIDE_MS}
                        - (CASE WHEN ts_ms % {SLIDE_MS} < 0 THEN 1 ELSE 0 END))
                       * {SLIDE_MS} - {SLIDE_MS} AS win_ms FROM ev
            )
            SELECT make_timestamp(win_ms * 1000) AS win_start, event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   {_DUCK_TOTAL_VALUE}
            FROM exp GROUP BY win_ms, event_type
            ORDER BY win_start, event_type
        """,
    }


def run_to_completion(
    stream_df: DataFrame,
    query_name: str = "events_windowed",
    output_mode: str = "complete",
) -> DataFrame:
    """Drain a bounded stream with an availableNow trigger into a memory sink
    and return the final table (test/verification harness).

    The checkpoint is an EXPLICIT throwaway directory, removed after the
    drain: memory-sink replays are single-shot, and leaving Spark to invent
    a temp location makes ResolveWriteToStream warn on every start (noise
    that made GATE.txt diffs unreviewable) and leak best-effort-deleted
    /tmp dirs on abnormal exit.

    The EXECUTED micro-batch plan is recorded in
    :data:`LAST_STREAM_PLANS` under ``query_name`` — streaming plans never
    surface through the returned batch frame (it reads the memory sink),
    so this capture is the only audit trail of the stateful plan shape
    (PLANS.md section + tests/test_plans.py assertion)."""
    import shutil
    import tempfile

    spark = stream_df.sparkSession
    ckpt = tempfile.mkdtemp(prefix=f"stream_ckpt_{query_name}_")
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        try:
            # the StreamingQuery handle outlives termination; explainInternal
            # renders the LAST micro-batch's executed (codegen'd) plan
            LAST_STREAM_PLANS[query_name] = q._jsq.explainInternal(False)
        except Exception:  # noqa: BLE001 - plan capture must never fail a drain
            pass
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(query_name)


# query_name -> executed micro-batch plan text of the most recent
# run_to_completion drain (see its docstring)
LAST_STREAM_PLANS: dict[str, str] = {}
