"""Per-user sessionization: the ``sessionize`` and ``user_sessions`` queries.

A new session starts when the gap to the previous event of the same user
exceeds ``gap_ms``. :func:`sessionize_rollup` marks session starts with a lag
window over event time and rolls them up per user; :func:`sessionize` runs it
over the events table, and :func:`user_sessions` keeps one row per (user,
session) instead of per user. Both carry a DuckDB oracle that spells the same
lag window in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_GAP_MS = 60 * 60 * 1000  # 1 hour


def sessionize_rollup(keyed: DataFrame, gap_ms: int = DEFAULT_GAP_MS) -> DataFrame:
    """Closed-form sessionization over (user_id, ts_ms): lag window marks
    session starts, then one per-user rollup. Two shuffles on user_id (the
    window and the groupBy share partitioning, so AQE/EnsureRequirements
    reuses the exchange)."""
    w = Window.partitionBy("user_id").orderBy("ts_ms")
    gaps = keyed.withColumn(
        "new_session",
        F.when(
            F.lag("ts_ms").over(w).isNull()
            | ((F.col("ts_ms") - F.lag("ts_ms").over(w)) > gap_ms),
            1,
        ).otherwise(0),
    )
    return gaps.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("new_session").cast("long").alias("n_sessions"),
        F.max("ts_ms").cast("long").alias("last_ts_ms"),
    )


def sessionize(spark, sf_dir: str) -> DataFrame:
    """Driver-facing batch sessionization over the events table.

    ``ts_ms`` is integer-exact whichever physical encoding the parquet has
    (unit-adaptive shared reader, sources/events.py), so the DuckDB oracle
    (``epoch_ns(ts) // 1000000``) lands on identical values."""
    from ..sources.events import read_events

    # NULL event times are excluded on both engines: the lag windows rank
    # NULLs at OPPOSITE ends (Spark NULLS FIRST, DuckDB NULLS LAST), so
    # one NULL row silently changed n_sessions differently per engine
    # (round-12 review)
    keyed = (
        read_events(spark, sf_dir)
        .select("user_id", "ts_ms")
        .filter(F.col("ts_ms").isNotNull())
    )
    return sessionize_rollup(keyed).orderBy("user_id")


def user_sessions(spark, sf_dir: str, gap_ms: int = DEFAULT_GAP_MS) -> DataFrame:
    """Per-session interval table: one row per (user, session) with start,
    end, and event count — the drill-down companion to :func:`sessionize`'s
    per-user rollup (funnels, dwell-time analysis, session sampling all
    consume session rows, not user totals).

    Same lag-window session-start marks, then a running SUM numbers the
    sessions and one groupBy rolls them up. All three window/agg steps
    partition on ``user_id``, so EnsureRequirements reuses ONE hash
    exchange — adding the drill-down costs no extra shuffle over the
    rollup."""
    from ..sources.events import read_events

    keyed = (
        read_events(spark, sf_dir)
        .select("user_id", "ts_ms")
        .filter(F.col("ts_ms").isNotNull())  # the sessionize NULL contract
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms")
    gaps = keyed.withColumn(
        "new_session",
        F.when(
            F.lag("ts_ms").over(w).isNull()
            | ((F.col("ts_ms") - F.lag("ts_ms").over(w)) > gap_ms),
            1,
        ).otherwise(0),
    )
    numbered = gaps.withColumn(
        "session_no", F.sum("new_session").over(w).cast("long")
    )
    return (
        numbered.groupBy("user_id", "session_no")
        .agg(
            F.min("ts_ms").cast("long").alias("start_ms"),
            F.max("ts_ms").cast("long").alias("end_ms"),
            F.count("*").cast("long").alias("n_events"),
        )
        .orderBy("user_id", "session_no")
    )


def queries():
    return {"sessionize": sessionize, "user_sessions": user_sessions}


def oracles() -> dict[str, str]:
    return {
        "sessionize": f"""
            WITH keyed AS (
                SELECT user_id, epoch_ns(ts) // 1000000 AS ts_ms FROM events
                WHERE ts IS NOT NULL
            ), gaps AS (
                SELECT user_id, ts_ms,
                       CASE WHEN lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) IS NULL
                              OR ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) > {DEFAULT_GAP_MS}
                            THEN 1 ELSE 0 END AS new_session
                FROM keyed
            )
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(new_session) AS BIGINT) AS n_sessions,
                   CAST(MAX(ts_ms) AS BIGINT) AS last_ts_ms
            FROM gaps GROUP BY user_id ORDER BY user_id
        """,
        "user_sessions": f"""
            WITH keyed AS (
                SELECT user_id, epoch_ns(ts) // 1000000 AS ts_ms FROM events
                WHERE ts IS NOT NULL
            ), gaps AS (
                SELECT user_id, ts_ms,
                       CASE WHEN lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) IS NULL
                              OR ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) > {DEFAULT_GAP_MS}
                            THEN 1 ELSE 0 END AS new_session
                FROM keyed
            ), numbered AS (
                SELECT user_id, ts_ms,
                       CAST(SUM(new_session) OVER (
                           PARTITION BY user_id ORDER BY ts_ms
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS BIGINT) AS session_no
                FROM gaps
            )
            SELECT user_id, session_no,
                   CAST(MIN(ts_ms) AS BIGINT) AS start_ms,
                   CAST(MAX(ts_ms) AS BIGINT) AS end_ms,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM numbered GROUP BY user_id, session_no
            ORDER BY user_id, session_no
        """,
    }
