"""Streaming windowed aggregation converges to the batch oracle.

The batch query queries/adhoc/events_daily.sql defines the semantics; the
streaming path (file source -> watermark -> tumbling window -> memory sink)
must produce the same rows on bounded input."""

from __future__ import annotations

import shutil

import pytest

from datafusion_distributed_experiment_spark.streaming import (
    read_events_stream,
    windowed_counts,
)
from datafusion_distributed_experiment_spark.streaming.events import run_to_completion

from ._compare import assert_frames_match
from .conftest import SF_DIR

# Cross-batch convergence is asserted at BOTH scale factors: the tiny one for
# fast iteration, the driver's verify scale so its data (including any future
# encoding drift) exercises watermark semantics too — these tests are the only
# coverage of cross-batch state correctness.
SF_DIRS = [SF_DIR, "/root/testdata/sf0.01"]


def _sf_tag(sf_dir: str) -> str:
    return sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-0.parquet")
    return str(d)


def test_streaming_matches_batch_daily(spark, engine, events_dir):
    stream = read_events_stream(spark, events_dir)
    assert stream.isStreaming
    result = run_to_completion(windowed_counts(stream), "t_events_daily").toPandas()

    from datafusion_distributed_experiment_spark import queries as corpus

    batch = engine.sql(corpus.load("adhoc/events_daily")).toPandas()
    assert_frames_match(result, batch, "streaming_vs_batch")


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=_sf_tag)
def test_stream_stream_join_converges_across_batches(spark, tmp_path, duck, sf_dir):
    """The stream-stream attribution join must find click↔view matches whose
    two sides arrive in DIFFERENT micro-batches (interleaved stripes, one
    file per trigger): buffered join state carries each side until the other
    side's watermark clears it. Oracle: the batch inequality join."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from datafusion_distributed_experiment_spark.streaming.events import (
        click_view_join,
        read_events_stream,
        run_to_completion,
    )

    table = ds.dataset(f"{sf_dir}/events.parquet").to_table()
    d = tmp_path / "ss_striped"
    d.mkdir()
    for i in range(3):
        idx = [j for j in range(table.num_rows) if j % 3 == i]
        pq.write_table(table.take(idx), d / f"stripe-{i}.parquet")

    out = click_view_join(
        read_events_stream(spark, str(d), max_files_per_trigger=1),
        read_events_stream(spark, str(d), max_files_per_trigger=1),
    )
    got = (
        run_to_completion(out, f"t_ss_join_{_sf_tag(sf_dir)}", output_mode="append")
        .orderBy("click_id", "view_id")
        .toPandas()
    )
    want = duck.execute(
        f"""
        WITH ev AS (
            SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000000 AS ts_ms
            FROM '{sf_dir}/events.parquet'
        )
        SELECT c.event_id AS click_id, c.user_id, c.ts_ms AS click_ts_ms,
               v.event_id AS view_id, v.ts_ms AS view_ts_ms
        FROM ev c JOIN ev v
          ON v.user_id = c.user_id
         AND c.event_type = 'click' AND v.event_type = 'view'
         AND v.ts_ms BETWEEN c.ts_ms - 600000 AND c.ts_ms
        ORDER BY click_id, view_id
        """
    ).df()
    assert len(got) > 0  # matches exist, so the comparison is not vacuous
    assert_frames_match(got, want, "stream_stream_join_vs_batch")


def test_watermark_present_in_plan(spark, events_dir):
    stream = windowed_counts(read_events_stream(spark, events_dir), watermark="2 hours")
    explain = stream._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in explain


def test_stream_restart_is_exactly_once(spark, tmp_path):
    """Checkpointed file-source offsets survive a query restart: after
    stopping, adding new input files, and restarting with the same
    checkpoint, the parquet sink holds every event exactly once — no
    reprocessing of already-committed files, no gaps."""
    import shutil

    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    table = ds.dataset(f"{SF_DIR}/events.parquet").to_table()
    half = table.num_rows // 2
    src = tmp_path / "src"
    src.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    pq.write_table(table.slice(0, half), src / "a.parquet")

    def run_once():
        stream = read_events_stream(spark, str(src))
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = spark.read.parquet(sink).count()
    assert first == half
    pq.write_table(table.slice(half), src / "b.parquet")
    run_once()
    out = spark.read.parquet(sink)
    assert out.count() == table.num_rows  # a.parquet not reprocessed, b fully in
    assert out.select("event_id").distinct().count() == table.num_rows


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=_sf_tag)
def test_stream_dedup_converges_across_batches(spark, tmp_path, duck, sf_dir):
    """Streaming distinct must emit each key exactly once even when the
    key's occurrences span micro-batches (interleaved stripes, one file per
    trigger): dedup state persists across batches until the watermark clears
    it. Oracle: batch DISTINCT."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from datafusion_distributed_experiment_spark.streaming.events import (
        dedup_keys_stream,
        read_events_stream,
        run_to_completion,
    )

    table = ds.dataset(f"{sf_dir}/events.parquet").to_table()
    d = tmp_path / "dd_striped"
    d.mkdir()
    for i in range(3):
        idx = [j for j in range(table.num_rows) if j % 3 == i]
        pq.write_table(table.take(idx), d / f"stripe-{i}.parquet")

    got = (
        run_to_completion(
            dedup_keys_stream(read_events_stream(spark, str(d), max_files_per_trigger=1)),
            f"t_stream_dedup_{_sf_tag(sf_dir)}",
            output_mode="append",
        )
        .orderBy("user_bucket", "event_type", "day")
        .toPandas()
    )
    want = duck.execute(
        f"""
        SELECT DISTINCT user_id % 100 AS user_bucket, event_type,
               date_trunc('day', ts) AS day
        FROM '{sf_dir}/events.parquet'
        ORDER BY user_bucket, event_type, day
        """
    ).df()
    assert len(got) < table.num_rows  # the dedup actually collapsed rows
    assert_frames_match(got, want, "stream_dedup_vs_batch_distinct")


# NOTE (round 4): a test asserting that rows arriving AFTER the watermark
# passed their window are DROPPED was written and then removed after
# empirical verification: Spark's watermark contract is one-directional —
# data within the delay is guaranteed kept, but dropping beyond it is
# best-effort in every output mode (observed numRowsDroppedByWatermark == 0
# for a 10-days-late row under a 1-hour delay, in update AND append, with
# the row aggregated and emitted). The guaranteed side (convergence with a
# delay wider than the disorder) is what the tests above assert.


def test_streaming_session_window_matches_batch_native(spark, tmp_path):
    """Spark's native session_window in STREAMING mode: events striped
    across micro-batches out of event-time order must merge into the exact
    session intervals the batch sessionize_native produces — the merging
    session state is maintained across triggers (complete mode, so closed
    AND open sessions are all emitted at the end)."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from datafusion_distributed_experiment_spark.operators.analytics import (
        sessionize_native,
    )
    from datafusion_distributed_experiment_spark.sources.events import ts_ms_expr

    table = ds.dataset(f"{SF_DIR}/events.parquet").to_table()
    d = tmp_path / "sw_striped"
    d.mkdir()
    for i in range(3):
        idx = [j for j in range(table.num_rows) if j % 3 == i]
        pq.write_table(table.take(idx), d / f"stripe-{i}.parquet")

    from pyspark.sql import functions as F

    stream = read_events_stream(spark, str(d), max_files_per_trigger=1)
    keyed = stream.select(
        "user_id", F.timestamp_millis(ts_ms_expr(stream)).alias("et")
    )
    agg = keyed.groupBy("user_id", F.session_window("et", "1 hour")).agg(
        F.count("*").cast("long").alias("n_events")
    )
    q = (
        agg.select(
            "user_id",
            F.expr("unix_millis(session_window.start)").alias("start_ms"),
            F.expr("unix_millis(session_window.end)").alias("end_gap_ms"),
            "n_events",
        )
        .writeStream.format("memory")
        .queryName("t_sw_native")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_sw_native").toPandas()
    batch = sessionize_native(spark, SF_DIR).toPandas()
    assert_frames_match(got, batch, "streaming_session_window_vs_batch")


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=_sf_tag)
def test_stream_topk_converges_across_adversarial_batches(spark, tmp_path, duck, sf_dir):
    """Per-day top-k over interleaved out-of-order micro-batch stripes must
    converge to the batch oracle: a day's counter accumulates across
    batches (state = one counter per (window, type)), and the read-time
    rank sees only FINAL counts. A rank computed per-batch instead of on
    the materialized aggregate would mis-rank any day whose counts span
    stripes — the failure mode this pins out."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datafusion_distributed_experiment_spark.streaming.events import (
        STREAM_TOPK_N,
        read_events_stream,
        run_to_completion,
        windowed_counts,
    )

    table = ds.dataset(f"{sf_dir}/events.parquet").to_table()
    d = tmp_path / "topk_striped"
    d.mkdir()
    for i in range(3):
        idx = [j for j in range(table.num_rows) if j % 3 == i]
        pq.write_table(table.take(idx), d / f"stripe-{i}.parquet")

    agg = run_to_completion(
        windowed_counts(
            read_events_stream(spark, str(d), max_files_per_trigger=1),
            watermark="40 days",
        ),
        f"t_stream_topk_{_sf_tag(sf_dir)}",
        output_mode="complete",
    )
    w = Window.partitionBy("day").orderBy(F.col("n_events").desc(), F.col("event_type"))
    got = (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= STREAM_TOPK_N)
        .select("day", "rank", "event_type", "n_events")
        .orderBy("day", "rank")
        .toPandas()
    )
    want = duck.execute(
        f"""
        WITH agg AS (
            SELECT date_trunc('day', ts) AS day, event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM '{sf_dir}/events.parquet' GROUP BY 1, 2
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
        """
    ).df()
    assert_frames_match(got, want, "stream_topk_vs_batch")
