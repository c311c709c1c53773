"""Distribution-shape parity tests.

Analogs of the reference's remaining integration tests:

- highly-distributed scan: SELECT * through chained repartition stages
  (1 -> 10 -> 5 -> 1 task fan, reference tests/highly_distributed_query.rs:29-35)
  preserves every row.
- NOT IN with nullable subquery column: three-valued-logic corner called out
  in SURVEY §7.4 — one NULL in the subquery empties the result.
- .tbl conversion CLI round trip (reference benchmarks/src/tpch/convert.rs).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_chained_repartition_preserves_rows(engine):
    """The reference's 1M-row 3-exchange fan test, as row-count parity."""
    base = engine.table("lineitem")
    n = base.count()
    fanned = base.repartition(10).repartition(5, "l_orderkey").coalesce(1)
    assert fanned.count() == n
    assert fanned.rdd.getNumPartitions() == 1


def test_repartition_hash_vs_roundrobin_same_rows(engine):
    """Round-robin and hash repartitioning produce complete partition sets
    (the two Partitioning variants the reference ships over the wire,
    reference src/plan/arrow_flight_read.rs:48-52)."""
    base = engine.table("orders").select("o_orderkey")
    rr = base.repartition(7)
    hashed = base.repartition(7, "o_orderkey")
    assert rr.count() == hashed.count() == base.count()
    # hash partitioning is value-deterministic: same key -> same partition
    parts = hashed.withColumn("pid", F.spark_partition_id())
    assert parts.groupBy("o_orderkey").agg(F.countDistinct("pid").alias("n")).filter(
        "n > 1"
    ).count() == 0


def test_not_in_with_null_subquery_is_empty(engine):
    """NOT IN over a subquery that yields a NULL selects nothing (3VL)."""
    engine.spark.sql(
        "SELECT 1 AS k UNION ALL SELECT NULL AS k"
    ).createOrReplaceTempView("with_null_keys")
    out = engine.sql(
        "SELECT COUNT(*) AS n FROM nation WHERE n_nationkey NOT IN (SELECT k FROM with_null_keys)"
    ).collect()
    assert out[0].n == 0


def test_convert_cli_roundtrip(engine, tmp_path):
    import os
    import subprocess
    import sys

    from .conftest import REPO_DIR

    src = engine.sql("SELECT n_nationkey, n_name, n_regionkey FROM nation")
    tbl = tmp_path / "nation.tbl"
    tbl.write_text(
        "".join(f"{r.n_nationkey}|{r.n_name}|{r.n_regionkey}|\n" for r in src.collect())
    )
    out = tmp_path / "nation_pq"
    res = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO_DIR, "scripts", "convert.py"),
            "--input",
            str(tbl),
            "--table",
            "nation",
            "--output",
            str(out),
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "wrote 25 rows" in res.stdout


def test_results_survive_forced_spill_pressure(engine, spark):
    """Spill-path differential (the reference's --memory-limit/--mem-pool
    scenario, benchmarks/src/util/options.rs:46-59,90-115): with the
    sort-merge-join and window buffers forced to spill every few rows, a
    join+aggregate and a window query must produce identical results to the
    unpressured run — Spark's UnifiedMemoryManager spill machinery is the
    engine's memory-limit answer, and it must be lossless."""
    join_sql = (
        "SELECT o_orderpriority, COUNT(*) AS n, "
        "SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cents "
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    )
    window_sql = (
        "SELECT l_orderkey, l_linenumber, "
        "CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) OVER "
        "(PARTITION BY l_orderkey ORDER BY l_linenumber) AS BIGINT) AS run_qty "
        "FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 500"
    )
    plain = [engine.sql(q).collect() for q in (join_sql, window_sql)]

    pressured = spark.newSession()
    from datafusion_distributed_experiment_spark import Engine

    peng = Engine(pressured)  # engine defaults first...
    # ...then the pressure overrides: spill after a handful of buffered
    # rows, and force the sort-merge path so the spilling buffers are
    # actually on the plan (broadcast would bypass them)
    for k, v in {
        "spark.sql.sortMergeJoinExec.buffer.spill.threshold": "16",
        "spark.sql.windowExec.buffer.spill.threshold": "16",
        "spark.sql.join.preferSortMergeJoin": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }.items():
        pressured.conf.set(k, v)
    from .conftest import SF_DIR

    peng.register_sf_dir(SF_DIR)
    plan = peng.sql(join_sql)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan[:1500]
    under_pressure = [peng.sql(q).collect() for q in (join_sql, window_sql)]
    assert under_pressure == plain


def test_round5_window_operators_survive_forced_spill(spark):
    """Spill differential for the round-5 window-cascade / collected-state
    operators: funnel (two chained window buffers), events_percentiles
    (rank window), event_sequences (aggregation buffers) must be value-
    identical with window/aggregation buffers spilling every 16 rows."""
    from datafusion_distributed_experiment_spark.operators.analytics import (
        event_sequences,
        events_percentiles,
        funnel,
    )

    from .conftest import SF_DIR

    ops = (funnel, events_percentiles, event_sequences)
    plain = [sorted(tuple(r) for r in op(spark, SF_DIR).collect()) for op in ops]

    pressured = spark.newSession()
    for k, v in {
        "spark.sql.windowExec.buffer.spill.threshold": "16",
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "16",
    }.items():
        pressured.conf.set(k, v)
    spilled = [sorted(tuple(r) for r in op(pressured, SF_DIR).collect()) for op in ops]
    assert spilled == plain
