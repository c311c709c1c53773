"""Engine registration paths, script execution, sinks.

Covers the reference's table-registration surfaces (parquet listing tables,
csv/.tbl with explicit schema, MemTable — reference tests/tpch.rs:149-161,
benchmarks/src/tpch/run.rs:226-235,294-309) and the multi-statement q15
script (run.rs:186-199)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from datafusion_distributed_experiment_spark.engine import split_sql_script

from .conftest import SF_DIR


def test_register_parquet_infers_schema(engine):
    df = engine.table("lineitem")
    assert "l_orderkey" in df.columns
    assert dict(df.dtypes)["l_shipdate"].startswith("timestamp")


def test_register_csv_and_tbl(engine, tmp_path):
    # csv with header
    src = engine.sql("SELECT n_nationkey, n_name FROM nation")
    engine.write_csv(src, str(tmp_path / "nation_csv"))
    engine.register_csv(
        "nation_csv", str(tmp_path / "nation_csv"), schema="n_nationkey INT, n_name STRING"
    )
    assert engine.sql("SELECT COUNT(*) AS n FROM nation_csv").collect()[0].n == 25

    # pipe-delimited .tbl with trailing | (reference convert.rs:97-106)
    tbl = tmp_path / "nation.tbl"
    rows = src.collect()
    tbl.write_text("".join(f"{r.n_nationkey}|{r.n_name}|\n" for r in rows))
    engine.register_tbl("nation_tbl", str(tbl), "n_nationkey INT, n_name STRING")
    df = engine.table("nation_tbl")
    assert df.columns == ["n_nationkey", "n_name"]  # placeholder dropped
    assert df.count() == 25


def test_register_json_roundtrip(engine, tmp_path):
    src = engine.sql("SELECT n_nationkey, n_name FROM nation")
    src.write.json(str(tmp_path / "nation_json"))
    engine.register_json(
        "nation_json", str(tmp_path / "nation_json"),
        schema="n_nationkey INT, n_name STRING",
    )
    df = engine.table("nation_json")
    assert df.columns == ["n_nationkey", "n_name"]  # schema-first, no inference
    assert df.count() == 25
    got = {r.n_nationkey: r.n_name for r in df.collect()}
    assert got == {r.n_nationkey: r.n_name for r in src.collect()}


def test_register_mem(engine):
    df = engine.sql("SELECT * FROM region")
    engine.register_mem("region_mem", df, partitions=2)
    assert engine.sql("SELECT COUNT(*) AS n FROM region_mem").collect()[0].n == 5
    assert engine.table("region_mem").rdd.getNumPartitions() == 2


def test_sql_script_view_lifecycle(engine):
    """The reference's q15 3-statement form: create view; select; drop view."""
    out = engine.sql_script(
        """
        CREATE OR REPLACE TEMPORARY VIEW revenue_t AS
            SELECT l_suppkey, SUM(l_extendedprice) AS total FROM lineitem GROUP BY l_suppkey;
        SELECT COUNT(*) AS n FROM revenue_t;
        DROP VIEW revenue_t
        """,
        result_statement=1,
    )
    assert out.collect()[0].n == 10
    # view is gone afterwards
    assert "revenue_t" not in [t.name for t in engine.spark.catalog.listTables()]


def test_split_sql_script_respects_quotes():
    stmts = split_sql_script("SELECT ';'; SELECT 'it''s'; SELECT 1")
    assert stmts == ["SELECT ';'", "SELECT 'it''s'", "SELECT 1"]


def test_split_sql_script_ignores_apostrophes_in_comments():
    """An apostrophe inside a -- comment must not open a string literal and
    swallow the statement separators after it."""
    stmts = split_sql_script(
        "-- the reference's form\nSELECT 1;\nSELECT 2 -- don't\n; SELECT 3"
    )
    assert stmts == ["-- the reference's form\nSELECT 1", "SELECT 2 -- don't", "SELECT 3"]


def test_parquet_roundtrip_with_compression(engine, tmp_path):
    df = engine.sql("SELECT * FROM nation")
    engine.write_parquet(df, str(tmp_path / "nation_pq"), compression="zstd")
    back = engine.spark.read.parquet(str(tmp_path / "nation_pq"))
    assert back.count() == 25


def test_engine_configures_external_session(spark):
    """Round-1 regression: an externally built SparkSession (the driver's
    harness builds its own) must receive the engine's runtime confs —
    notably ``nanosAsLong``, without which ``events.parquet``
    (TIMESTAMP NANOS) is unreadable and every registration-path query dies."""
    from datafusion_distributed_experiment_spark import Engine

    # Simulate a vanilla session: strip the confs build_session applied.
    for k in (
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.session.timeZone",
        "spark.sql.ansi.enabled",
    ):
        spark.conf.unset(k)

    eng = Engine(spark)  # must re-apply engine confs to the session it is given
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    # The poisoned-catalog scenario: events.parquet reads fine again.
    failures = eng.register_sf_dir(SF_DIR, tables=["events"])
    assert failures == {}
    assert eng.sql("SELECT COUNT(*) AS n FROM events").collect()[0].n > 0


def test_register_sf_dir_isolates_per_table(engine, tmp_path):
    """One unreadable file must not poison the other tables' registration."""
    ok = engine.sql("SELECT * FROM region")
    engine.write_parquet(ok, str(tmp_path / "good.parquet"))
    (tmp_path / "bad.parquet").write_text("not parquet at all")
    failures = engine.register_sf_dir(str(tmp_path), tables=["bad", "good"])
    assert set(failures) == {"bad"}
    assert engine.sql("SELECT COUNT(*) AS n FROM good").collect()[0].n == 5


def test_orc_round_trip(engine, tmp_path):
    """ORC sink -> source round trip preserves rows and schema."""
    src = engine.spark.table("nation")
    engine.write_orc(src, str(tmp_path / "nation_orc"))
    back = engine.register_orc("nation_orc", str(tmp_path / "nation_orc"))
    assert back.schema == src.schema
    assert sorted(r.n_name for r in back.collect()) == sorted(
        r.n_name for r in src.collect()
    )


def test_dynamic_partition_overwrite_replaces_only_written_partitions(engine, tmp_path):
    """Rewriting one partition's data must leave every other partition's
    files intact — the incremental-ingest contract (static overwrite would
    truncate the table)."""
    from pyspark.sql import functions as F

    spark = engine.spark
    path = str(tmp_path / "orders_inc")
    src = spark.table("orders").select("o_orderkey", "o_totalprice", "o_orderpriority")
    engine.write_parquet(src, path, partition_by=["o_orderpriority"])
    before = spark.read.parquet(path).count()
    assert before == src.count()

    # Re-ingest ONE priority with doubled prices.
    one = src.filter(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    engine.overwrite_partitions(one, path, ["o_orderpriority"])

    back = spark.read.parquet(path)
    assert back.count() == before  # untouched partitions still present
    got = back.filter(F.col("o_orderpriority") == "1-URGENT").agg(
        F.sum("o_totalprice")
    ).collect()[0][0]
    want = 2 * src.filter(F.col("o_orderpriority") == "1-URGENT").agg(
        F.sum("o_totalprice")
    ).collect()[0][0]
    assert abs(got - want) < 1e-6
    # session conf restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static") != "dynamic"
    )


_PART_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # a (partition column)
        st.integers(min_value=0, max_value=1),    # b (partition column)
        st.integers(min_value=-50, max_value=50),  # v
    ),
    min_size=1,
    max_size=25,
)


@given(rows=_PART_ROWS, stale=_PART_ROWS, n_dirs=st.integers(min_value=1, max_value=8))
@settings(max_examples=8, deadline=None)
def test_write_partitioned_replaces_the_whole_layout(
    spark, tmp_path_factory, rows, stale, n_dirs
):
    """The one writer behind both persisted indexes, for ARBITRARY rows
    over a stale layout: the table on disk is EXACTLY the new rows, a
    stale partition the new rows lack has no directory left, and every
    partition directory holds one data file — also where the stale
    layout wrote several files into a directory the new rows reuse."""
    import os

    from datafusion_distributed_experiment_spark.sources.tables import (
        write_partitioned,
    )

    schema = "id long, v long, a long, b long"
    path = str(tmp_path_factory.mktemp("partitioned") / "t")
    stale_rows = [(1000 + i, v, a, b) for i, (a, b, v) in enumerate(stale)]
    (
        spark.createDataFrame(stale_rows + [(-1, 0, 9, 0)], schema)
        .repartition(3)
        .write.partitionBy("a", "b")
        .parquet(path)
    )
    new_rows = [(i, v, a, b) for i, (a, b, v) in enumerate(rows)]
    write_partitioned(spark.createDataFrame(new_rows, schema), path, ["a", "b"], n_dirs)

    got = sorted(
        (int(r["id"]), int(r["v"]), int(r["a"]), int(r["b"]))
        for r in spark.read.parquet(path).collect()
    )
    assert got == sorted(new_rows)
    assert not os.path.exists(os.path.join(path, "a=9")), "stale partition survived"
    part_dirs = [
        os.path.join(path, da, db)
        for da in os.listdir(path)
        if da.startswith("a=")
        for db in os.listdir(os.path.join(path, da))
    ]
    assert len(part_dirs) == len({(a, b) for _, _, a, b in new_rows})
    for d in part_dirs:
        data = [f for f in os.listdir(d) if not f.startswith((".", "_"))]
        assert len(data) == 1, (d, data)


def test_narrow_scan_width_estimate_agrees_with_rdd(spark, tmp_path):
    """Footer-based narrowness (the 100 TB-safe path — no df.rdd
    materialization) must agree with the RDD-derived partition count on both
    a genuinely narrow source and a many-file one."""
    from pyspark.sql import functions as F

    from datafusion_distributed_experiment_spark.sources.tables import (
        _parquet_scan_width,
        rebalance_narrow_scan,
    )

    target = spark.sparkContext.defaultParallelism

    # Narrow: the single-file test table.
    narrow_path = f"{SF_DIR}/documents.parquet"
    df = spark.read.parquet(narrow_path)
    width = _parquet_scan_width(spark, narrow_path, cap=target)
    assert width is not None and width < target
    assert width <= df.rdd.getNumPartitions()
    assert rebalance_narrow_scan(df, narrow_path).rdd.getNumPartitions() == target

    # Wide: at least `target` files -> capped without opening any footer,
    # and no repartition is injected.
    wide_path = str(tmp_path / "wide.parquet")
    spark.range(1000).repartition(target).withColumn(
        "x", F.col("id") * 2
    ).write.parquet(wide_path)
    assert _parquet_scan_width(spark, wide_path, cap=target) == target
    wide = spark.read.parquet(wide_path)
    assert rebalance_narrow_scan(wide, wide_path) is wide


def test_write_clustered_produces_skippable_layout(engine, spark, tmp_path):
    """Range-clustered layout: row-group user_id intervals must be (near-)
    disjoint, so parquet min/max stats prune a selective filter to O(1)
    row groups — against the unclustered write they overlap heavily."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    src = spark.read.parquet(f"{SF_DIR}/events.parquet").select("event_id", "user_id")

    def intervals(path):
        out = []
        for f in ds.dataset(path, format="parquet").files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.to_arrow_schema().get_field_index("user_id")
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                out.append((st.min, st.max))
        return sorted(out)

    def overlap_fraction(iv):
        overlapping = sum(
            1 for (a, b), (c, d) in zip(iv, iv[1:]) if c <= b  # next starts inside prev
        )
        return overlapping / max(1, len(iv) - 1)

    clustered = str(tmp_path / "clustered")
    engine.write_clustered(src, clustered, ["user_id"], partitions=8)
    plain = str(tmp_path / "plain")
    engine.write_parquet(src.repartition(8), plain)

    iv_c = intervals(clustered)
    iv_p = intervals(plain)
    assert len(iv_c) >= 4  # the range exchange actually fanned out
    # clustered: adjacent intervals disjoint (range bounds may duplicate at
    # the single boundary key); unclustered: nearly every interval overlaps
    assert overlap_fraction(iv_c) <= 0.35, iv_c
    assert overlap_fraction(iv_p) >= 0.9, iv_p
    # fidelity: same rows back
    assert spark.read.parquet(clustered).count() == src.count()


def test_clustered_layout_prunes_at_read_time(spark, tmp_path):
    """The footer test above proves the clustered layout's row-group
    intervals are disjoint; this proves the PAYOFF at read time: a
    selective filter on the clustered dimension makes the parquet scan
    OUTPUT a small fraction of the table (row groups skipped via min/max
    stats before any row is materialized), while the same filter over the
    unclustered control reads essentially everything and discards it
    post-scan. numOutputRows on the executed scan node is the evidence —
    the same signal that distinguishes a pruned from an unpruned scan at
    100 TB."""
    from pyspark.sql import functions as F

    from datafusion_distributed_experiment_spark.plans import executed_metrics
    from datafusion_distributed_experiment_spark.sources.tables import (
        write_clustered,
        write_parquet,
    )

    src = spark.read.parquet(f"{SF_DIR}/events.parquet").select("event_id", "user_id")
    n = src.count()
    clustered, plain = str(tmp_path / "c"), str(tmp_path / "p")
    write_clustered(src, clustered, ["user_id"], partitions=8)
    write_parquet(src.repartition(8), plain)
    key = src.agg(F.expr("approx_percentile(user_id, 0.5)")).collect()[0][0]

    def scan_output_rows(path):
        df = spark.read.parquet(path).filter(F.col("user_id") == key)
        matched = df.count()
        df.collect()
        scans = [
            m["numOutputRows"]
            for m in executed_metrics(df)
            if "Scan" in m["node"] and m.get("numOutputRows") is not None
        ]
        assert scans, "no scan node with numOutputRows in executed plan"
        return matched, sum(scans)

    matched_c, rows_c = scan_output_rows(clustered)
    matched_p, rows_p = scan_output_rows(plain)
    assert matched_c == matched_p > 0  # same answer from both layouts
    # unclustered control: stats prune nothing, the scan reads ~the table
    assert rows_p >= 0.9 * n, (rows_p, n)
    # clustered: row-group skipping drops all but the key's narrow interval
    assert rows_c <= n / 4, (rows_c, n)
    assert rows_c < rows_p / 3


def test_preload_mem_serves_sql_from_cached_tables(spark, tmp_path):
    """The --mem-table analog: preload_mem materializes every table in
    memory and pins the registration, so SQL-corpus queries read the cached
    MemTable (InMemoryTableScan in the plan) instead of parquet."""
    import __spark_entry__ as entry_mod

    entry_mod.preload_mem(spark, SF_DIR, partitions=4)
    try:
        df = entry_mod.queries()["q6"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan[:2000]
        assert len(df.collect()) == 1
    finally:
        spark.catalog.clearCache()
        # restore parquet-backed registrations for other tests
        from datafusion_distributed_experiment_spark import Engine

        entry_mod._registered.clear()
        Engine(spark).register_sf_dir(SF_DIR)


# --------------------------------------------------------- maintenance ----


def test_compact_collapses_small_files_and_preserves_data(engine, tmp_path):
    """32 tiny part files -> a handful at the target size; row set
    byte-identical before/after; re-compaction is a no-op."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "smallfiles")
    df = engine.spark.range(10_000).select(
        F.col("id"), (F.col("id") * 7 % 97).alias("v")
    )
    df.repartition(32).write.parquet(path)
    before_rows = sorted(tuple(r) for r in engine.spark.read.parquet(path).collect())

    n_before, n_after = engine.compact(path, target_bytes=1 << 30)
    assert n_before == 32 and n_after < 8, (n_before, n_after)
    after_rows = sorted(tuple(r) for r in engine.spark.read.parquet(path).collect())
    assert after_rows == before_rows

    again = engine.compact(path, target_bytes=1 << 30)
    assert again == (n_after, n_after)  # already coarse: no rewrite


def test_compact_failed_verify_leaves_original_untouched(engine, tmp_path, monkeypatch):
    """If the rewrite's row count does not match, the original directory
    must survive and the temp output must be cleaned up."""
    import os

    from datafusion_distributed_experiment_spark.sources import tables as T

    path = str(tmp_path / "guarded")
    engine.spark.range(1000).toDF("id").repartition(16).write.parquet(path)

    import pytest as _pytest

    calls = {"n": 0}
    orig = engine.spark.read.parquet

    def flaky_parquet(p):
        calls["n"] += 1
        df = orig(p)
        # second read (the verify read of the temp dir) gets a poisoned count
        if p.endswith(".__compact_tmp__"):
            return df.limit(999)
        return df

    monkeypatch.setattr(engine.spark.read.__class__, "parquet", lambda self, p: flaky_parquet(p))
    with _pytest.raises(RuntimeError, match="produced 999 rows"):
        T.compact_parquet(engine.spark, path, target_bytes=1 << 30)
    monkeypatch.undo()
    assert engine.spark.read.parquet(path).count() == 1000
    assert not os.path.exists(path + ".__compact_tmp__")


def test_register_evolving_unions_schemas_across_files(engine, tmp_path):
    """Old files must surface columns added by newer files as NULLs (and
    vice versa) — the append-only schema-evolution contract."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "evolving")
    engine.spark.range(5).select("id", F.lit("old").alias("a")).write.parquet(path)
    engine.spark.range(5, 10).select(
        "id", F.lit(42).cast("long").alias("b")
    ).write.mode("append").parquet(path)

    df = engine.register_evolving("evolving_t", path)
    assert set(df.columns) == {"id", "a", "b"}
    rows = {r.id: (r.a, r.b) for r in engine.sql("SELECT * FROM evolving_t").collect()}
    assert rows[0] == ("old", None)
    assert rows[9] == (None, 42)
    # plain read would have picked ONE schema — evolution is genuinely needed
    plain_cols = set(engine.spark.read.parquet(path).columns)
    assert plain_cols != {"id", "a", "b"}


def test_check_constraints_counts_violations_in_one_pass(engine, duck):
    """Rule violations (predicate not TRUE; NULL counts) cross-checked
    against DuckDB, and the whole rule set runs as ONE aggregate job."""
    df = engine.table("events")
    rules = {
        "value_nonneg": "value >= 0",
        "known_type": "event_type IN ('click','view','purchase','signup','error')",
        "user_in_range": "user_id BETWEEN 0 AND 10",  # deliberately violated
        "props_present": "props IS NOT NULL AND length(props) > 0",
    }
    got = engine.check_constraints(df, rules)
    for name, pred in rules.items():
        expect = duck.execute(
            f"SELECT COUNT(*) FROM events WHERE NOT COALESCE(({pred}), FALSE)"
        ).fetchone()[0]
        assert got[name] == expect, (name, got[name], expect)
    assert got["user_in_range"] > 0, "fixture must exercise the violation path"

    from datafusion_distributed_experiment_spark.plans import stage_summary

    from pyspark.sql import functions as F

    plan_df = df.agg(
        *[
            F.sum(
                F.when(F.coalesce(F.expr(p).cast("boolean"), F.lit(False)), 0).otherwise(1)
            ).alias(n)
            for n, p in rules.items()
        ]
    )
    s = stage_summary(plan_df)
    assert s["scans"] <= 1 and s["exchanges"] <= 1, s  # one scan, one partial/final agg


def test_executed_metrics_expose_operator_row_counts(engine):
    """Post-execution plan metrics (the reference's metric-annotated plan
    display): the scan/filter/aggregate row counts must reflect the actual
    run."""
    from datafusion_distributed_experiment_spark.plans import executed_metrics

    df = (
        engine.table("lineitem")
        .filter("l_quantity < 10")
        .groupBy("l_returnflag")
        .count()
    )
    df.collect()
    nodes = executed_metrics(df)
    by_name = {}
    for n in nodes:
        by_name.setdefault(n["node"].strip(), []).append(n)
    scan = by_name["Scan parquet"][0]
    assert scan["numOutputRows"] == engine.table("lineitem").count()
    filt = by_name["Filter"][0]
    assert filt["numOutputRows"] == engine.table("lineitem").filter("l_quantity < 10").count()
    final_agg_rows = [n.get("numOutputRows") for n in by_name["HashAggregate"]]
    assert 3 in final_agg_rows  # |return flags|


def test_split_sql_script_double_quotes_comments_and_backslash():
    """Round-11 review fix: the splitter must not split inside
    double-quoted tokens, /* */ block comments, or after a
    backslash-escaped quote."""
    from datafusion_distributed_experiment_spark.engine import split_sql_script

    assert split_sql_script('SELECT * FROM t WHERE s = "a;b"') == [
        'SELECT * FROM t WHERE s = "a;b"'
    ]
    assert split_sql_script("/* reset; all */ SELECT 1; SELECT 2") == [
        "/* reset; all */ SELECT 1",
        "SELECT 2",
    ]
    assert split_sql_script(r"SELECT 'it\'s; fine'; SELECT 2") == [
        r"SELECT 'it\'s; fine'",
        "SELECT 2",
    ]
    assert split_sql_script('SELECT "a""b;c"') == ['SELECT "a""b;c"']


def test_sql_script_trailing_command_does_not_override_result(engine):
    """Round-11 review fix: SET/SHOW also return columned frames; the
    default result must stay the last QUERY statement."""
    df = engine.sql_script(
        "SELECT 42 AS x; SET spark.sql.shuffle.partitions=4"
    )
    assert df.columns == ["x"]
    assert [r["x"] for r in df.collect()] == [42]
    # leading comment must not hide the SELECT from the heuristic
    df2 = engine.sql_script("-- pick me\nSELECT 7 AS y; SHOW TABLES")
    assert df2.columns == ["y"]


def test_sql_script_parenthesized_set_operation_is_a_result(engine):
    """Round-12 review fix: a set-operation query whose first keyword sits
    inside parentheses — ``(SELECT 1) UNION (SELECT 2)`` — is a RESULT
    statement; the keyword matcher skips leading ``(`` like it skips
    comments."""
    df = engine.sql_script("(SELECT 1 AS z) UNION ALL (SELECT 2 AS z); SET x=1")
    assert df is not None and df.columns == ["z"]
    assert sorted(r["z"] for r in df.collect()) == [1, 2]


def test_stream_session_memo_drops_dead_parents(spark):
    """The stream clone is built once per LIVE parent: the same parent gets
    the same clone, and a garbage-collected parent leaves no entry that
    could pin its clone's JVM session state or match a new session."""
    import gc

    from datafusion_distributed_experiment_spark.streaming.events import (
        _stream_session,
        _stream_sessions,
    )

    class FakeSession:
        """Duck-typed parent: newSession/sql/sparkContext are the only calls."""

        def __init__(self, real):
            self._real = real
            self.sparkContext = real.sparkContext

        def newSession(self):
            return self._real.newSession()

        def sql(self, q):
            return self._real.sql(q)

    fake = FakeSession(spark)
    clone = _stream_session(fake)
    assert _stream_session(fake) is clone, "a live parent must reuse its clone"
    assert clone.conf.get("spark.sql.shuffle.partitions") == "8"
    assert fake in _stream_sessions
    n_before = len(_stream_sessions)
    del fake
    gc.collect()
    assert len(_stream_sessions) == n_before - 1, "a dead parent's entry must drop"


def test_check_constraints_empty_frame_and_empty_rules(engine):
    """Round-11 review fix: SUM over zero rows is NULL — an empty frame
    reports zero violations, and an empty rule set is a no-op."""
    empty = engine.spark.range(0).selectExpr("id AS x")
    assert engine.check_constraints(empty, {"pos": "x > 0"}) == {"pos": 0}
    assert engine.check_constraints(empty, {}) == {}


def test_compact_refuses_hive_partitioned_layout(engine, spark, tmp_path):
    """Round-11 review fix: a flat rewrite of a key=value layout would
    destroy directory pruning — refuse loudly."""
    import pytest

    from datafusion_distributed_experiment_spark.errors import PlanningError
    from datafusion_distributed_experiment_spark.sources.tables import compact_parquet

    path = str(tmp_path / "t")
    spark.range(100).selectExpr("id", "id % 3 AS d").write.partitionBy(
        "d"
    ).parquet(path)
    with pytest.raises(PlanningError, match="hive-partitioned"):
        compact_parquet(spark, path)


def test_compact_recovers_from_interrupted_swap(engine, spark, tmp_path):
    """Round-11 review fix: a leftover .__compact_old__ from a crash mid-
    swap is recovered before any expensive work — stale backup dropped
    when the table exists, restored as the table when it does not."""
    import os
    import shutil

    from datafusion_distributed_experiment_spark.sources.tables import compact_parquet

    path = str(tmp_path / "t")
    spark.range(1000).repartition(8).write.parquet(path)
    backup = path + ".__compact_old__"
    # crash shape 1: swap completed, cleanup didn't -> stale backup dropped
    shutil.copytree(path, backup)
    compact_parquet(spark, path)
    assert not os.path.exists(backup)
    assert spark.read.parquet(path).count() == 1000
    # crash shape 2: died between renames -> backup IS the table; restore
    os.rename(path, backup)
    compact_parquet(spark, path)
    assert os.path.exists(path) and not os.path.exists(backup)
    assert spark.read.parquet(path).count() == 1000


def test_tbl_malformed_rows_raise_in_strict_mode(engine, tmp_path):
    """Round-14 reader hardening: a .tbl row with missing or extra fields
    must RAISE at scan time (FAILFAST default) — the PERMISSIVE parse
    nulls the whole row silently, and a nulled key column just vanishes
    from every downstream join (the worst failure shape for benchmark
    data whose row counts are ground truth). strict=False still offers
    the salvage path, pinned to the old nulling behavior."""
    import pytest

    good = "0|ALGERIA|\n1|ARGENTINA|\n"
    short = good + "2\n"            # missing field + no trailing pipe
    long_ = good + "2|BRAZIL|x|y|\n"  # extra fields
    for body in (short, long_):
        tbl = tmp_path / "bad.tbl"
        tbl.write_text(body)
        engine.register_tbl("bad_tbl", str(tbl), "n_nationkey INT, n_name STRING")
        with pytest.raises(Exception, match="malformed .tbl row"):
            engine.table("bad_tbl").collect()
    # salvage path: PERMISSIVE keeps the well-formed rows, nulls the bad
    tbl = tmp_path / "bad2.tbl"
    tbl.write_text(short)
    engine.register_tbl(
        "bad_tbl_loose", str(tbl), "n_nationkey INT, n_name STRING", strict=False
    )
    rows = engine.table("bad_tbl_loose").collect()
    assert len(rows) == 3
    assert sum(1 for r in rows if r.n_name is None) == 1


def test_csv_and_json_mode_passthrough(engine, spark, tmp_path):
    """read_csv_table/read_json_table accept a parser mode: FAILFAST makes
    corrupt input loud; the PERMISSIVE default (exploration) still nulls.
    Pinned so the pass-through cannot silently drop."""
    import pytest

    from datafusion_distributed_experiment_spark.sources.tables import (
        read_csv_table,
        read_json_table,
    )

    csv = tmp_path / "t.csv"
    csv.write_text("a,b\n1,2\n3\n")  # second data row short
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        read_csv_table(
            spark, str(csv), schema="a INT, b INT", mode="FAILFAST"
        ).collect()
    ok = read_csv_table(spark, str(csv), schema="a INT, b INT").collect()
    assert len(ok) == 2  # permissive keeps both, nulls the short row

    js = tmp_path / "t.jsonl"
    js.write_text('{"a": 1}\n{not json\n')
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        read_json_table(spark, str(js), schema="a INT", mode="FAILFAST").collect()
    loose = read_json_table(spark, str(js), schema="a INT").collect()
    assert len(loose) == 2


def test_tbl_strict_rejects_type_corrupt_values_and_nulls_empty_fields(
    engine, spark, tmp_path
):
    """Round-14 review fix: the strict token-count guard alone still let a
    well-formed-SHAPED row with a garbage value cast silently to NULL
    (ANSI is off in this session), re-creating the vanishing-key failure
    strict mode exists to prevent. Pinned: a non-empty token the type
    cast nulls out raises with the field name; an EMPTY token parses to
    NULL (parity with the permissive CSV path's nullValue='' — flipping
    the strict default must not change IS NULL semantics)."""
    import pytest

    from datafusion_distributed_experiment_spark.sources.tables import read_tbl_table

    bad = tmp_path / "bad_vals.tbl"
    bad.write_text("0|ALGERIA|\n1x2|BOGUS|\n")
    df = read_tbl_table(spark, str(bad), "n_nationkey INT, n_name STRING")
    with pytest.raises(Exception, match="corrupt .tbl value.*n_nationkey"):
        df.collect()

    empties = tmp_path / "empties.tbl"
    empties.write_text("0||\n|NONAME|\n")
    rows = read_tbl_table(
        spark, str(empties), "n_nationkey INT, n_name STRING"
    ).collect()
    assert [(r.n_nationkey, r.n_name) for r in rows] == [(0, None), (None, "NONAME")]


def test_fingerprint_fold_matches_duckdb_on_negative_ids(spark):
    """Round-14 review fix: the oracle-side fingerprint fold used DuckDB's
    C-style % (sign of the dividend) where Python's % is non-negative, so
    NEGATIVE key ids derived different partition values per engine — the
    oracle would silently read zero rows. duck_fp_sql's pmod spelling is
    pinned against fp_fold over adversarial id sets including negatives."""
    import duckdb

    from datafusion_distributed_experiment_spark.sources.tables import (
        FP_MOD,
        duck_fp_sql,
        frame_fingerprint_stats,
    )

    con = duckdb.connect()
    for ids in ([1, 2, 3], [-5, -2, 0, 7], [-1_000_000, -999], [0]):
        df = spark.createDataFrame([(i,) for i in ids], "k long")
        n_spark, fp_spark = frame_fingerprint_stats(df, "k")[:2]
        con.execute("CREATE OR REPLACE TABLE t AS SELECT * FROM (VALUES "
                    + ", ".join(f"({i})" for i in ids) + ") v(k)")
        fp_duck = con.execute(f"SELECT {duck_fp_sql('k')} FROM t").fetchone()[0]
        assert fp_spark == int(fp_duck), (ids, fp_spark, fp_duck)
        assert 0 <= fp_spark < FP_MOD
