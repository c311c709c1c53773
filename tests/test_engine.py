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


def test_tbl_malformed_rows_raise_in_strict_mode(engine, tmp_path):
    """Round-14 reader hardening: a .tbl row with missing or extra fields
    must RAISE at scan time — a permissive parse nulls the whole row
    silently, and a nulled key column just vanishes from every downstream
    join (the worst failure shape for benchmark data whose row counts are
    ground truth)."""
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


def test_tbl_strict_rejects_type_corrupt_values_and_nulls_empty_fields(
    engine, spark, tmp_path
):
    """Round-14 review fix: the strict token-count guard alone still let a
    well-formed-SHAPED row with a garbage value cast silently to NULL
    (ANSI is off in this session), re-creating the vanishing-key failure
    strict mode exists to prevent. Pinned: a non-empty token the type
    cast nulls out raises with the field name; an EMPTY token parses to
    NULL (the .tbl spelling of a missing value)."""
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
