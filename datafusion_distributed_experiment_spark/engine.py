"""Engine — session + catalog + SQL entry point.

Mirrors the reference's lifecycle (register tables -> SQL -> optimized plan ->
staged distributed execution -> collect; reference ``tests/tpch.rs:137-194``)
with an idiomatic Spark API. Registration paths map one-to-one:

- parquet listing table (reference ``tests/tpch.rs:149-161``)      -> :meth:`Engine.register_parquet`
- csv / pipe-delimited ``.tbl`` (reference ``benchmarks/src/tpch/run.rs:294-309``)
                                                                   -> :meth:`Engine.register_csv` / :meth:`Engine.register_tbl`
- ``CREATE VIEW``/multi-statement scripts (reference ``run.rs:186-199``,
  ``benchmarks/src/tpch/mod.rs:148-161``)                          -> :meth:`Engine.sql_script`
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from . import sources
from .errors import map_exception
from .session import build_session, configure_session

_TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def split_sql_script(script: str) -> list[str]:
    """Split a multi-statement SQL script on ``;`` (reference
    ``benchmarks/src/tpch/mod.rs:148-161``). Separator detection tracks
    single-quoted strings (with both ``''`` and backslash escapes —
    Spark's default string parsing honors backslashes), double-quoted
    tokens (string literals on Spark, identifiers on DuckDB — a ``;``
    inside is part of the token either way), ``--`` line comments, and
    ``/* */`` block comments; empty statements dropped.

    ASSUMPTION: scripts target Spark's DEFAULT string semantics. Under
    ANSI literal mode (``spark.sql.parser.escapedStringLiterals=true``,
    or DuckDB-authored scripts) a literal ending in a backslash like
    ``SELECT 'C:\\';`` would swallow the following ``;`` and merge two
    statements — gate the backslash rule on the parser conf if scripts
    ever target that mode."""
    statements: list[str] = []
    buf: list[str] = []
    quote: str | None = None  # the active quote char, ' or "
    i = 0
    n = len(script)
    while i < n:
        ch = script[i]
        if quote is None and ch == "-" and i + 1 < n and script[i + 1] == "-":
            # -- comment: copy to end of line verbatim
            j = script.find("\n", i)
            j = n if j == -1 else j
            buf.append(script[i:j])
            i = j
            continue
        if quote is None and ch == "/" and i + 1 < n and script[i + 1] == "*":
            # /* block comment */: copy verbatim (unterminated -> to EOF)
            j = script.find("*/", i + 2)
            j = n if j == -1 else j + 2
            buf.append(script[i:j])
            i = j
            continue
        if quote is not None and ch == "\\" and i + 1 < n:
            # backslash escape inside a literal: \' must not close it
            buf.append(script[i : i + 2])
            i += 2
            continue
        if ch in ("'", '"'):
            if quote == ch:
                # doubled quote is an escaped quote inside the token
                if i + 1 < n and script[i + 1] == ch:
                    buf.append(ch * 2)
                    i += 2
                    continue
                quote = None
            elif quote is None:
                quote = ch
            buf.append(ch)
        elif ch == ";" and quote is None:
            stmt = "".join(buf).strip()
            if stmt:
                statements.append(stmt)
            buf = []
        else:
            buf.append(ch)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        statements.append(tail)
    return statements


def _is_query_statement(stmt: str) -> bool:
    """True for statements whose DataFrame is a RESULT (SELECT/WITH/VALUES/
    TABLE), as opposed to commands that also return columned frames
    (SET/SHOW/DESCRIBE/EXPLAIN) — ``sql_script``'s default-result rule.
    Leading comments are skipped with the same scanner rules as the
    splitter (a ``-- note`` above the SELECT must not hide it), and so are
    leading ``(`` — ``(SELECT 1) UNION (SELECT 2)`` is a set-operation
    query whose first keyword sits inside parentheses."""
    i, n = 0, len(stmt)
    while i < n:
        if stmt[i].isspace() or stmt[i] == "(":
            i += 1
        elif stmt[i] == "-" and i + 1 < n and stmt[i + 1] == "-":
            j = stmt.find("\n", i)
            i = n if j == -1 else j + 1
        elif stmt[i] == "/" and i + 1 < n and stmt[i + 1] == "*":
            j = stmt.find("*/", i + 2)
            i = n if j == -1 else j + 2
        else:
            break
    head = stmt[i : i + 8].upper()
    return any(head.startswith(k) for k in ("SELECT", "WITH", "VALUES", "TABLE"))


class Engine:
    """Thin, idiomatic wrapper over a SparkSession.

    ``partitions`` maps the reference's ``target_partitions``
    (reference ``src/test_utils/localhost.rs:41``) to
    ``spark.sql.shuffle.partitions``. Everything else — stage creation, URL
    assignment, plan shipping, shuffle write dedup — is Spark's scheduler
    (reference equivalents: ``src/plan/assign_stages.rs``,
    ``src/flight_service/stream_partitioner_registry.rs``).
    """

    def __init__(
        self,
        spark: SparkSession | None = None,
        partitions: int | None = None,
        app_name: str = "datafusion-distributed-experiment-spark",
    ):
        if spark is None:
            spark = build_session(app_name=app_name, shuffle_partitions=partitions)
        else:
            # The reference's SessionBuilder contract applies to sessions it is
            # *given*, not only ones it builds (reference
            # src/flight_service/session_builder.rs:9-111): an externally
            # constructed SparkSession must still get the engine's runtime
            # confs (nanosAsLong, UTC, ANSI-off, broadcast threshold, ...) or
            # parquet reads and oracle comparisons diverge.
            configure_session(spark, shuffle_partitions=partitions)
        self.spark = spark

    # ------------------------------------------------------------------ #
    # catalog registration (reference SessionBuilder + register_* paths)
    # ------------------------------------------------------------------ #

    def register_parquet(self, name: str, path: str) -> DataFrame:
        """Register a parquet file/directory as a temp view with inferred
        schema (reference ``ctx.register_parquet``,
        ``src/test_utils/parquet.rs:5-17``; listing tables
        ``tests/tpch.rs:149-161``).

        Nanosecond-timestamp columns are converted to TIMESTAMP_NTZ
        (see :func:`..sources.read_parquet_table`)."""
        df = sources.read_parquet_table(self.spark, path)
        df.createOrReplaceTempView(name)
        return df

    def register_csv(
        self, name: str, path: str, schema: StructType | str | None = None
    ) -> DataFrame:
        """Register a comma-separated CSV table with a header row, optionally
        with an explicit schema (reference
        ``benchmarks/src/tpch/run.rs:294-309``)."""
        df = sources.read_csv_table(self.spark, path, schema=schema)
        df.createOrReplaceTempView(name)
        return df

    def register_tbl(self, name: str, path: str, schema: StructType | str) -> DataFrame:
        """Register a TPC-H ``.tbl`` file: ``|``-delimited, no header, with a
        trailing ``|`` producing a placeholder column that is dropped
        (reference ``benchmarks/src/tpch/mod.rs:41-45``,
        ``convert.rs:97-106``). Malformed rows raise instead of silently
        nulling — see :func:`..sources.read_tbl_table`."""
        df = sources.read_tbl_table(self.spark, path, schema)
        df.createOrReplaceTempView(name)
        return df

    def register_sf_dir(
        self, sf_dir: str, tables: Iterable[str] = _TPCH_TABLES
    ) -> dict[str, Exception]:
        """Register every driver-provided synthetic table under ``sf_dir``.

        Fault-isolated per table: one unreadable file must not poison queries
        over the other nine tables. Returns ``{table: exception}`` for any
        failures; callers that need a table hard-fail when they query it."""
        failures: dict[str, Exception] = {}
        for t in tables:
            try:
                self.register_parquet(t, f"{sf_dir}/{t}.parquet")
            except Exception as exc:  # noqa: BLE001 - isolate per table
                failures[t] = exc
        return failures

    # ------------------------------------------------------------------ #
    # query entry points (reference ctx.sql / multi-statement scripts)
    # ------------------------------------------------------------------ #

    def sql(self, text: str) -> DataFrame:
        """Parse/plan a single SQL statement (reference ``ctx.sql``,
        ``tests/tpch.rs:175``). Catalyst optimizes and inserts exchanges —
        the engine adds no hand-scheduling."""
        try:
            return self.spark.sql(text)
        except Exception as exc:  # noqa: BLE001 - mapped into taxonomy
            raise map_exception(exc) from exc

    def sql_script(self, script: str, result_statement: int | None = None) -> DataFrame | None:
        """Execute a ``;``-separated script, returning one statement's result.

        Mirrors the reference's 3-statement q15 handling (``create view;
        select; drop view`` — reference ``benchmarks/src/tpch/run.rs:186-199``):
        by default the result is the last ``SELECT``-producing statement
        before any trailing DDL; pass ``result_statement`` to pick explicitly.
        """
        statements = split_sql_script(script)
        result: DataFrame | None = None
        results: list[DataFrame | None] = []
        for stmt in statements:
            df = self.sql(stmt)
            results.append(df)
            if df is not None and df.columns and _is_query_statement(stmt):
                # _is_query_statement, not "has columns": commands like
                # SET/SHOW/DESCRIBE also return columned frames, and a
                # trailing SET would otherwise overwrite the query result
                result = df
        if result_statement is not None:
            # Safe to return lazily even after a later DROP VIEW: Spark
            # resolves views eagerly at DataFrame creation, so the picked
            # statement's plan no longer references the catalog entry.
            return results[result_statement]
        return result

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    # ------------------------------------------------------------------ #
    # sinks (reference benchmarks/src/tpch/convert.rs:128-160)
    # ------------------------------------------------------------------ #

    def write_parquet(self, df: DataFrame, path: str, compression: str = "zstd") -> None:
        sources.write_parquet(df, path, compression=compression)

    def write_csv(self, df: DataFrame, path: str) -> None:
        sources.write_csv(df, path)

    def stop(self) -> None:
        self.spark.stop()
