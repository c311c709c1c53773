"""Custom leaf data source — the Spark analog of the reference's
user-extension operator mechanism.

The reference demonstrates extensibility by shipping a custom physical leaf
(``Int64ListExec``, one static ``Vec<i64>`` per partition) over the wire
with a user-provided protobuf codec and executing it remotely (reference
``tests/custom_extension_codec.rs:160-264``, codec plumbing
``src/user_provided_codec.rs:6-83``). In Spark the equivalent extension
point is the Python DataSource API: the class itself is serialized and
shipped to executors by Spark (playing the codec's role), and each
``InputPartition`` is read task-parallel (playing ``Int64ListExec``'s
per-partition batches).

``Int64ListSource`` reproduces the reference operator's shape: a fixed
integer list, partitioned round-robin over ``partitions`` input splits,
surfaced as a single ``numbers BIGINT`` column (the reference test's column
name). Deterministic by construction, so the driver's DuckDB oracle can
replay it with a VALUES table.
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

FORMAT_NAME = "int64list"


class Int64ListSource(DataSource):
    """``spark.read.format("int64list").option("values", "[...]")`` leaf.

    Options:
      values      JSON array of integers (the reference test's static list)
      partitions  number of input splits (reference: one Vec per partition)
    """

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        return "numbers bigint"

    def reader(self, schema) -> "Int64ListReader":
        return Int64ListReader(self.options)


class Int64ListReader(DataSourceReader):
    def __init__(self, options):
        self.values = [int(v) for v in json.loads(options.get("values", "[]"))]
        self.n_partitions = max(1, int(options.get("partitions", "2")))

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        # round-robin assignment: partition i serves values[i::n] — the same
        # fixed per-partition batches the reference's Int64ListExec declares
        for v in self.values[partition.value :: self.n_partitions]:
            yield (v,)

    def partitions(self) -> Sequence[InputPartition]:
        return [InputPartition(i) for i in range(self.n_partitions)]


# WeakSet, not a set of id()s: an id is a recycled address, and a new
# session allocated where a dead one lived would silently skip
# registration (DATA_SOURCE_NOT_FOUND on first use); weakly-held LIVE
# objects cannot collide, and dead sessions fall out instead of leaking
import weakref

_registered_sessions: "weakref.WeakSet" = weakref.WeakSet()


def register(spark: SparkSession) -> None:
    """Idempotently register the source (ships the class to executors on
    use — the reference's ``add_user_codec`` analog).

    Spark 4.1 quirk (probed empirically): the Python data source registry
    is GLOBAL for the duplicate-name check but SESSION-LOCAL for lookup —
    a sibling ``newSession()`` can neither re-register the name
    (DATA_SOURCE_ALREADY_EXISTS) nor read it (DATA_SOURCE_NOT_FOUND).
    Register and read on the same session; the ALREADY_EXISTS swallow below
    keeps ``register`` idempotent across the sessions that can see the
    original registration."""
    if spark in _registered_sessions:
        return
    try:
        spark.dataSource.register(Int64ListSource)
    except Exception as exc:  # noqa: BLE001 - narrow on the error class
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(exc):
            raise
    _registered_sessions.add(spark)


def int64_list(
    spark: SparkSession, values: Sequence[int], partitions: int = 2
) -> DataFrame:
    register(spark)
    return (
        spark.read.format(FORMAT_NAME)
        .option("values", json.dumps(list(values)))
        .option("partitions", str(partitions))
        .load()
    )


# Driver-verified query: the reference's custom-codec integration test plan —
# custom leaf -> filter -> sort desc (reference custom_extension_codec.rs:
# 107-157 builds Int64ListExec -> FilterExec(numbers > 1) -> SortExec desc) —
# with the identical static data, re-expressed declaratively.
QUERY_VALUES = [1, 2, 3, 4, 5, 6, 7, 8, 9]  # reference test's 3x3 batches
QUERY_PARTITIONS = 3


def custom_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    df = int64_list(spark, QUERY_VALUES, partitions=QUERY_PARTITIONS)
    return df.filter(F.col("numbers") > 1).orderBy(F.desc("numbers"))


def queries():
    return {"custom_source_scan": custom_source_scan}


def oracles() -> dict[str, str]:
    values_sql = ", ".join(f"({v})" for v in QUERY_VALUES)
    return {
        "custom_source_scan": f"""
            SELECT numbers FROM (VALUES {values_sql}) AS t(numbers)
            WHERE numbers > 1 ORDER BY numbers DESC
        """,
    }
