"""Custom Python DataSource (reference custom-extension-codec parity).

The reference ships a custom leaf operator to workers with a user codec and
asserts distributed results equal single-node (reference
tests/custom_extension_codec.rs:38-157). Spark ships the Python DataSource
class natively; these tests pin partitioned parallel reads, differential
equality against a built-in source, and the reference test's
filter-then-sort plan output."""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_distributed_experiment_spark.sources.custom import (
    QUERY_PARTITIONS,
    QUERY_VALUES,
    custom_source_scan,
    int64_list,
)


def test_int64_list_round_robin_partitions(spark):
    """Values are served round-robin from the declared number of input
    splits — the reference's one-static-Vec-per-partition shape."""
    df = int64_list(spark, list(range(12)), partitions=3)
    per_part = {
        r["p"]: r["n"]
        for r in df.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert len(per_part) == 3, per_part
    assert sorted(per_part.values()) == [4, 4, 4], per_part


def test_int64_list_differential_vs_builtin_source(spark):
    """Same relational result as the equivalent built-in in-memory source —
    the reference's distributed-vs-single-node differential, cross-source."""
    values = [5, 3, 8, 1, 9, 2]
    custom = int64_list(spark, values, partitions=2)
    builtin = spark.createDataFrame([(v,) for v in values], "numbers bigint")
    agg = lambda df: df.agg(  # noqa: E731
        F.count("*").alias("n"),
        F.sum("numbers").alias("s"),
        F.min("numbers").alias("lo"),
        F.max("numbers").alias("hi"),
    ).collect()
    assert agg(custom) == agg(builtin)
    assert custom.schema == builtin.schema


def test_custom_source_scan_matches_reference_plan_output(spark):
    """filter(numbers > 1) -> sort desc over the reference test's static
    list (custom_extension_codec.rs:107-157)."""
    rows = [r["numbers"] for r in custom_source_scan(spark, "unused").collect()]
    assert rows == sorted([v for v in QUERY_VALUES if v > 1], reverse=True)


def test_int64_list_empty_and_single_partition(spark):
    assert int64_list(spark, [], partitions=1).count() == 0
    df = int64_list(spark, [7], partitions=4)  # more splits than values
    assert [r["numbers"] for r in df.collect()] == [7]
    assert QUERY_PARTITIONS >= 2  # the declared query is genuinely parallel
