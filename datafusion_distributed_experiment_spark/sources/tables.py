"""Source/sink implementations (see package docstring for reference mapping)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def nano_timestamp_columns(path: str) -> list[tuple[str, bool]]:
    """(column, is_nanos) for timestamp columns of a parquet file/directory,
    from footer metadata only (no data read; safe at 100 TB — one driver-side
    footer fetch)."""
    try:
        import pyarrow.dataset as ds

        schema = ds.dataset(path, format="parquet").schema
        out = []
        for field in schema:
            t = str(field.type)
            if t.startswith("timestamp"):
                out.append((field.name, "[ns" in t))
        return out
    except Exception:  # noqa: BLE001 - footer probing is best-effort
        return []


def _parquet_scan_width(spark: SparkSession, path: str, cap: int) -> int | None:
    """Upper bound on the effective scan parallelism of a parquet source,
    from footer metadata only.

    Effective parallelism is bounded by BOTH byte-range splits
    (``spark.sql.files.maxPartitionBytes``) and row-group layout (a split
    only does work for row groups whose midpoint it contains, so one giant
    single-row-group file is one task however it is split). Driver cost is
    bounded: if the listing already shows >= ``cap`` files the scan cannot
    be narrow and no footer is opened."""
    try:
        import math
        import os

        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        files = list(ds.dataset(path, format="parquet").files)
        if len(files) >= cap:
            return cap
        max_bytes = parse_byte_size(
            spark.conf.get("spark.sql.files.maxPartitionBytes", None)
        )
        total_bytes = sum(os.path.getsize(f) for f in files)
        total_rgs = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
        byte_splits = max(1, math.ceil(total_bytes / max_bytes))
        return min(byte_splits, max(1, total_rgs))
    except Exception:  # noqa: BLE001 - probing is best-effort
        return None


def parse_byte_size(value: str | None, default: int = 128 * 1024 * 1024) -> int:
    """Spark byte-size conf parser: bare bytes or a k/m/g/t/p suffix
    (optionally with ``b``, case-insensitive) — the same grammar Spark's
    ``JavaUtils.byteStringAsBytes`` accepts. A tuned conf like ``128m`` must
    not silently fall back to the default (it would mis-estimate scan
    narrowness); only an absent/unparseable value does."""
    if value is None:
        return default
    import re

    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?)b?\s*", str(value), flags=re.IGNORECASE)
    if not m:
        return default
    mult = 1024 ** ("kmgtp".index(m.group(2).lower()) + 1) if m.group(2) else 1
    return int(m.group(1)) * mult


def rebalance_narrow_scan(df: DataFrame, path: str | None = None) -> DataFrame:
    """Round-robin repartition up to cluster parallelism when a scan yields
    fewer partitions than cores.

    Parquet scan parallelism is bounded by row-group layout: a single-row-
    group file is one task no matter how many executors exist, so an
    expensive per-row map stage downstream (HOF folds, pandas UDFs) runs
    nearly single-threaded. The guard makes this a no-op exactly when it
    would hurt: a 100 TB table already scans with thousands of partitions,
    so no extra shuffle is introduced there — only genuinely narrow inputs
    pay one tiny rebalancing exchange.

    Pass ``path`` when the source is a parquet location: narrowness is then
    decided from footer metadata alone (no ``df.rdd`` materialization — on a
    100 TB listing the RDD conversion plans the whole scan driver-side just
    to count partitions)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if path is not None:
        width = _parquet_scan_width(df.sparkSession, path, cap=target)
        if width is not None:
            return df.repartition(target) if width < target else df
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """Parquet with inferred schema. Nanosecond timestamps (which arrive as
    BIGINT nanos via ``spark.sql.legacy.parquet.nanosAsLong``) are converted
    to TIMESTAMP_NTZ at microsecond precision, matching DuckDB's truncation."""
    df = spark.read.parquet(path)
    dtypes = dict(df.dtypes)
    for col, is_ns in nano_timestamp_columns(path):
        if is_ns and dtypes.get(col) == "bigint":
            # backtick-quoted: a column named "event time" (or a reserved
            # word) would otherwise fail the whole table read at F.expr
            q = col.replace("`", "``")
            df = df.withColumn(
                col,
                F.expr(f"CAST(timestamp_micros(`{q}` DIV 1000) AS TIMESTAMP_NTZ)"),
            )
    return df


def read_csv_table(
    spark: SparkSession, path: str, schema: StructType | str | None = None
) -> DataFrame:
    """Comma-separated CSV with a header row; the schema is inferred when
    none is given."""
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def write_partitioned(
    rows: DataFrame, path: str, partition_by: list[str], n_dirs: int
) -> None:
    """Hive-partitioned parquet table at ``path`` holding exactly ``rows``:
    a STATIC overwrite clears the whole previous layout (a partition
    ``rows`` no longer holds loses its directory), and the
    pre-repartition on ``partition_by`` writes one file per partition
    directory. Without that repartition every input task writes a sliver
    into every directory — n_tasks x n_dirs small files taxing the write,
    every partition-pruned read, and the oracle's glob (measured 10.7 s ->
    6.0 s for the IVF-PQ upsert cycle at sf0.1). ``n_dirs`` is the
    caller's bound on the partition-directory count.

    The repartition width is explicit (optimization round 14, guide
    §2.4/§6). An UN-numbered ``repartition(F.col(...))`` is an
    AQE-coalescible exchange: inside a write job AQE materializes the
    shuffle as its own query stage, re-optimizes, and coalesces the (tiny
    at bench scale) output toward one partition — so a SINGLE task then
    creates every partition directory's file serially. Measured on the
    47-list IVF base index write at sf0.1: 1.31 s un-numbered vs 0.74 s
    with an explicit width (any width 4..47 lands 0.68-0.80 s — the stage
    barrier, not the task count, is the cost). An explicit numPartitions
    pins the exchange (AQE leaves user-specified repartitions alone).

    ``min(session width, n_dirs)`` is scale-adaptive: more tasks than
    output directories only adds empty tasks, and at 100 TB the directory
    count exceeds the session width so this degrades to exactly the
    session-wide shuffle the un-numbered spelling intended."""
    sess = int(rows.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    (
        rows.repartition(max(1, min(sess, n_dirs)), *[F.col(c) for c in partition_by])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy(*partition_by)
        .parquet(path)
    )


# Fingerprint modulus for persisted-table partition keys (prime, small
# enough that a sum of per-row residues stays far from int64 overflow at
# any realistic corpus size on the Spark side; DuckDB sums in HUGEINT).
FP_MOD = 1_000_003


def fp_fold(mn: int, mx: int, s: int) -> int:
    """Fold (min, max, sum-of-residues) of a key column into the content
    fingerprint used in persisted-table partition keys — must match
    :func:`duck_fp_sql`'s oracle-side fold exactly."""
    return (mn + 31 * mx + 17 * s) % FP_MOD


def duck_fp_sql(col: str) -> str:
    """The ONE DuckDB spelling of :func:`fp_fold` over key column ``col``
    (round-14 review: the fold was hand-copied per module, and each copy
    used DuckDB's C-style ``%`` — sign of the dividend — where Python's
    ``%`` is always non-negative, so NEGATIVE key ids would derive a
    different partition value per engine and the oracle would silently
    read zero rows). The outer fold is pmod-spelled; the per-row residues
    inside SUM stay C-style on BOTH engines (Spark's ``%`` matches
    DuckDB's there), so only the final fold needed the sign fix."""
    inner = (
        f"(COALESCE(MIN({col}), 0) + 31 * COALESCE(MAX({col}), 0)"
        f" + 17 * COALESCE(SUM({col} % {FP_MOD}), 0))"
    )
    return f"CAST((({inner} % {FP_MOD}) + {FP_MOD}) % {FP_MOD} AS BIGINT)"


def frame_fingerprint_stats(df: DataFrame, key: str) -> tuple[int, int, int]:
    """(row count, content fingerprint, max key) of ``df`` over integer
    column ``key`` — ONE aggregate pass shared by every persisted-table
    location keyer (the max rides along because the upsert callers need
    it for insert-id offsets anyway)."""
    row = df.agg(
        F.count("*").alias("n"),
        F.coalesce(F.min(key), F.lit(0)).alias("mn"),
        F.coalesce(F.max(key), F.lit(0)).alias("mx"),
        F.coalesce(F.sum(F.col(key) % FP_MOD), F.lit(0)).alias("s"),
    ).collect()[0]
    return (
        int(row["n"]),
        fp_fold(int(row["mn"]), int(row["mx"]), int(row["s"])),
        int(row["mx"]),
    )


def warehouse_root() -> str:
    """Root directory for persisted index tables: repo-relative by
    default, overridable via ``$SPARK_GRAFT_WAREHOUSE`` (round-13 review
    — a fixed absolute path made the repo non-relocatable)."""
    import os

    default = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "spark-warehouse",
    )
    return os.environ.get("SPARK_GRAFT_WAREHOUSE", default)


def read_tbl_table(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    """TPC-H ``.tbl``: pipe-delimited, no header, trailing ``|`` (reference
    benchmarks/src/tpch/mod.rs:41-45, convert.rs:97-106).

    A row with missing or extra fields RAISES at scan time instead of
    silently parsing to NULLs — a .tbl row whose key column nulls out just
    vanishes from every downstream join, the worst failure shape for
    benchmark data whose row counts are the ground truth. The CSV parser
    cannot express this check: Spark documents that a token-count
    mismatch is NOT "corruption" (FAILFAST ignores it), and Univocity
    normalizes the empty trailing token to NULL regardless of
    nullValue/emptyValue, so a padding-column probe cannot tell a
    well-formed row from a short one. ``.tbl`` has no quoting or escapes,
    so the reader parses structurally instead — ``spark.read.text`` +
    ``split`` on ``|`` IS a faithful parser for this format — and
    validates that every line carries exactly ``n_fields`` pipe-terminated
    tokens, raising through a ``raise_error`` CASE wrapped around every
    projected column (the cdc_merge guard pattern: fires on any
    row-materializing read)."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    nf = len(schema.fields)
    raw = spark.read.text(path).filter(F.col("value") != "")
    parts = F.split(F.col("value"), r"\|", -1)
    ok = (F.size(parts) == nf + 1) & (F.element_at(parts, nf + 1) == "")
    err = F.raise_error(
        F.concat(
            F.lit(
                f"malformed .tbl row in {path} (every row must carry "
                f"exactly {nf} |-terminated fields): "
            ),
            F.col("value"),
        )
    )

    def _field(i, f):
        # Three checks per field: bad token COUNT raises; an EMPTY token
        # parses to NULL (the .tbl spelling of a missing value); a
        # NON-EMPTY token the type cast nulls out raises — under this
        # session's ANSI-off conf a plain cast would swallow a garbage
        # value into NULL, the exact vanishing-key failure the reader
        # exists to prevent.
        tok = F.element_at(parts, i + 1)
        val = tok.cast(f.dataType)
        bad_value = F.raise_error(
            F.concat(
                F.lit(
                    f"corrupt .tbl value in {path}: field '{f.name}' "
                    f"cannot parse as {f.dataType.simpleString()} in row: "
                ),
                F.col("value"),
            )
        )
        return (
            F.when(~ok, err)
            .when(tok == "", F.lit(None).cast(f.dataType))
            .when(val.isNull(), bad_value)
            .otherwise(val)
            .alias(f.name)
        )

    return raw.select(*[_field(i, f) for i, f in enumerate(schema.fields)])


def write_parquet(df: DataFrame, path: str, compression: str = "zstd") -> None:
    """Parquet sink. Hive-partitioned layouts go through
    :func:`write_partitioned`."""
    df.write.mode("overwrite").option("compression", compression).parquet(path)


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("header", "true").csv(path)
