"""SparkSession construction with scale-oriented defaults.

The reference configures its sessions via ``SessionBuilder`` hooks and CLI
options (reference ``src/flight_service/session_builder.rs:9-111``,
``benchmarks/src/util/options.rs:43-115``): target partitions, batch size,
memory pools, hash-vs-sort-merge join preference. The Spark analog of every
one of those knobs is a session conf, collected here.

Defaults are chosen for a *large cluster* (AQE on, skew-join handling on,
partition coalescing on); tests override parallelism for local runs.
"""

from __future__ import annotations

import os
from typing import Mapping

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_spark_conf(shuffle_partitions: int | None = None) -> dict[str, str]:
    """Scale-oriented session configuration.

    Maps the reference's benchmark options (reference
    ``benchmarks/src/util/options.rs:36-59``) onto Spark confs:

    - ``--partitions`` -> ``spark.sql.shuffle.partitions``
    - ``--batch-size`` (Arrow batch 8192) -> Arrow execution batch size
    - ``--prefer_hash_join`` (default true) -> ``spark.sql.join.preferSortMergeJoin=false``
    - memory pool / spill -> Spark's UnifiedMemoryManager (built in; no conf)
    """
    conf: dict[str, str] = {
        # Adaptive execution: runtime re-planning, partition coalescing and
        # skew-join splitting — the scale-survival trifecta.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Keep parquet scans prunable.
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        # Arrow transfer for pandas UDFs (the reference's RecordBatch currency,
        # reference src/flight_service/do_get.rs:171-179).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
        # Deterministic timestamps across engines (oracle comparisons).
        "spark.sql.session.timeZone": "UTC",
        # The driver's synthetic parquet stores TIMESTAMP(NANOS); this maps
        # them to TIMESTAMP_NTZ on read (matching DuckDB's microsecond NTZ
        # semantics) instead of failing with PARQUET_TYPE_ILLEGAL.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # ANSI off: TPC-H-style implicit string<->date coercion
        # (reference testdata/tpch/queries/q4.sql:6 relies on it).
        "spark.sql.ansi.enabled": "false",
        # Dimension-table broadcast: 32 MB threshold; AQE sizes at runtime too.
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        "spark.sql.join.preferSortMergeJoin": "false",
        # 128 MB scan splits — survives 100 TB inputs without driver OOM on
        # split enumeration while keeping per-task work meaningful.
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # RocksDB state store with changelog checkpointing for all stateful
        # streaming: the default HDFS-backed store snapshots whole state maps
        # per commit (measured 2.7-6.6s/replay on the stream-stream join vs
        # 2.4-2.5s stable here) and holds state on-heap — a non-starter for
        # production-sized join/session state. Changelog checkpointing ships
        # per-batch deltas instead of full snapshots.
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
        # Shuffle/broadcast block cleanup rides on driver GC; with a large
        # driver heap the default 30min periodic GC means a long multi-query
        # session (or bench run) never cleans at all and state accumulates
        # until a multi-second stop-the-world stall. 5min bounds the backlog.
        "spark.cleaner.periodicGC.interval": "5min",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions
            if shuffle_partitions is not None
            else int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        ),
    }
    return conf


def configure_session(
    spark: SparkSession,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Apply the runtime-settable engine confs to an *existing* session.

    The reference's ``SessionBuilder`` worker hook configures every session it
    is handed, not only sessions it constructs (reference
    ``src/flight_service/session_builder.rs:9-111``). All of
    :func:`default_spark_conf` is runtime-settable (``spark.sql.*``); each key
    is applied independently so one immutable/unknown conf on an exotic
    deployment cannot block the rest.

    When ``shuffle_partitions`` is None the caller's existing parallelism is
    preserved — only set it when explicitly asked.
    """
    conf = default_spark_conf(shuffle_partitions=shuffle_partitions)
    if shuffle_partitions is None:
        conf.pop("spark.sql.shuffle.partitions", None)
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 - per-key isolation by design
            pass
    return spark


def scoped_session(spark: SparkSession, overrides: Mapping[str, str]) -> SparkSession:
    """A new sibling session with conf ``overrides`` applied — conf scoping
    WITHOUT mutating the shared session.

    ``SparkSession.newSession()`` shares the SparkContext and table cache
    but gets its own SQLConf and temp-view catalog, so a query rooted in
    the clone can run beside queries on the caller's session without
    racing on ``spark.conf``. The parent's *runtime* confs are copied first
    (``SET`` enumerates every explicitly-set conf — engine confs applied by
    :func:`configure_session` at runtime would otherwise be lost, since a
    fresh session only inherits context-level conf), then the overrides.
    Static/immutable confs are skipped per-key.

    Only the streaming replays use it (``streaming.events._stream_session``,
    which keeps one clone per live parent). A stream's state-store
    partitions are fixed by ``spark.sql.shuffle.partitions`` at its first
    micro-batch and AQE cannot coalesce them, so a stream needs its own
    width: the ``stream_click_attr`` replay measured ~7 s of store churn at
    32 partitions against ~2.5 s at 8. Batch loops need no clone — AQE
    coalesces their small shuffles at any session width, and running the
    connected-components and BPE loops on the caller's session saved two
    jobs per query with identical rows."""
    clone = spark.newSession()
    for row in spark.sql("SET").collect():
        val = row["value"]
        if val is not None and "(redacted)" in val:
            # SPARK-22479: SET redacts secret-bearing values; storing the
            # placeholder would replace real credentials in the clone —
            # skip, and let the clone fall back to context-level conf
            continue
        try:
            clone.conf.set(row["key"], val)
        except Exception:  # noqa: BLE001 - static/read-only confs
            pass
    for k, v in overrides.items():
        clone.conf.set(k, str(v))
    return clone


def build_session(
    app_name: str = "datafusion-distributed-experiment-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: Mapping[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster is
    configured; on a real cluster pass ``None`` with ``spark.master`` set by
    the deployment (YARN/K8s/standalone), mirroring the reference's pluggable
    ``ChannelResolver`` worker discovery (reference ``src/channel_manager.rs:29-34``).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    if master and master.startswith("local"):
        # In local mode the driver JVM hosts all executor threads; the 1g
        # default heap dies on any real shuffle. On a cluster, executor
        # memory comes from the deployment instead. The default heap is at
        # most half the host's physical memory, so the JVM collects before
        # the host runs out.
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{min(48 << 10, phys_mb // 2)}m"),
        )
    conf = {**default_spark_conf(shuffle_partitions=shuffle_partitions), **(extra_conf or {})}
    # Python workers (pandas UDFs, Python data sources) unpickle functions
    # of this package by module name, so they must import it from wherever
    # the driver runs: its parent directory goes first on their path.
    key = "spark.executorEnv.PYTHONPATH"
    conf[key] = os.pathsep.join(p for p in (_PACKAGE_PARENT, conf.get(key)) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
