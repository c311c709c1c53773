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
import weakref
from typing import Mapping

from pyspark.sql import SparkSession


def default_spark_conf(
    shuffle_partitions: int | None = None,
    prefer_hash_join: bool = True,
) -> dict[str, str]:
    """Scale-oriented session configuration.

    Maps the reference's benchmark options (reference
    ``benchmarks/src/util/options.rs:36-59``) onto Spark confs:

    - ``--partitions`` -> ``spark.sql.shuffle.partitions``
    - ``--batch-size`` (Arrow batch 8192) -> Arrow execution batch size
    - ``--prefer_hash_join`` -> ``spark.sql.join.preferSortMergeJoin`` (inverted)
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
        "spark.sql.join.preferSortMergeJoin": "false" if prefer_hash_join else "true",
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


# value carries a weakref to the PARENT: id() keys are recycled addresses,
# so a cache hit must prove the parent object is still the same live
# session — otherwise a new session allocated at a dead one's address
# would receive a stale clone bound to a stopped SparkContext
_scoped_cache: dict[tuple[int, frozenset], tuple["weakref.ref[SparkSession]", SparkSession]] = {}


def scoped_session(spark: SparkSession, overrides: Mapping[str, str]) -> SparkSession:
    """A sibling session with conf ``overrides`` applied — conf scoping
    WITHOUT mutating the shared session.

    ``SparkSession.newSession()`` shares the SparkContext, table cache and
    global temp views but gets its own SQLConf and temp-view catalog, so two
    operators needing different shuffle widths can run concurrently without
    racing on ``spark.conf`` (the set/restore pattern this replaces was
    single-thread-correct only). The parent's *runtime* confs are copied
    first (``SET`` enumerates every explicitly-set conf — engine confs
    applied by :func:`configure_session` at runtime would otherwise be lost,
    since a fresh session only inherits context-level conf), then the
    overrides. Static/immutable confs are skipped per-key.

    Clones are cached per (parent, overrides): the streaming harness and the
    CC loop call this once per query invocation, and session-state (catalog,
    conf map) should not accumulate across a 76-query bench run. Parent conf
    changes made *after* the clone was built are not re-copied — the
    overrides are the confs callers care about."""
    key = (id(spark), frozenset(overrides.items()))
    cached = _scoped_cache.get(key)
    # identity proof, not just the id: a hit only counts when the weakly-
    # held parent is THIS object — id() keys get recycled after GC, and a
    # new session at a dead one's address must not get the stale clone
    if cached is not None and cached[0]() is spark:
        return cached[1]
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
    # sweep dead entries before inserting: a dead parent weakref can never
    # match again, and each stale entry would otherwise pin a cloned
    # SparkSession's JVM session state forever across many short-lived
    # sessions or data-derived override sets. list() snapshots the items
    # and pop() tolerates concurrent removal — this function is called
    # from concurrently-running operators (the docstring's whole point),
    # so the sweep must not iterate the live dict while a sibling inserts
    dead = [k for k, (ref, _) in list(_scoped_cache.items()) if ref() is None]
    for k in dead:
        _scoped_cache.pop(k, None)
    _scoped_cache[key] = (weakref.ref(spark), clone)
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
    for k, v in default_spark_conf(shuffle_partitions=shuffle_partitions).items():
        builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
