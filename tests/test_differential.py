"""Differential execution-topology tests.

The reference's core strategy: the same plan executed single-node and
distributed must produce identical results (reference tests/tpch.rs:168-194,
3-9 localhost workers). The Spark analog: the same SQL under 1 vs 8 shuffle
partitions — different physical exchange structure, equal results."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

from ._compare import canonical
from .conftest import SF_DIR

# A representative slice: aggregation-only, join-heavy, subquery, anti-join,
# plus the iterative (connected-components) and window-rollup operators whose
# determinism under re-partitioning is worth pinning explicitly. The curation
# ops (pack_sequences especially: windowed running sums; stratified_sample:
# rank truncation) carry a determinism-under-repartitioning CLAIM — pin it.
_SAMPLE = [
    "q1",
    "q5",
    "q17",
    "q21",
    "events_cte_join",
    "dedup_clusters",
    "sessionize",
    "pack_sequences",
    "stratified_sample",
    "decontaminate",
    "shuffle_shards",
    # round-4 additions: union+window as-of kernel, bucketed-explode range
    # join, Expand-based cube, hash-ppm resampling, session numbering —
    # each claims partition-count-independent determinism
    "events_asof",
    "events_range_join",
    "events_cube",
    "domain_resample",
    "user_sessions",
    # round-5 additions: star-CC (iterative contractions), salted join
    # (deterministic row-hash salting), custom Python data source
    # (partitioned leaf) — each claims partition-count independence
    "dedup_clusters_star",
    "salted_events_enrich",
    "custom_source_scan",
    # round-5b additions: window-cascade funnel (tie-broken ordering),
    # sequence construction (per-group array_sort vs partition order),
    # rank-selection percentiles, iterative pagerank, bloom prefilter
    # (bitmap built from shuffled partials), basket top-N (tie-broken cut),
    # native session windows (merging aggregate state)
    "funnel",
    "event_sequences",
    "events_percentiles",
    "pagerank_nations",
    "bloom_semi_agg",
    "basket_pairs",
    "sessionize_native",
    # round-6 additions: iterative Lloyd rounds (centroid collects from
    # shuffled partials), capped LSH under a forced hub, cluster-confined
    # cosine dedup, CDC chunk prefix-sum window — each claims
    # partition-count-independent determinism
    "kmeans_lloyd_t3",
    "minhash_pairs_skew",
    "semantic_dedup",
    "chunk_overlap",
    # round-6 wave 2: islands-window span merging, checkpointed position
    # table built from shuffled partials
    "ngram_span_dedup",
]


# Bound to a named constant so _already_differential_tested() can read the
# coverage from the live object instead of re-parsing this file's source
_PROMOTED_SAMPLE = [
    "triangle_count",
    "bm25_topk",
    "dsir_weights",
    "bpe_merges_t2",
    "winnow_fingerprints",
    "cms_heavy_hitters",
    "span_scrub",
    "lpa_communities_t3",
    "bfs_hops_t3",
    "stream_topk",
    # round-7 staged: the encode's trained-model argmaxes and per-doc
    # position window must be partition-count blind
    "bpe_apply",
]


@pytest.mark.parametrize("name", _PROMOTED_SAMPLE)
def test_promoted_ops_are_partition_count_independent(name, spark):
    """Same cross-topology claim for the operators promoted at round 7
    plus the round-7 staged tier (checkpointed oriented edges,
    broadcast-restricted postings, feature-count shuffles, 1-row argmax
    from shuffled pair counts)."""
    from datafusion_distributed_experiment_spark.operators import pipeline_queries

    fn = pipeline_queries()[name]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        single = canonical(fn(spark, SF_DIR).toPandas())
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        distributed = canonical(fn(spark, SF_DIR).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert single == distributed


@pytest.mark.parametrize("name", _SAMPLE)
def test_shuffle_partitions_do_not_change_results(name, spark):
    fn = entry_mod.queries()[name]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        single = canonical(fn(spark, SF_DIR).toPandas())
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        distributed = canonical(fn(spark, SF_DIR).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert single == distributed


def _already_differential_tested() -> set[str]:
    # The live objects, not a source-text regex: a re-parse keyed on literal
    # markers silently dropped queries from the full-surface sweep whenever
    # an edit moved the markers (it even captured the stray token "name"
    # from the parametrize decorators)
    return set(_SAMPLE) | set(_PROMOTED_SAMPLE)


def _full_surface_rest() -> list[str]:
    covered = _already_differential_tested()
    return [n for n in entry_mod.queries() if n not in covered]


@pytest.mark.parametrize("name", _full_surface_rest())
def test_full_surface_partition_count_independence(name, spark):
    """The reference's core differential strategy applied to the WHOLE
    remaining surface (the two lists above cover the rest): every declared
    query must produce identical results at 1 vs 8 shuffle
    partitions. The catalog cache is cleared between topologies so a
    cached result cannot fake independence; streaming queries re-drain
    their bounded replay under each topology (their STATE partitioning is
    fixed by _stream_session — what this checks is the batch half and the
    drain plumbing)."""
    fn = entry_mod.queries()[name]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        spark.catalog.clearCache()
        single = canonical(fn(spark, SF_DIR).toPandas())
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        spark.catalog.clearCache()
        distributed = canonical(fn(spark, SF_DIR).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.catalog.clearCache()
    assert single == distributed
