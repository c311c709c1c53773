"""IVF-PQ persisted-index tests (oracle parity over the on-disk index
runs in tests/test_corpus_oracle.py since the round-13 promotion; these
pin the build/serve split).

The three claims that make the index worth persisting, each pinned:
(1) serving from the persisted index is BIT-IDENTICAL to the in-flight
    ivf_pq_topk (the shared _pq_serve kernel over a disk round trip);
(2) the persisted layout holds EXACTLY the _pq_encode output for the
    whole corpus — including lists no probe touches, which the serve
    result (and the DuckDB oracle, which only joins probed lists) can
    never observe;
(3) the probe path PRUNES LIST DIRECTORIES, for both persisted indexes
    (the build's and the upsert's): the probed-list IN-filter on the
    list_id partition column plans a scan of at most |probed lists|
    directories (PartitionFilters), and pruning is sound — the pruned
    serve equals a serve over the unpruned index.

Every test here writes into a private warehouse, never the one the
oracle tests read.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_distributed_experiment_spark.operators.similarity import (
    IVF_PQ_INDEX_TABLE,
    IVF_PQ_UPSERT_TABLE,
    IVF_PROBE,
    PQ_INDEX_SCHEMA,
    _pq_encode,
    _pq_fit,
    _pq_serve,
    _vectors,
    ivf_pq_index_build,
    ivf_pq_location,
    ivf_pq_topk,
    queries,
    serve_pq_index,
)
from datafusion_distributed_experiment_spark.sources.tables import (
    frame_fingerprint_stats,
)

from .conftest import SF_DIR

pytestmark = pytest.mark.usefixtures("private_warehouse")


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _index_path(spark, table):
    # per-corpus location, keyed by (row count, vec_id fingerprint) so
    # concurrent scales — and same-count different-content corpora —
    # cannot clobber each other
    n, fp, _ = frame_fingerprint_stats(_vectors(spark, SF_DIR), "vec_id")
    return ivf_pq_location(table, n, fp)


def test_index_serve_equals_inflight_topk(spark):
    """(1) build+persist+probe == the in-flight operator, row for row —
    the disk round trip through the partitioned layout changes nothing."""
    got = _rows(ivf_pq_index_build(spark, SF_DIR))
    want = _rows(ivf_pq_topk(spark, SF_DIR))
    assert got == want and len(got) > 0


def test_index_persists_exact_encode(spark):
    """(2) full-index integrity: the persisted layout is exactly the
    encode output for EVERY vector — including lists outside any probe,
    which no serve result can observe."""
    ivf_pq_index_build(spark, SF_DIR).collect()  # build side effect
    vecs = (
        _vectors(spark, SF_DIR)
        .withColumn("xp", F.expr("transform(v, x -> CAST(FLOOR(1e6 * x) AS BIGINT))"))
        .localCheckpoint()
    )
    centroids, cb, _ = _pq_fit(vecs)
    want = sorted(
        (int(r["vec_id"]), int(r["list_id"]), tuple(r["codes"]))
        for r in _pq_encode(vecs, centroids, cb).collect()
    )
    got = sorted(
        (int(r["vec_id"]), int(r["list_id"]), tuple(r["codes"]))
        for r in spark.read.schema(PQ_INDEX_SCHEMA)
        .parquet(_index_path(spark, IVF_PQ_INDEX_TABLE))
        .collect()
    )
    assert got == want and len(got) > 0


@pytest.mark.parametrize("name", ["ivf_pq_index_build", "ivf_pq_index_upsert"])
def test_single_query_serve_prunes_partitions(spark, name):
    """(3) the serving shape over each persisted index: ONE query probes
    IVF_PROBE lists, and the planned index scan's PartitionFilters carry
    at most that many list ids — the partition-pruned analog of the probe
    join reading a vanishing fraction of a 100 TB index. Pruning must also
    be SOUND: the pruned serve equals the same serve over the unpruned
    index."""
    import re

    from datafusion_distributed_experiment_spark.plans import plan_string

    from .test_ivf_pq_upsert import _frozen_fit, _merged_corpus

    queries()[name](spark, SF_DIR).collect()  # build side effect
    vecs, centroids, cb, seed_rows = _frozen_fit(spark)
    if name == "ivf_pq_index_build":
        table, refine = IVF_PQ_INDEX_TABLE, vecs
    else:
        table, refine = IVF_PQ_UPSERT_TABLE, _merged_corpus(spark, vecs).localCheckpoint()
    index = spark.read.schema(PQ_INDEX_SCHEMA).parquet(_index_path(spark, table))
    served = serve_pq_index(
        spark, refine, index, centroids, cb, seed_rows, n_queries=1
    )
    plan = plan_string(served)
    # Spark prints small literal sets as `IN (a,b,c)` and switches to
    # `INSET a, b, c` above the optimizer's set-conversion threshold
    m = re.search(r"PartitionFilters: \[[^\]]*?(?:INSET ([\d, ]+)|IN \(([\d,]+)\))", plan)
    assert m, plan
    probed = [x for x in (m.group(1) or m.group(2)).split(",") if x.strip()]
    assert 0 < len(probed) <= IVF_PROBE, (
        f"one query probes {IVF_PROBE} lists; the scan must prune to at "
        f"most that many partitions, got {len(probed)}"
    )
    # soundness: pruning removes only rows no probe can join
    unpruned = _pq_serve(
        spark, refine, index, centroids, cb, seed_rows, n_queries=1
    )
    assert _rows(served) == _rows(unpruned) and len(_rows(served)) > 0


@pytest.mark.parametrize(
    "name, n_jobs", [("ivf_pq_index_build", 18), ("ivf_pq_index_upsert", 23)]
)
def test_index_queries_launch_pinned_job_count(spark, name, n_jobs):
    """Job ledger for the two persisted-index queries on this session
    shape: corpus fit, the partitioned index write, the probe collect and
    the serve (plus, for the upsert, the change-batch and merged-corpus
    checkpoints). The index read-back takes the encode schema, so it
    launches no schema-inference job. Counted by job group on the second
    call after clearCache, so nothing cached by the first call can hide a
    job; a change that adds a job must move this number in the same
    diff."""
    fn = queries()[name]
    sc = spark.sparkContext
    jobs, rows = [], []
    try:
        for i in range(2):
            group = f"ivf-jobs-{name}-{i}"
            sc.setJobGroup(group, f"{name} call")
            rows.append(sorted(fn(spark, SF_DIR).collect()))
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            spark.catalog.clearCache()
    finally:
        sc.setJobGroup(None, None)
    assert jobs[1] == n_jobs, jobs
    assert rows[0] == rows[1] and rows[0]


def test_index_location_is_scale_isolated_and_relocatable(spark, duck, tmp_path):
    """Round-13 review fix: the index location is keyed by corpus row
    count under a repo-relative (env-overridable) warehouse root — not one
    fixed absolute path — so two invocations at different scales write
    DISJOINT partitions, and the static DuckDB oracle picks its own
    scale's partition out of the shared glob by the same count its
    embeddings view yields. Pinned end-to-end: build at SF_DIR, build
    again over a synthetic corpus of a DIFFERENT size, then hash-compare
    the synthetic serve against the oracle WHILE BOTH partitions exist on
    disk — a wrong-partition read cannot hash-match."""
    import os

    from datafusion_distributed_experiment_spark.operators.similarity import (
        DIM,
        oracles,
    )

    from ._compare import assert_frames_match

    n_base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    ivf_pq_index_build(spark, SF_DIR).collect()
    n, fp, _ = frame_fingerprint_stats(_vectors(spark, SF_DIR), "vec_id")
    base_path = ivf_pq_location(IVF_PQ_INDEX_TABLE, n, fp)
    assert os.path.isdir(base_path)
    base_files = sorted(os.listdir(base_path))

    # synthetic corpus, deliberately a different size than any sf dir
    n_syn = 48
    assert n_syn != n_base
    syn_dir = tmp_path / "syn"
    syn_dir.mkdir()
    rows = [
        (i, [((i * 37 + j * 11) % 200 - 100) / 100.0 for j in range(DIM)])
        for i in range(n_syn)
    ]
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(
        1
    ).write.parquet(str(syn_dir / "embeddings.parquet"))
    got = ivf_pq_index_build(spark, str(syn_dir)).toPandas()
    assert len(got) > 0
    n, fp, _ = frame_fingerprint_stats(_vectors(spark, str(syn_dir)), "vec_id")
    syn_path = ivf_pq_location(IVF_PQ_INDEX_TABLE, n, fp)
    assert n == n_syn
    assert os.path.isdir(syn_path) and syn_path != base_path
    # the base scale's partition is untouched by the synthetic build
    assert sorted(os.listdir(base_path)) == base_files

    # oracle partition selection: with BOTH partitions on disk, the count
    # subquery must pick the synthetic one when embeddings IS the
    # synthetic corpus
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{syn_dir}/embeddings.parquet/*.parquet'"
    )
    odf = con.execute(oracles()["ivf_pq_index_build"]).df()
    assert_frames_match(got, odf, "ivf_pq_index_build[synthetic-scale]")


def test_index_location_is_content_isolated_at_same_count(spark, duck, tmp_path):
    """Round-14 review fix (ADVICE low): keying the location on row count
    alone left two SAME-COUNT corpora sharing one partition — the clobber
    race was only closed across different scales. The vec_id fingerprint
    in the partition key closes it: two same-count, different-content
    corpora land in DISJOINT partitions, and the oracle's fingerprint
    subquery picks the right one while both exist on disk."""
    import os

    from datafusion_distributed_experiment_spark.operators.similarity import (
        DIM,
        oracles,
    )

    from ._compare import assert_frames_match

    n = 48

    def corpus(dirname, ids):
        d = tmp_path / dirname
        d.mkdir()
        rows = [
            (i, [((i * 37 + j * 11) % 200 - 100) / 100.0 for j in range(DIM)])
            for i in ids
        ]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1).write.parquet(str(d / "embeddings.parquet"))
        return str(d)

    # same count, different vec_id content (different max and sum)
    dir_a = corpus("a", list(range(n)))
    dir_b = corpus("b", list(range(n - 1)) + [n + 12])

    ivf_pq_index_build(spark, dir_a).collect()
    n_a, fp_a, _ = frame_fingerprint_stats(_vectors(spark, dir_a), "vec_id")
    path_a = ivf_pq_location(IVF_PQ_INDEX_TABLE, n_a, fp_a)
    files_a = sorted(os.listdir(path_a))

    got_b = ivf_pq_index_build(spark, dir_b).toPandas()
    n_b, fp_b, _ = frame_fingerprint_stats(_vectors(spark, dir_b), "vec_id")
    path_b = ivf_pq_location(IVF_PQ_INDEX_TABLE, n_b, fp_b)
    assert path_b != path_a, "same-count corpora must not share a partition"
    # corpus A's partition is untouched by corpus B's build
    assert sorted(os.listdir(path_a)) == files_a

    # the static oracle picks corpus B's partition while BOTH exist
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{dir_b}/embeddings.parquet/*.parquet'"
    )
    odf = con.execute(oracles()["ivf_pq_index_build"]).df()
    assert_frames_match(got_b, odf, "ivf_pq_index_build[same-count-content]")
