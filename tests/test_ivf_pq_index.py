"""IVF-PQ persisted-index tests (oracle parity over the on-disk index
runs in tests/test_corpus_oracle.py since the round-13 promotion; these
pin the build/serve split).

The three claims that make the index worth persisting, each pinned:
(1) serving from the persisted index is BIT-IDENTICAL to the in-flight
    ivf_pq_topk (the shared _pq_serve kernel over a disk round trip);
(2) the persisted table holds EXACTLY the _pq_encode output for the
    whole corpus — including lists no probe touches, which the serve
    result (and the DuckDB oracle, which only joins probed lists) can
    never observe;
(3) the probe path PRUNES BUCKETS: the probed-list IN-filter on the
    bucketed table plans a scan of at most |probed lists| of the
    IVF_PQ_INDEX_BUCKETS buckets (SelectedBucketsCount), and pruning is
    sound — the pruned serve equals a serve over the unpruned index.
"""

from __future__ import annotations

from datafusion_distributed_experiment_spark.operators.similarity import (
    IVF_PQ_INDEX_BUCKETS,
    IVF_PROBE,
    _pq_encode,
    _pq_fit,
    _pq_serve,
    _vectors,
    ivf_pq_index_build,
    ivf_pq_topk,
    serve_pq_index,
)
from pyspark.sql import functions as F

from datafusion_distributed_experiment_spark.operators.similarity import (
    ivf_pq_index_location,
)
from datafusion_distributed_experiment_spark.sources.tables import (
    frame_fingerprint_stats,
)

from .conftest import SF_DIR


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _index_table(spark):
    # per-corpus catalog name (round-13/14 reviews: the location is keyed
    # by (row count, vec_id fingerprint) so concurrent scales — and
    # same-count different-content corpora — cannot clobber each other)
    n, fp, _ = frame_fingerprint_stats(_vectors(spark, SF_DIR), "vec_id")
    return ivf_pq_index_location(n, fp)[0]


def test_index_serve_equals_inflight_topk(spark):
    """(1) build+persist+probe == the in-flight operator, row for row —
    the disk round trip through the bucketed table changes nothing."""
    got = _rows(ivf_pq_index_build(spark, SF_DIR))
    want = _rows(ivf_pq_topk(spark, SF_DIR))
    assert got == want and len(got) > 0


def test_index_persists_exact_encode(spark):
    """(2) full-index integrity: the persisted table is exactly the
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
        for r in spark.table(_index_table(spark)).collect()
    )
    assert got == want and len(got) > 0


def test_single_query_probe_prunes_buckets(spark):
    """(3) the serving shape: ONE query probes IVF_PROBE lists, and the
    planned index scan selects at most that many of the
    IVF_PQ_INDEX_BUCKETS buckets (SelectedBucketsCount) — the persistent
    analog of the probe join reading a vanishing fraction of a 100 TB
    index. Pruning must also be SOUND: the pruned serve equals the same
    serve over the unpruned index."""
    from datafusion_distributed_experiment_spark.plans import plan_string

    ivf_pq_index_build(spark, SF_DIR).collect()  # build side effect
    vecs = (
        _vectors(spark, SF_DIR)
        .withColumn("xp", F.expr("transform(v, x -> CAST(FLOOR(1e6 * x) AS BIGINT))"))
        .localCheckpoint()
    )
    centroids, cb, seed_rows = _pq_fit(vecs)
    index = spark.table(_index_table(spark))
    served = serve_pq_index(
        spark, vecs, index, centroids, cb, seed_rows, n_queries=1
    )
    plan = plan_string(served)
    assert "SelectedBucketsCount" in plan, plan
    import re

    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, plan
    selected, total = int(m.group(1)), int(m.group(2))
    assert total == IVF_PQ_INDEX_BUCKETS
    assert 0 < selected <= IVF_PROBE, (
        f"one query probes {IVF_PROBE} lists; the scan must touch at most "
        f"that many buckets, got {selected}/{total}"
    )
    # soundness: pruning removes only rows no probe can join
    unpruned = _pq_serve(
        spark, vecs, index, centroids, cb, seed_rows, n_queries=1
    )
    assert _rows(served) == _rows(unpruned) and len(_rows(served)) > 0


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
        _ivf_pq_index_oracle,
        _warehouse_root,
    )

    from ._compare import assert_frames_match

    n_base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    ivf_pq_index_build(spark, SF_DIR).collect()
    n, fp, _ = frame_fingerprint_stats(_vectors(spark, SF_DIR), "vec_id")
    base_path = ivf_pq_index_location(n, fp)[1]
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
    syn_path = ivf_pq_index_location(n, fp)[1]
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
    odf = con.execute(_ivf_pq_index_oracle()).df()
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
        _ivf_pq_index_oracle,
        _vectors,
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
    path_a = ivf_pq_index_location(n_a, fp_a)[1]
    files_a = sorted(os.listdir(path_a))

    got_b = ivf_pq_index_build(spark, dir_b).toPandas()
    n_b, fp_b, _ = frame_fingerprint_stats(_vectors(spark, dir_b), "vec_id")
    path_b = ivf_pq_index_location(n_b, fp_b)[1]
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
    odf = con.execute(_ivf_pq_index_oracle()).df()
    assert_frames_match(got_b, odf, "ivf_pq_index_build[same-count-content]")
