"""Persisted MinHash LSH band index refresh under a CDC batch
(minhash_index_upsert; oracle parity over the post-upsert on-disk state
runs in tests/test_corpus_oracle.py).

The dedup-tier twin of tests/test_ivf_pq_upsert.py, pinned here:
(1) upsert ≡ rebuild: the persisted index holds EXACTLY the band rows of
    a from-scratch build over the merged corpus (MinHash has no fitted
    model, so rebuild equivalence is exact), and the probe over the
    persisted index equals the probe over that rebuild;
(2) the removal-key anti-join picks its strategy from the key set's size
    (no forced broadcast);
(3) the serve probe PRUNES PARTITIONS: the planned index scan's
    PartitionFilters carry only the probe's own (band_idx, bucket) set,
    and pruning is sound — the pruned probe equals the same probe over
    the unpruned index;
(4) the refresh write has set semantics for ARBITRARY corpora, removal
    keys and delta band rows written over a stale base layout: the index
    is (bands(hist) minus removed docs) plus the delta rows, and a
    partition the removals empty loses its directory.

Every test here writes into a private warehouse, never the one the
oracles read.
"""

from __future__ import annotations

import os
from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datafusion_distributed_experiment_spark.operators.dedup import (
    BANDS,
    MINHASH_INDEX_BUCKETS,
    _band_index_rows,
    _bands_with_bucket,
    _hist_docs,
    _minhash_change_batch,
    _read_band_index,
    _with_signature,
    minhash_index_location,
    minhash_index_upsert,
    probe_band_index,
)
from datafusion_distributed_experiment_spark.sources.tables import (
    frame_fingerprint_stats,
    write_partitioned,
)

from .conftest import SF_DIR

pytestmark = pytest.mark.usefixtures("private_warehouse")


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _hist_stats(spark):
    hist = _hist_docs(spark, SF_DIR).localCheckpoint()
    n, fp, mx = frame_fingerprint_stats(hist, "doc_id")
    return hist, mx, minhash_index_location(n, fp)


def _merged_corpus(spark, hist, max_id):
    from datafusion_distributed_experiment_spark.operators.cdc import cdc_merge

    changes = _minhash_change_batch(hist, max_id)
    return cdc_merge(hist, changes, key="doc_id")


def _index_rows(spark, path):
    return sorted(
        (int(r["doc_id"]), int(r["band_idx"]), int(r["x"]), int(r["y"]), int(r["bucket"]))
        for r in _read_band_index(spark, path).collect()
    )


def test_upsert_equals_from_scratch_rebuild(spark):
    """(1) full-index integrity AND probe equivalence: the maintained
    on-disk index is exactly the band rows of the merged corpus, and the
    upsert probe result equals the probe over that rebuild."""
    got_probe = _rows(minhash_index_upsert(spark, SF_DIR))

    hist, max_id, path = _hist_stats(spark)
    merged = _merged_corpus(spark, hist, max_id).localCheckpoint()
    want_index = sorted(
        (int(r["doc_id"]), int(r["band_idx"]), int(r["x"]), int(r["y"]), int(r["bucket"]))
        for r in _bands_with_bucket(
            _with_signature(merged).select("doc_id", "sig")
        ).collect()
    )
    got_index = _index_rows(spark, path)
    assert got_index == want_index and len(got_index) > 0

    changes = _minhash_change_batch(hist, max_id)
    delta_sigs = (
        _with_signature(changes.filter(F.col("__op").isin("I", "U")).select("doc_id", "text"))
        .select("doc_id", "toks", "sig")
        .localCheckpoint()
    )
    want_probe = _rows(probe_band_index(spark, path, delta_sigs, merged))
    assert got_probe == want_probe and len(got_probe) > 0


def test_probe_prunes_partitions_and_is_sound(spark):
    """(4) the serving shape over the MAINTAINED index: the probe's
    planned scan carries PartitionFilters (only the probe's own
    (band_idx, bucket) pairs are read — at scale a daily batch reads a
    bounded fraction of the index directories), and pruning is SOUND: the
    pruned probe equals the same probe over the unpruned index."""
    from datafusion_distributed_experiment_spark.operators.dedup import (
        JACCARD_MIN_PPM,
        _cap_buckets,
        tokens,
    )
    from datafusion_distributed_experiment_spark.plans import plan_string

    minhash_index_upsert(spark, SF_DIR).collect()  # maintain side effect
    hist, max_id, path = _hist_stats(spark)
    merged = _merged_corpus(spark, hist, max_id).localCheckpoint()
    changes = _minhash_change_batch(hist, max_id)
    delta_sigs = (
        _with_signature(changes.filter(F.col("__op").isin("I", "U")).select("doc_id", "text"))
        .select("doc_id", "toks", "sig")
        .localCheckpoint()
    )
    served = probe_band_index(spark, path, delta_sigs, merged)
    plan = plan_string(served)
    assert "PartitionFilters" in plan, plan
    # the scan is genuinely pruned: the index read in the plan mentions
    # the partition columns inside PartitionFilters
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*band_idx[^\]]*\]", plan)
    assert m, plan

    # soundness: probe over the UNPRUNED index (cap + join + verify by
    # hand) yields the identical pair set
    probe_bands = _bands_with_bucket(delta_sigs.select("doc_id", "sig"))
    idx_all = _cap_buckets(_read_band_index(spark, path), ["band_idx", "x", "y"])
    cand = (
        idx_all.alias("i")
        .join(
            F.broadcast(probe_bands.alias("p")),
            (F.col("i.band_idx") == F.col("p.band_idx"))
            & (F.col("i.x") == F.col("p.x"))
            & (F.col("i.y") == F.col("p.y"))
            & (F.col("i.doc_id") != F.col("p.doc_id")),
        )
        .select(F.col("p.doc_id").alias("probe_id"), F.col("i.doc_id").alias("index_id"))
        .dropDuplicates(["probe_id", "index_id"])
    )
    idx_toks = (
        merged.join(
            F.broadcast(
                cand.select("index_id").distinct().withColumnRenamed("index_id", "doc_id")
            ),
            "doc_id",
        )
        .select(
            F.col("doc_id").alias("index_id"),
            F.array_distinct(tokens(F.col("text"))).alias("toks_i"),
        )
    )
    jac = F.floor(
        F.lit(1e6)
        * F.size(F.array_intersect("toks_p", "toks_i"))
        / F.greatest(F.size(F.array_union("toks_p", "toks_i")), F.lit(1))
    ).cast("long")
    want = (
        cand.join(F.broadcast(idx_toks), "index_id")
        .join(
            F.broadcast(
                delta_sigs.select(
                    F.col("doc_id").alias("probe_id"), F.col("toks").alias("toks_p")
                )
            ),
            "probe_id",
        )
        .select("probe_id", "index_id", jac.alias("jaccard_ppm"))
        .filter(F.col("jaccard_ppm") >= JACCARD_MIN_PPM)
        .orderBy("probe_id", "index_id")
    )
    assert _rows(served) == _rows(want) and len(_rows(served)) > 0


def test_empty_corpus_returns_typed_empty_frame(spark, tmp_path):
    """Empty-input contract (the round-13 hardening doctrine applied to
    the new operator): an empty documents table answers with the typed
    empty frame instead of crashing at plan or write time."""
    d = tmp_path / "empty"
    d.mkdir()
    spark.createDataFrame([], "doc_id long, text string").write.parquet(
        str(d / "documents.parquet")
    )
    out = minhash_index_upsert(spark, str(d))
    assert out.columns == ["probe_id", "index_id", "jaccard_ppm"]
    assert out.count() == 0


def test_band_index_rows_join_strategy_follows_key_size(spark):
    """The removal-key anti-join carries no broadcast hint: with the
    checkpointed key set's size statistics under the threshold the
    planner broadcasts it, and with broadcasting disabled it falls back to
    a sort-merge join instead of forcing a broadcast that grows with the
    change batch."""
    from datafusion_distributed_experiment_spark.plans import plan_string

    hist, max_id, _ = _hist_stats(spark)
    changes = _minhash_change_batch(hist, max_id).localCheckpoint()
    rm_keys = changes.filter(F.col("__op").isin("U", "D")).select("doc_id")
    delta_bands = _bands_with_bucket(
        _with_signature(
            changes.filter(F.col("__op").isin("I", "U")).select("doc_id", "text")
        ).select("doc_id", "sig")
    ).localCheckpoint()

    plan = plan_string(_band_index_rows(hist, rm_keys, delta_bands))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_string(_band_index_rows(hist, rm_keys, delta_bands))
        assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_upsert_oracles_ignore_foreign_index_dirs(spark, duck, tmp_path, monkeypatch):
    """The shared partitioned writer leaves sibling directories whose ``f=``
    value is not an integer inside all three index table roots, and the
    IVF-PQ build root also holds a foreign corpus in the retired bucketed
    layout (part files directly under ``n=/f=``, one level shallower than
    a ``list_id=`` layout). Every persisted-index oracle then runs in that
    same warehouse: it selects its partition by value and must skip the
    foreign directories instead of failing to cast or read them."""
    from datafusion_distributed_experiment_spark.operators import (
        pipeline_oracles,
        pipeline_queries,
    )
    from datafusion_distributed_experiment_spark.operators.similarity import (
        IVF_PQ_INDEX_TABLE,
        IVF_PQ_UPSERT_TABLE,
        _pq_encode,
        ivf_pq_location,
    )

    from ._compare import assert_frames_match
    from .test_ivf_pq_upsert import _frozen_fit

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path))
    vecs, centroids, cb, _ = _frozen_fit(spark)
    n, fp = frame_fingerprint_stats(vecs, "vec_id")[:2]
    enc = _pq_encode(vecs, centroids, cb).select("vec_id", "codes", "list_id")
    for table in (IVF_PQ_INDEX_TABLE, IVF_PQ_UPSERT_TABLE):
        write_partitioned(
            enc, ivf_pq_location(table, n, fp) + "_foldtest", ["list_id"], len(centroids)
        )
    enc.coalesce(1).write.parquet(ivf_pq_location(IVF_PQ_INDEX_TABLE, n, fp + 1))
    hist, _, path = _hist_stats(spark)
    write_partitioned(
        _bands_with_bucket(_with_signature(hist).select("doc_id", "sig")),
        path + "_foldtest",
        ["band_idx", "bucket"],
        len(BANDS) * MINHASH_INDEX_BUCKETS,
    )

    queries, oracles = pipeline_queries(), pipeline_oracles()
    for name in ("ivf_pq_index_build", "ivf_pq_index_upsert", "minhash_index_upsert"):
        got = queries[name](spark, SF_DIR).toPandas()
        assert len(got) > 0, f"{name}: empty result proves nothing"
        assert_frames_match(got, duck.execute(oracles[name]).df(), name)


# ------------------------------------------------------------------ #
# The refresh write as the query spells it — _band_index_rows through
# write_partitioned — for removals and delta rows the derived batch never
# emits, written over a stale base layout.
# ------------------------------------------------------------------ #

_BAND_SCHEMA = "doc_id long, band_idx long, x long, y long, bucket long"


def _write_base_bands(hist, path):
    write_partitioned(
        _bands_with_bucket(_with_signature(hist).select("doc_id", "sig")),
        path,
        ["band_idx", "bucket"],
        len(BANDS) * MINHASH_INDEX_BUCKETS,
    )


def _refresh_bands(hist, rm_keys, delta_bands, path):
    """The index write of minhash_index_upsert for explicit removal keys
    and delta band rows."""
    write_partitioned(
        _band_index_rows(hist, rm_keys, delta_bands),
        path,
        ["band_idx", "bucket"],
        len(BANDS) * MINHASH_INDEX_BUCKETS,
    )


def _base_band_rows(hist):
    return sorted(
        (int(r["doc_id"]), int(r["band_idx"]), int(r["x"]), int(r["y"]), int(r["bucket"]))
        for r in _bands_with_bucket(
            _with_signature(hist).select("doc_id", "sig")
        ).collect()
    )


def _part_dirs(path):
    return {
        (int(b.split("=")[1]), int(k.split("=")[1]))
        for b in os.listdir(path)
        if b.startswith("band_idx=")
        for k in os.listdir(os.path.join(path, b))
        if k.startswith("bucket=")
    }


_DOCS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),  # doc_id
        st.lists(st.sampled_from(["ab", "cd", "ef", "gh", "ij", "kl"]), max_size=10),
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda t: t[0],
)
_DELTA_BANDS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),    # doc_id
        st.integers(min_value=0, max_value=200),   # x
        st.integers(min_value=0, max_value=200),   # y
        st.integers(min_value=0, max_value=len(BANDS) - 1),  # band_idx
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: (t[0], t[3]),  # one row per (doc, band)
)


@given(
    docs=_DOCS,
    delta=_DELTA_BANDS,
    rm_seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=8, deadline=None)
def test_apply_band_delta_equals_set_semantics_on_random_inputs(
    spark, tmp_path_factory, docs, delta, rm_seed
):
    """For ARBITRARY corpora, removal key sets and delta band rows,
    refreshed over a stale base layout: the on-disk index is EXACTLY
    (bands(hist) \\ rm_keys) ∪ delta — the derived CDC batch in the
    rebuild-equivalence test is one point in this space; the property
    covers removals of absent keys, documents too short to band, deltas
    landing only in partitions the base lacks, and total removal of a
    partition."""
    import random

    rng = random.Random(rm_seed)
    hist = spark.createDataFrame(
        [(d, " ".join(words)) for d, words in docs], "doc_id long, text string"
    )
    rm_ids = {d for d, _ in docs if rng.random() < 0.4} | (
        {99} if rng.random() < 0.3 else set()  # removal of an absent key
    )
    # delta doc_ids never collide with surviving base ids (an upsert delta
    # replaces removed ids or adds new ones — the cdc contract)
    delta_rows = [
        (d + 1000, b, x, y, (x * 31 + y) % MINHASH_INDEX_BUCKETS) for d, x, y, b in delta
    ]
    path = str(tmp_path_factory.mktemp("bandidx") / "idx")
    _write_base_bands(hist, path)
    base_rows = _base_band_rows(hist)
    rm_df = spark.createDataFrame([(i,) for i in sorted(rm_ids)], "doc_id long")
    _refresh_bands(hist, rm_df, spark.createDataFrame(delta_rows, _BAND_SCHEMA), path)

    want = sorted([t for t in base_rows if t[0] not in rm_ids] + delta_rows)
    assert _index_rows(spark, path) == want, (base_rows, delta_rows, sorted(rm_ids))
    assert _part_dirs(path) == {(b, k) for _, b, _, _, k in want}


def test_emptied_band_partition_is_dropped(spark, tmp_path):
    """A partition whose every row is removed has no directory after the
    refresh, although the base layout at the same path had one (a
    surviving stale directory would be served by every later probe);
    every other partition keeps exactly its rows."""
    hist, _, _ = _hist_stats(spark)
    path = str(tmp_path / "bandidx")
    _write_base_bands(hist, path)
    base = _base_band_rows(hist)
    part_rows = Counter((b, k) for _, b, _, _, k in base)
    victim = min(part_rows, key=part_rows.get)
    assert victim in _part_dirs(path)
    rm_ids = sorted({d for d, b, _, _, k in base if (b, k) == victim})
    _refresh_bands(
        hist,
        spark.createDataFrame([(d,) for d in rm_ids], "doc_id long"),
        spark.createDataFrame([], _BAND_SCHEMA),
        path,
    )
    assert victim not in _part_dirs(path), "emptied partition dir must drop"
    want = sorted(t for t in base if t[0] not in rm_ids)
    got = _index_rows(spark, path)
    assert got == want and len(got) > 0, "untouched partitions must survive intact"


def test_folded_band_write_equals_base_minus_rm_plus_delta(spark, tmp_path):
    """The one-pass refresh into a fresh path: on-disk content equals
    bands(hist) minus the removal keys plus the delta band rows, for an
    arbitrary delta, including a partition emptied by the removal."""
    hist, max_id, _ = _hist_stats(spark)
    path = str(tmp_path / "foldtest")
    base = set(_base_band_rows(hist))
    # pick a small partition to empty entirely, plus one extra removal key
    part_rows = Counter((b, k) for _, b, _, _, k in base)
    victim = min(part_rows, key=part_rows.get)
    rm_ids = {d for d, b, _, _, k in base if (b, k) == victim}
    rm_ids.add(next(d for d, b, _, _, k in sorted(base) if (b, k) != victim))
    some = next(t for t in sorted(base) if (t[1], t[4]) != victim)
    delta = (max_id + 9, some[1], some[2], some[3], some[4])
    rm_keys = spark.createDataFrame([(d,) for d in sorted(rm_ids)], "doc_id long")
    _refresh_bands(hist, rm_keys, spark.createDataFrame([delta], _BAND_SCHEMA), path)
    got = set(_index_rows(spark, path))
    want = {t for t in base if t[0] not in rm_ids} | {delta}
    assert got == want
    # the emptied partition has no directory
    assert victim not in _part_dirs(path)
