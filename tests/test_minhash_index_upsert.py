"""Persisted MinHash LSH band index maintenance (minhash_index_upsert;
oracle parity over the post-upsert on-disk state runs in
tests/test_corpus_oracle.py).

The dedup-tier twin of tests/test_ivf_pq_upsert.py — the same four claims
that make incremental maintenance worth building, each pinned:
(1) upsert ≡ rebuild: after the delta apply, the persisted index holds
    EXACTLY the band rows of a from-scratch build over the merged corpus
    (MinHash has no fitted model, so rebuild equivalence is exact), and
    the probe over the maintained index equals the probe over that
    rebuild;
(2) only touched partitions are rewritten: every untouched
    (band_idx, bucket) directory keeps its exact file set and mtimes
    across the delta apply (the O(delta), never O(index), refresh
    contract at 100 TB);
(3) the historical index never shuffles during the delta apply: the
    rewrite plan's index side is a partition-pruned scan plus a BROADCAST
    anti-join; the only keyed exchange is the one-file-per-partition
    layout repartition, bounded by TOUCHED-partition bytes;
(4) the serve probe PRUNES PARTITIONS: the planned index scan's
    PartitionFilters carry only the probe's own (band_idx, bucket) set,
    and pruning is sound — the pruned probe equals the same probe over
    the unpruned index. Emptied partitions drop via the shared
    drop_partition_dirs helper (pinned in test_ivf_pq_upsert).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from datafusion_distributed_experiment_spark.operators.dedup import (
    MINHASH_INDEX_BUCKETS,
    _apply_band_delta,
    _bands_with_bucket,
    _hist_docs,
    _minhash_change_batch,
    _partition_predicate,
    _read_band_index,
    _with_signature,
    _write_base_band_index,
    minhash_index_location,
    minhash_index_upsert,
    probe_band_index,
)
from datafusion_distributed_experiment_spark.sources.tables import (
    frame_fingerprint_stats,
)

from .conftest import SF_DIR


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


def test_upsert_rewrites_only_touched_partitions(spark):
    """(2) the O(delta) contract: applying a surgical delta (one deleted
    document plus one insert into a second partition) leaves every
    UNTOUCHED (band_idx, bucket) directory byte-identical (same file
    names, sizes, mtimes)."""
    hist, max_id, path = _hist_stats(spark)
    _write_base_band_index(hist, path)

    def snapshot():
        out = {}
        for b in os.listdir(path):
            if not b.startswith("band_idx="):
                continue
            for k in os.listdir(os.path.join(path, b)):
                if not k.startswith("bucket="):
                    continue
                full = os.path.join(path, b, k)
                out[(b, k)] = sorted(
                    (f, os.path.getsize(os.path.join(full, f)),
                     os.path.getmtime(os.path.join(full, f)))
                    for f in os.listdir(full)
                    if f.endswith(".parquet")
                )
        return out

    before = snapshot()
    idx = _read_band_index(spark, path)
    # one real doc to delete; one synthetic band row into whatever
    # partition the (x+1, y) key hashes to
    row = idx.orderBy("doc_id", "band_idx").limit(1).collect()[0]
    del_doc = int(row["doc_id"])
    x2, y2 = int(row["x"]) + 1, int(row["y"])
    delta = spark.createDataFrame(
        [(max_id + 99, x2, y2, int(row["band_idx"]), (x2 * 31 + y2) % MINHASH_INDEX_BUCKETS)],
        "doc_id long, x long, y long, band_idx long, bucket long",
    )
    rm = spark.createDataFrame([(del_doc,)], "doc_id long")
    touched = _apply_band_delta(spark, path, delta, rm)
    after = snapshot()

    touched_dirs = {(f"band_idx={b}", f"bucket={k}") for b, k in touched}
    untouched = set(before) - touched_dirs
    assert untouched, "pin needs at least one untouched partition"
    assert touched_dirs & set(before), "pin needs at least one rewritten partition"
    for d in untouched:
        assert after.get(d) == before[d], f"untouched partition {d} changed"
    post = _read_band_index(spark, path)
    ids = {int(r["doc_id"]) for r in post.collect()}
    assert del_doc not in ids and (max_id + 99) in ids


def test_delta_apply_never_shuffles_the_index(spark):
    """(3) the rewrite's index side: partition-pruned scan
    (PartitionFilters on band_idx/bucket), removal keys applied as a
    BROADCAST left-anti join — the only exchanges over index rows are the
    broadcast of the tiny key set and the one-file-per-partition layout
    repartition KEYED ON the partition columns, never anything hashed on
    doc_id (which would mean the historical index rows themselves were
    being exchanged for the join)."""
    import re

    from datafusion_distributed_experiment_spark.plans import plan_string

    hist, max_id, path = _hist_stats(spark)
    _write_base_band_index(hist, path)
    changes = _minhash_change_batch(hist, max_id).localCheckpoint()
    delta_bands = _bands_with_bucket(
        _with_signature(
            changes.filter(F.col("__op").isin("I", "U")).select("doc_id", "text")
        ).select("doc_id", "sig")
    ).localCheckpoint()
    rm_keys = changes.filter(F.col("__op").isin("U", "D")).select("doc_id")

    index = _read_band_index(spark, path)
    touched = sorted(
        {
            (int(r["band_idx"]), int(r["bucket"]))
            for r in index.join(F.broadcast(rm_keys), "doc_id")
            .select("band_idx", "bucket").distinct().collect()
        }
        | {
            (int(r["band_idx"]), int(r["bucket"]))
            for r in delta_bands.select("band_idx", "bucket").distinct().collect()
        }
    )
    rewrite = (
        index.filter(_partition_predicate(touched))
        .join(F.broadcast(rm_keys), "doc_id", "left_anti")
        .unionByName(delta_bands.select("doc_id", "x", "y", "band_idx", "bucket"))
        .repartition(F.col("band_idx"), F.col("bucket"))
    )
    plan = plan_string(rewrite)
    assert "PartitionFilters" in plan and "band_idx" in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    exchanges = re.findall(r"Exchange \w+[^\n]*", plan)
    bad = [
        e
        for e in exchanges
        if "Broadcast" not in e and "hashpartitioning(band_idx" not in e
    ]
    assert not bad, (bad, plan)


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


def test_emptied_band_partition_is_dropped(spark, tmp_path):
    """A partition whose every row is removed has its directory dropped
    (dynamic overwrite only replaces partitions present in the output) —
    via the shared Hadoop-FS drop helper, verified gone."""
    path = str(tmp_path / "bandidx")
    base = spark.createDataFrame(
        [(1, 10, 20, 0, (10 * 31 + 20) % MINHASH_INDEX_BUCKETS),
         (2, 11, 21, 0, (11 * 31 + 21) % MINHASH_INDEX_BUCKETS),
         (3, 400, 20, 1, (400 * 31 + 20) % MINHASH_INDEX_BUCKETS)],
        "doc_id long, x long, y long, band_idx long, bucket long",
    )
    (
        base.repartition(F.col("band_idx"), F.col("bucket"))
        .write.partitionBy("band_idx", "bucket")
        .parquet(path)
    )
    doomed = f"{path}/band_idx=1/bucket={(400 * 31 + 20) % MINHASH_INDEX_BUCKETS}"
    assert os.path.isdir(doomed)
    empty_delta = spark.createDataFrame(
        [], "doc_id long, x long, y long, band_idx long, bucket long"
    )
    rm = spark.createDataFrame([(3,)], "doc_id long")
    touched = _apply_band_delta(spark, path, empty_delta, rm)
    assert touched == [(1, (400 * 31 + 20) % MINHASH_INDEX_BUCKETS)]
    assert not os.path.exists(doomed), "emptied partition dir must drop"
    kept = sorted(int(r["doc_id"]) for r in spark.read.parquet(path).collect())
    assert kept == [1, 2], "untouched partition must survive intact"


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


# ------------------------------------------------------------------ #
# Hypothesis: the partition-rewrite machinery preserves set semantics
# for ARBITRARY deltas, not just the derived deterministic batch
# ------------------------------------------------------------------ #

from hypothesis import given, settings
from hypothesis import strategies as st

_BAND_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),    # doc_id
        st.integers(min_value=0, max_value=200),   # x
        st.integers(min_value=0, max_value=200),   # y
        st.integers(min_value=0, max_value=3),     # band_idx
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: (t[0], t[3]),  # one row per (doc, band)
)


@given(
    base=_BAND_ROWS,
    delta=_BAND_ROWS,
    rm_seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=8, deadline=None)
def test_apply_band_delta_equals_set_semantics_on_random_inputs(
    spark, tmp_path_factory, base, delta, rm_seed
):
    """For ARBITRARY base band sets, delta rows, and removal key sets:
    after _apply_band_delta the on-disk index is EXACTLY
    (base \\ rm_keys) ∪ delta — the derived CDC batch in the pinned
    rebuild-equivalence test is one point in this space; the property
    covers the machinery against deltas the derivation can never emit
    (removals of absent keys, deltas landing only in untouched
    partitions, total removal of a partition, delta == base)."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(rm_seed)
    base_ids = sorted({d for d, _, _, _ in base})
    rm_ids = {i for i in base_ids if rng.random() < 0.4} | (
        {99} if rng.random() < 0.3 else set()  # removal of an absent key
    )
    # delta doc_ids must not collide with surviving base ids (an upsert
    # delta replaces removed ids or adds new ones — the cdc contract)
    delta_rows = [
        (d + 1000, x, y, b, (x * 31 + y) % MINHASH_INDEX_BUCKETS)
        for d, x, y, b in delta
    ]
    base_rows = [
        (d, x, y, b, (x * 31 + y) % MINHASH_INDEX_BUCKETS) for d, x, y, b in base
    ]
    path = str(tmp_path_factory.mktemp("bandidx") / "idx")
    schema = "doc_id long, x long, y long, band_idx long, bucket long"
    (
        spark.createDataFrame(base_rows, schema)
        .repartition(F.col("band_idx"), F.col("bucket"))
        .write.partitionBy("band_idx", "bucket")
        .parquet(path)
    )
    delta_df = spark.createDataFrame(delta_rows, schema)
    rm_df = spark.createDataFrame([(i,) for i in sorted(rm_ids)] or [(-1,)], "doc_id long")
    _apply_band_delta(spark, path, delta_df, rm_df)

    got = sorted(
        (int(r["doc_id"]), int(r["x"]), int(r["y"]), int(r["band_idx"]), int(r["bucket"]))
        for r in _read_band_index(spark, path).collect()
    )
    rm_effective = rm_ids if rm_ids else {-1}
    want = sorted(
        [t for t in base_rows if t[0] not in rm_effective] + delta_rows
    )
    assert got == want, (base_rows, delta_rows, sorted(rm_effective))


def test_folded_band_write_equals_base_minus_rm_plus_delta(spark, tmp_path):
    """Round-15 fold: _write_base_band_index(rm_keys=, delta_bands=)
    writes the post-delta state in ONE pass — on-disk content must equal
    bands(hist) minus the removal keys plus the delta band rows, for an
    arbitrary delta, including a partition emptied by the removal."""
    hist, max_id, _ = _hist_stats(spark)
    path = str(tmp_path / "foldtest")
    base = {
        (int(r["doc_id"]), int(r["band_idx"]), int(r["x"]), int(r["y"]), int(r["bucket"]))
        for r in _bands_with_bucket(
            _with_signature(hist).select("doc_id", "sig")
        ).collect()
    }
    # pick a small partition to empty entirely, plus one extra removal key
    from collections import Counter

    part_rows = Counter((b, k) for _, b, _, _, k in base)
    victim = min(part_rows, key=part_rows.get)
    rm_ids = {d for d, b, _, _, k in base if (b, k) == victim}
    rm_ids.add(next(d for d, b, _, _, k in base if (b, k) != victim))
    some = next(t for t in base if (t[1], t[4]) != victim)
    delta = (max_id + 9, some[1], some[2], some[3], some[4])
    delta_bands = spark.createDataFrame(
        [delta], "doc_id long, band_idx long, x long, y long, bucket long"
    )
    rm_keys = spark.createDataFrame([(d,) for d in sorted(rm_ids)], "doc_id long")
    _write_base_band_index(hist, path, rm_keys=rm_keys, delta_bands=delta_bands)
    got = {
        (int(r["doc_id"]), int(r["band_idx"]), int(r["x"]), int(r["y"]), int(r["bucket"]))
        for r in _read_band_index(spark, path).collect()
    }
    want = {t for t in base if t[0] not in rm_ids} | {delta}
    assert got == want
    # the emptied partition has no directory
    assert not os.path.exists(
        os.path.join(path, f"band_idx={victim[0]}", f"bucket={victim[1]}")
    )


def test_upsert_oracles_ignore_foreign_index_dirs(spark, duck, tmp_path, monkeypatch):
    """Both fold writers leave sibling directories whose ``f=`` value is not
    an integer inside the index table roots, then both upsert oracles run
    in that same warehouse: they select their partition by value and must
    skip the foreign directories instead of failing to cast them."""
    from datafusion_distributed_experiment_spark.operators import (
        pipeline_oracles,
        pipeline_queries,
    )
    from datafusion_distributed_experiment_spark.operators.similarity import (
        _write_base_index,
        corpus_fingerprint,
        ivf_pq_upsert_location,
    )

    from ._compare import assert_frames_match
    from .test_ivf_pq_upsert import _frozen_fit

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path))
    vecs, centroids, cb, _ = _frozen_fit(spark)
    _write_base_index(
        vecs, centroids, cb, ivf_pq_upsert_location(*corpus_fingerprint(vecs)) + "_foldtest"
    )
    hist, _, path = _hist_stats(spark)
    _write_base_band_index(hist, path + "_foldtest")

    queries, oracles = pipeline_queries(), pipeline_oracles()
    for name in ("ivf_pq_index_upsert", "minhash_index_upsert"):
        got = queries[name](spark, SF_DIR).toPandas()
        assert len(got) > 0, f"{name}: empty result proves nothing"
        assert_frames_match(got, duck.execute(oracles[name]).df(), name)
