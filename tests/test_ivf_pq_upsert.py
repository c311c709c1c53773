"""IVF-PQ incremental index maintenance (ivf_pq_index_upsert; oracle
parity over the post-upsert on-disk state runs in
tests/test_corpus_oracle.py).

The four claims that make incremental maintenance worth building, each
pinned:
(1) upsert ≡ rebuild: after the delta apply, the persisted index holds
    EXACTLY the frozen-model encode of the merged corpus — including
    lists no probe touches — and serving from it is BIT-IDENTICAL to the
    in-flight serve over that rebuild encode;
(2) only touched lists are rewritten: every untouched partition
    directory keeps its exact file set and mtimes across the delta apply
    (the O(delta), never O(index), refresh contract at 100 TB);
(3) the historical index never shuffles during the delta apply: the
    rewrite plan's index side is a partition-pruned scan plus a
    BROADCAST anti-join; the only keyed exchange is the
    one-file-per-list layout repartition, bounded by TOUCHED-list bytes;
(4) a list whose every row is removed has its directory DROPPED (dynamic
    partition overwrite only replaces partitions present in the output —
    an emptied list would otherwise serve stale rows forever).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from datafusion_distributed_experiment_spark.operators.similarity import (
    _apply_index_delta,
    _pq_encode,
    _pq_fit,
    _pq_serve,
    _upsert_change_batch,
    _vectors,
    _with_xp,
    _write_base_index,
    ivf_pq_index_upsert,
    corpus_fingerprint,
    ivf_pq_upsert_location,
    norm,
)

from .conftest import SF_DIR


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _frozen_fit(spark):
    vecs = _with_xp(_vectors(spark, SF_DIR)).localCheckpoint()
    centroids, cb, seed_rows = _pq_fit(vecs)
    return vecs, centroids, cb, seed_rows


def _merged_corpus(spark, vecs):
    from datafusion_distributed_experiment_spark.operators.cdc import cdc_merge

    max_id = vecs.agg(F.max("vec_id")).collect()[0][0]
    changes = _upsert_change_batch(vecs, int(max_id))
    return _with_xp(
        cdc_merge(vecs.select("vec_id", "v"), changes, key="vec_id")
    ).withColumn("nrm", norm(F.col("v")))


def test_upsert_equals_frozen_model_rebuild(spark):
    """(1) full-index integrity AND serve equivalence: the maintained
    on-disk index is exactly the frozen-model encode of the merged corpus,
    and the upsert serve result equals the in-flight serve over that
    rebuild encode, row for row."""
    got_serve = _rows(ivf_pq_index_upsert(spark, SF_DIR))

    vecs, centroids, cb, seed_rows = _frozen_fit(spark)
    merged = _merged_corpus(spark, vecs).localCheckpoint()
    rebuild_enc = _pq_encode(merged, centroids, cb)
    want_index = sorted(
        (int(r["vec_id"]), int(r["list_id"]), tuple(r["codes"]))
        for r in rebuild_enc.collect()
    )
    path = ivf_pq_upsert_location(*corpus_fingerprint(vecs))
    got_index = sorted(
        (int(r["vec_id"]), int(r["list_id"]), tuple(r["codes"]))
        for r in spark.read.parquet(path).collect()
    )
    assert got_index == want_index and len(got_index) > 0

    want_serve = _rows(
        _pq_serve(spark, merged, rebuild_enc, centroids, cb, seed_rows)
    )
    assert got_serve == want_serve and len(got_serve) > 0


def test_upsert_rewrites_only_touched_partitions(spark):
    """(2) the O(delta) contract: applying a delta leaves every UNTOUCHED
    list directory byte-identical (same file names, sizes, mtimes). The
    delta here is surgical — one deleted vector plus one insert into a
    second list — because the sf0.001 %10 batch is dense enough to touch
    all ~25 lists (a test-data artifact, not a machinery property); the
    partition-replacement machinery under test is _apply_index_delta
    either way."""
    vecs, centroids, cb, seed_rows = _frozen_fit(spark)
    path = ivf_pq_upsert_location(*corpus_fingerprint(vecs))
    _write_base_index(vecs, centroids, cb, path)

    def snapshot():
        out = {}
        for d in os.listdir(path):
            if not d.startswith("list_id="):
                continue
            full = os.path.join(path, d)
            out[d] = sorted(
                (f, os.path.getsize(os.path.join(full, f)),
                 os.path.getmtime(os.path.join(full, f)))
                for f in os.listdir(full)
                if f.endswith(".parquet")
            )
        return out

    before = snapshot()
    idx = spark.read.parquet(path).withColumn(
        "list_id", F.col("list_id").cast("long")
    )
    two = idx.orderBy("list_id", "vec_id").limit(1).unionByName(
        idx.orderBy(F.desc("list_id"), "vec_id").limit(1)
    ).collect()
    (del_vec, del_list), (ins_list,) = (
        (int(two[0]["vec_id"]), int(two[0]["list_id"])),
        (int(two[1]["list_id"]),),
    )
    assert del_list != ins_list, "corpus must span at least two lists"
    max_id = int(vecs.agg(F.max("vec_id")).collect()[0][0])
    delta_enc = spark.createDataFrame(
        [(max_id + 1, list(two[1]["codes"]), ins_list)],
        "vec_id long, codes array<int>, list_id long",
    )
    rm_keys = spark.createDataFrame([(del_vec,)], "vec_id long")
    touched = _apply_index_delta(spark, path, delta_enc, rm_keys)
    after = snapshot()

    assert sorted(touched) == sorted({del_list, ins_list})
    touched_dirs = {f"list_id={t}" for t in touched}
    untouched = set(before) - touched_dirs
    assert untouched, "pin needs at least one untouched list"
    assert touched_dirs & set(before), "pin needs at least one rewritten list"
    for d in untouched:
        assert after.get(d) == before[d], f"untouched partition {d} changed"
    # the delete and the insert both landed
    post = spark.read.parquet(path)
    ids = {int(r["vec_id"]) for r in post.collect()}
    assert del_vec not in ids and (max_id + 1) in ids


def test_delta_apply_never_shuffles_the_index(spark):
    """(3) the rewrite's index side: partition-pruned scan (PartitionFilters
    on list_id), removal keys applied as a BROADCAST left-anti join — the
    only exchanges over index rows are the broadcast of the tiny key set
    and the one-file-per-list layout repartition, which is bounded by the
    TOUCHED-list bytes (rows that were being rewritten anyway), never the
    historical index."""
    from datafusion_distributed_experiment_spark.plans import plan_string

    vecs, centroids, cb, _ = _frozen_fit(spark)
    path = ivf_pq_upsert_location(*corpus_fingerprint(vecs))
    _write_base_index(vecs, centroids, cb, path)
    max_id = int(vecs.agg(F.max("vec_id")).collect()[0][0])
    changes = _upsert_change_batch(vecs, max_id).localCheckpoint()
    delta_enc = _pq_encode(
        _with_xp(
            changes.filter(F.col("__op").isin("I", "U"))
            .select("vec_id", "v")
            .withColumn("nrm", norm(F.col("v")))
        ),
        centroids,
        cb,
    ).localCheckpoint()
    rm_keys = changes.filter(F.col("__op").isin("U", "D")).select("vec_id")

    index = spark.read.parquet(path).withColumn(
        "list_id", F.col("list_id").cast("long")
    )
    old_lists = [
        int(r["list_id"])
        for r in index.join(F.broadcast(rm_keys), "vec_id")
        .select("list_id").distinct().collect()
    ]
    new_lists = [int(r["list_id"]) for r in delta_enc.select("list_id").distinct().collect()]
    touched = sorted(set(old_lists) | set(new_lists))
    rewrite = (
        index.filter(F.col("list_id").isin(touched))
        .join(F.broadcast(rm_keys), "vec_id", "left_anti")
        .unionByName(delta_enc)
        .select("vec_id", "codes", "list_id")
        .repartition(F.col("list_id"))  # the implementation's layout shuffle
    )
    plan = plan_string(rewrite)
    assert "PartitionFilters" in plan and "list_id" in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    # permitted exchanges: the broadcast of the tiny key set and the
    # touched-rows layout repartition KEYED ON list_id — nothing else
    # (in particular, nothing hashed on vec_id, which would mean the
    # historical index rows themselves were being exchanged for the join)
    import re

    exchanges = re.findall(r"Exchange \w+[^\n]*", plan)
    bad = [
        e
        for e in exchanges
        if "Broadcast" not in e and "hashpartitioning(list_id" not in e
    ]
    assert not bad, (bad, plan)


def test_single_query_serve_prunes_partitions(spark):
    """Serving shape over the MAINTAINED index: ONE query probes
    IVF_PROBE lists and the planned scan's PartitionFilters INSET carries
    at most that many list ids — the hive-partition analog of the build
    index's SelectedBucketsCount pin (at scale a query batch reads a
    vanishing fraction of the index directories). Soundness: the pruned
    serve equals the same serve over the unpruned index."""
    import re

    from datafusion_distributed_experiment_spark.operators.similarity import (
        IVF_PROBE,
        serve_pq_index,
    )
    from datafusion_distributed_experiment_spark.plans import plan_string

    ivf_pq_index_upsert(spark, SF_DIR).collect()  # maintain side effect
    vecs, centroids, cb, seed_rows = _frozen_fit(spark)
    merged = _merged_corpus(spark, vecs).localCheckpoint()
    path = ivf_pq_upsert_location(*corpus_fingerprint(vecs))
    index = spark.read.parquet(path).withColumn(
        "list_id", F.col("list_id").cast("long")
    )
    served = serve_pq_index(
        spark, merged, index, centroids, cb, seed_rows, n_queries=1
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
        spark, merged, index, centroids, cb, seed_rows, n_queries=1
    )
    assert _rows(served) == _rows(unpruned) and len(_rows(served)) > 0


def test_emptied_list_directory_is_dropped(spark, tmp_path):
    """(4) dynamic overwrite only replaces partitions PRESENT in the
    output: a list whose every row is removed must have its directory
    dropped explicitly, or serving would read stale rows forever."""
    path = str(tmp_path / "idx")
    base = spark.createDataFrame(
        [(1, [1, 2], 7), (2, [3, 4], 7), (3, [5, 6], 9)],
        "vec_id long, codes array<int>, list_id long",
    )
    base.select("vec_id", "codes", "list_id").write.partitionBy("list_id").parquet(path)
    assert os.path.isdir(f"{path}/list_id=9")
    empty_delta = spark.createDataFrame(
        [], "vec_id long, codes array<int>, list_id long"
    )
    rm = spark.createDataFrame([(3,)], "vec_id long")
    touched = _apply_index_delta(spark, path, empty_delta, rm)
    assert touched == [9]
    assert not os.path.exists(f"{path}/list_id=9"), "emptied list dir must drop"
    kept = sorted(
        int(r["vec_id"]) for r in spark.read.parquet(path).collect()
    )
    assert kept == [1, 2], "untouched list must survive intact"


def test_drop_partition_dirs_uses_hadoop_fs(spark, tmp_path):
    """Round-14 review fix (ADVICE medium): the emptied-partition drop
    goes through the Hadoop FileSystem API — the same FS abstraction
    every other read/write uses, so it works on non-local filesystems —
    and VERIFIES the directory is gone instead of swallowing failures
    (a silently-surviving stale list directory would be served by every
    later probe). Pinned: a nested directory is removed recursively, a
    missing path is a no-op (idempotent re-runs), and sibling
    directories survive."""
    from datafusion_distributed_experiment_spark.sources.tables import (
        drop_partition_dirs as _drop_partition_dirs,
    )

    keep = tmp_path / "idx" / "list_id=1"
    drop = tmp_path / "idx" / "list_id=9"
    keep.mkdir(parents=True)
    drop.mkdir(parents=True)
    (keep / "part-0.parquet").write_bytes(b"k")
    (drop / "part-0.parquet").write_bytes(b"d")
    _drop_partition_dirs(spark, [str(drop)])
    assert not drop.exists(), "directory (with contents) must be gone"
    assert (keep / "part-0.parquet").exists(), "siblings must survive"
    # missing path: no-op, no raise — the drop is idempotent
    _drop_partition_dirs(spark, [str(drop)])


def test_noop_change_batch_is_noop(spark, tmp_path):
    """Degenerate delta: empty change batch touches nothing and rewrites
    nothing (touched == [])."""
    path = str(tmp_path / "idx")
    spark.createDataFrame(
        [(1, [1], 3)], "vec_id long, codes array<int>, list_id long"
    ).write.partitionBy("list_id").parquet(path)
    empty_delta = spark.createDataFrame(
        [], "vec_id long, codes array<int>, list_id long"
    )
    no_rm = spark.createDataFrame([], "vec_id long")
    assert _apply_index_delta(spark, path, empty_delta, no_rm) == []
    assert [int(r["vec_id"]) for r in spark.read.parquet(path).collect()] == [1]


# ------------------------------------------------------------------ #
# Hypothesis: the partition-rewrite machinery preserves set semantics
# for ARBITRARY deltas (the dedup band-index twin lives in
# tests/test_minhash_index_upsert.py)
# ------------------------------------------------------------------ #

from hypothesis import given, settings
from hypothesis import strategies as st

_IDX_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),   # vec_id
        st.integers(min_value=0, max_value=7),    # list_id
        st.integers(min_value=0, max_value=255),  # one code byte (expanded below)
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: t[0],  # one row per vec
)


@given(
    base=_IDX_ROWS,
    delta=_IDX_ROWS,
    rm_seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=8, deadline=None)
def test_apply_index_delta_equals_set_semantics_on_random_inputs(
    spark, tmp_path_factory, base, delta, rm_seed
):
    """For ARBITRARY base indexes, delta encodings, and removal key sets:
    after _apply_index_delta the on-disk index is EXACTLY
    (base \\ rm_keys) ∪ delta — the frozen-model derived batch in the
    pinned rebuild-equivalence test is one point in this space; the
    property covers removals of absent vecs, empty deltas, deltas into
    untouched lists, and total emptying of a list."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(rm_seed)
    base_rows = [(v, [c, (c * 7) % 256], l) for v, l, c in base]
    delta_rows = [(v + 1000, [c, (c * 11) % 256], l) for v, l, c in delta]
    base_ids = [v for v, _, _ in base_rows]
    rm_ids = {v for v in base_ids if rng.random() < 0.4} | (
        {999} if rng.random() < 0.3 else set()
    )
    path = str(tmp_path_factory.mktemp("ivfidx") / "idx")
    schema = "vec_id long, codes array<int>, list_id long"
    (
        spark.createDataFrame(base_rows, schema)
        .repartition(F.col("list_id"))
        .write.partitionBy("list_id")
        .parquet(path)
    )
    delta_df = spark.createDataFrame(delta_rows, schema)
    rm_df = spark.createDataFrame(
        [(i,) for i in sorted(rm_ids)] or [(-1,)], "vec_id long"
    )
    _apply_index_delta(spark, path, delta_df, rm_df)

    got = sorted(
        (int(r["vec_id"]), tuple(r["codes"]), int(r["list_id"]))
        for r in spark.read.parquet(path).collect()
    )
    rm_effective = rm_ids if rm_ids else {-1}
    want = sorted(
        [(v, tuple(c), l) for v, c, l in base_rows if v not in rm_effective]
        + [(v, tuple(c), l) for v, c, l in delta_rows]
    )
    assert got == want, (base_rows, delta_rows, sorted(rm_effective))


def test_folded_write_equals_base_minus_rm_plus_delta(spark, tmp_path):
    """Round-15 fold: _write_base_index(rm_keys=, delta_enc=) writes the
    post-delta state in ONE pass — on-disk content must equal
    encode(base) minus the removal keys plus the delta encodings, for an
    arbitrary (not batch-derived) delta, including a list emptied by the
    removal (static overwrite clears its directory)."""
    vecs, centroids, cb, seed_rows = _frozen_fit(spark)
    path = str(tmp_path / "foldtest")
    base = {
        (int(r["vec_id"]), int(r["list_id"]), tuple(r["codes"]))
        for r in _pq_encode(vecs, centroids, cb).collect()
    }
    # remove every vector of ONE list (empties it) plus one more key;
    # insert a fresh id into a different list
    lists = sorted({l for _, l, _ in base})
    assert len(lists) >= 2
    victim = lists[0]
    other = lists[-1]
    rm_ids = {v for v, l, _ in base if l == victim}
    rm_ids.add(next(v for v, l, _ in base if l == other))
    max_id = max(v for v, _, _ in base)
    some_codes = next(c for _, l, c in base if l == other)
    delta_enc = spark.createDataFrame(
        [(max_id + 7, list(some_codes), other)],
        "vec_id long, codes array<int>, list_id long",
    )
    rm_keys = spark.createDataFrame([(v,) for v in sorted(rm_ids)], "vec_id long")
    _write_base_index(
        vecs, centroids, cb, path, rm_keys=rm_keys, delta_enc=delta_enc
    )
    got = {
        (int(r["vec_id"]), int(r["list_id"]), tuple(r["codes"]))
        for r in spark.read.parquet(path)
        .withColumn("list_id", F.col("list_id").cast("long"))
        .collect()
    }
    want = {t for t in base if t[0] not in rm_ids} | {
        (max_id + 7, other, tuple(some_codes))
    }
    assert got == want
    # the emptied list has no directory (static overwrite wrote only
    # surviving partitions into a cleared path)
    assert not os.path.exists(os.path.join(path, f"list_id={victim}"))
