"""IVF-PQ index refresh under a CDC batch (ivf_pq_index_upsert; oracle
parity over the post-upsert on-disk state runs in
tests/test_corpus_oracle.py).

Pinned here:
(1) upsert ≡ rebuild: the persisted index holds EXACTLY the frozen-model
    encode of the merged corpus — including lists no probe touches — and
    serving from it is BIT-IDENTICAL to the in-flight serve over that
    rebuild encode;
(2) the refresh has set semantics for ARBITRARY change batches written
    over a stale base layout: the index is (encode(base) minus removed
    ids) plus encode(inserted and updated rows), an empty batch changes
    nothing, and a list the batch empties loses its directory.

The partitioned writer itself (static overwrite, one file per partition,
stale partitions gone) is pinned in tests/test_engine.py; partition
pruning of the serve over both persisted indexes in
tests/test_ivf_pq_index.py. Every test here
writes into a private warehouse, never the one the oracles read.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datafusion_distributed_experiment_spark.operators.similarity import (
    IVF_PQ_UPSERT_TABLE,
    PQ_INDEX_SCHEMA,
    _pq_encode,
    _pq_fit,
    _pq_serve,
    _upsert_change_batch,
    _vectors,
    _with_xp,
    ivf_pq_index_upsert,
    ivf_pq_location,
    norm,
)
from datafusion_distributed_experiment_spark.sources.tables import (
    frame_fingerprint_stats,
    write_partitioned,
)

from .conftest import SF_DIR

pytestmark = pytest.mark.usefixtures("private_warehouse")


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
    path = ivf_pq_location(
        IVF_PQ_UPSERT_TABLE, *frame_fingerprint_stats(vecs, "vec_id")[:2]
    )
    got_index = sorted(
        (int(r["vec_id"]), int(r["list_id"]), tuple(r["codes"]))
        for r in spark.read.schema(PQ_INDEX_SCHEMA).parquet(path).collect()
    )
    assert got_index == want_index and len(got_index) > 0

    want_serve = _rows(
        _pq_serve(spark, merged, rebuild_enc, centroids, cb, seed_rows)
    )
    assert got_serve == want_serve and len(got_serve) > 0


# ------------------------------------------------------------------ #
# The refresh as the query spells it — cdc_merge, frozen-model encode,
# write_partitioned — driven by hand-built change batches the derived
# batch never emits, written over a stale base layout.
# ------------------------------------------------------------------ #

_CHANGES_SCHEMA = "vec_id long, v array<double>, __op string"


def _index_set(spark, path):
    return {
        (int(r["vec_id"]), int(r["list_id"]), tuple(r["codes"]))
        for r in spark.read.schema(PQ_INDEX_SCHEMA).parquet(path).collect()
    }


def _list_dirs(path):
    return {d for d in os.listdir(path) if d.startswith("list_id=")}


def _encoded(vecs_v, centroids, cb):
    """Frozen-model encodings of (vec_id, v) rows as a set of
    (vec_id, list_id, codes)."""
    enc = _pq_encode(
        _with_xp(vecs_v).withColumn("nrm", norm(F.col("v"))), centroids, cb
    )
    return {
        (int(r["vec_id"]), int(r["list_id"]), tuple(r["codes"]))
        for r in enc.collect()
    }


def _refresh(vecs, changes, centroids, cb, path):
    """The index write of ivf_pq_index_upsert for an explicit change batch."""
    from datafusion_distributed_experiment_spark.operators.cdc import cdc_merge

    merged = _with_xp(
        cdc_merge(vecs.select("vec_id", "v"), changes, key="vec_id")
    ).withColumn("nrm", norm(F.col("v")))
    write_partitioned(
        _pq_encode(merged, centroids, cb).select("vec_id", "codes", "list_id"),
        path,
        ["list_id"],
        len(centroids),
    )


_FIT = {}


def _cached_fit(spark):
    """Frozen model, its base encodings and the corpus vectors by id,
    computed once per module (Hypothesis examples reuse them)."""
    if "fit" not in _FIT:
        vecs, centroids, cb, _ = _frozen_fit(spark)
        base = _encoded(vecs.select("vec_id", "v"), centroids, cb)
        by_id = {
            int(r["vec_id"]): list(r["v"])
            for r in vecs.select("vec_id", "v").collect()
        }
        _FIT["fit"] = (vecs, centroids, cb, base, by_id)
    return _FIT["fit"]


def _write_base(vecs, centroids, cb, path):
    write_partitioned(
        _pq_encode(vecs, centroids, cb).select("vec_id", "codes", "list_id"),
        path,
        ["list_id"],
        len(centroids),
    )


@given(
    picks=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),  # corpus position
            st.sampled_from(["D", "U"]),
        ),
        max_size=12,
        unique_by=lambda t: t[0],
    ),
    inserts=st.lists(st.integers(min_value=0, max_value=10_000), max_size=6),
    absent_delete=st.booleans(),
)
@settings(max_examples=8, deadline=None)
def test_apply_index_delta_equals_set_semantics_on_random_inputs(
    spark, tmp_path_factory, picks, inserts, absent_delete
):
    """For ARBITRARY change batches over the corpus, refreshed over a
    stale base layout: the on-disk index is EXACTLY
    (encode(base) \\ removed ids) ∪ encode(inserted and updated rows) —
    the derived batch in the rebuild-equivalence test is one point in
    this space; the property covers empty batches, deletes of absent
    ids, updates that move a vector between lists, and lists emptied by
    the batch."""
    vecs, centroids, cb, base, by_id = _cached_fit(spark)
    ids = sorted(by_id)
    max_id = ids[-1]
    picked = {ids[p % len(ids)]: op for p, op in picks}
    rows = [
        (i, [-x for x in by_id[i]] if op == "U" else by_id[i], op)
        for i, op in sorted(picked.items())
    ]
    rows += [
        (max_id + 1 + n, list(reversed(by_id[ids[p % len(ids)]])), "I")
        for n, p in enumerate(inserts)
    ]
    if absent_delete:
        rows.append((max_id + 1000, by_id[ids[0]], "D"))
    changes = spark.createDataFrame(rows, _CHANGES_SCHEMA)

    path = str(tmp_path_factory.mktemp("ivfidx") / "idx")
    _write_base(vecs, centroids, cb, path)
    _refresh(vecs, changes, centroids, cb, path)

    removed = {i for i, _, op in rows if op in ("U", "D")}
    delta = spark.createDataFrame(
        [(i, v) for i, v, op in rows if op in ("I", "U")] or [(-1, [1.0])],
        "vec_id long, v array<double>",
    ).filter(F.col("vec_id") >= 0)
    want = {t for t in base if t[0] not in removed} | _encoded(delta, centroids, cb)
    assert _index_set(spark, path) == want, rows
    assert _list_dirs(path) == {f"list_id={l}" for _, l, _ in want}


def test_emptied_list_directory_is_dropped(spark, tmp_path):
    """A list whose every vector the batch deletes has no directory after
    the refresh, although the base layout at the same path had one — or
    serving would read stale rows forever. Every other list survives with
    exactly its rows."""
    vecs, centroids, cb, base, by_id = _cached_fit(spark)
    path = str(tmp_path / "idx")
    _write_base(vecs, centroids, cb, path)
    victim = min({l for _, l, _ in base})
    assert f"list_id={victim}" in _list_dirs(path)
    rm_ids = sorted(v for v, l, _ in base if l == victim)
    changes = spark.createDataFrame(
        [(i, by_id[i], "D") for i in rm_ids], _CHANGES_SCHEMA
    )
    _refresh(vecs, changes, centroids, cb, path)
    assert f"list_id={victim}" not in _list_dirs(path), "emptied list dir must drop"
    assert _index_set(spark, path) == {t for t in base if t[1] != victim}


def test_noop_change_batch_is_noop(spark, tmp_path):
    """Degenerate batch: an empty change batch refreshes the index to
    exactly the base index, same rows and same list directories."""
    vecs, centroids, cb, base, _ = _cached_fit(spark)
    path = str(tmp_path / "idx")
    _write_base(vecs, centroids, cb, path)
    dirs = _list_dirs(path)
    _refresh(vecs, spark.createDataFrame([], _CHANGES_SCHEMA), centroids, cb, path)
    assert _index_set(spark, path) == base and len(base) > 0
    assert _list_dirs(path) == dirs


def test_folded_write_equals_base_minus_rm_plus_delta(spark, tmp_path):
    """The one-pass refresh into a fresh path: on-disk content equals
    encode(base) minus the removed ids plus the inserted encodings, for an
    arbitrary (not batch-derived) batch that empties one list and inserts
    into another; the emptied list has no directory."""
    vecs, centroids, cb, base, by_id = _cached_fit(spark)
    lists = sorted({l for _, l, _ in base})
    assert len(lists) >= 2
    victim, other = lists[0], lists[-1]
    rm_ids = {v for v, l, _ in base if l == victim}
    rm_ids.add(next(v for v, l, _ in base if l == other))
    src, _, some_codes = next(
        t for t in sorted(base) if t[1] == other and t[0] not in rm_ids
    )
    new_id = max(by_id) + 7
    changes = spark.createDataFrame(
        [(i, by_id[i], "D") for i in sorted(rm_ids)] + [(new_id, by_id[src], "I")],
        _CHANGES_SCHEMA,
    )
    path = str(tmp_path / "foldtest")
    _refresh(vecs, changes, centroids, cb, path)
    want = {t for t in base if t[0] not in rm_ids} | {(new_id, other, some_codes)}
    assert _index_set(spark, path) == want
    assert f"list_id={victim}" not in _list_dirs(path)
