"""Multimodal plumbing: real schema/batch-shape/partitioning, fake embedding."""

from __future__ import annotations

import pytest

from datafusion_distributed_experiment_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (i, "image" if i % 3 else "video", bytes([i % 256] * (10 + i)), (64, 48, None, 3000 if i % 3 == 0 else None))
        for i in range(40)
    ]
    return spark.createDataFrame(rows, schema=mm.MEDIA_SCHEMA).repartition(4)


def test_extract_features_schema_and_determinism(media):
    out = mm.extract_features(media)
    assert out.schema == mm.FEATURES_SCHEMA
    a = {r.media_id: r.feature for r in out.collect()}
    b = {r.media_id: r.feature for r in out.collect()}
    assert a == b  # deterministic across runs
    assert len(a) == 40
    assert all(len(f) == mm.FEATURE_DIM for f in a.values())


def test_extract_features_preserves_partitioning(media):
    assert mm.extract_features(media).rdd.getNumPartitions() == 4  # map-only


def test_resize_rewrites_meta(media):
    out = mm.resize_images(media, 224, 224).collect()
    assert all(r.meta.width == 224 and r.meta.height == 224 for r in out)
    assert len(out) == 40


def test_sample_frames_fans_out(media):
    frames = mm.sample_frames(media, every_ms=1000)
    n_videos = media.filter("modality = 'video'").count()
    assert frames.count() == n_videos * 3  # 3000ms / 1000ms
    assert frames.schema == mm.MEDIA_SCHEMA


def test_synthetic_media_modality_matches_oracle_case_on_negative_ids(spark, tmp_path):
    """Round-12 review fix: the modality lookup was
    element_at(array(...), doc_id % 3 + 1), which THROWS on Spark for
    doc_id % 3 == -1 (array index 0) while the DuckDB oracle's
    CASE ... ELSE 'video' returns a row — a sign-of-modulo
    succeed-vs-crash divergence. The CASE spelling must return the
    oracle's branch for every doc_id sign, never raise."""
    d = tmp_path / "docs_neg"
    d.mkdir()
    rows = [(i, "s", f"text {i}") for i in (-4, -3, -2, -1, 0, 1, 2, 3)]
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    got = {
        r["media_id"]: r["modality"]
        for r in mm.synthetic_media(spark, str(d)).collect()
    }

    def oracle_case(doc_id: int) -> str:
        # both engines' % keeps the dividend sign (C-style remainder);
        # Python's % floors, so spell the truncation explicitly
        r = doc_id - int(doc_id / 3) * 3
        return {0: "image", 1: "audio"}.get(r, "video")

    for doc_id, modality in got.items():
        assert modality == oracle_case(doc_id), (doc_id, modality)
