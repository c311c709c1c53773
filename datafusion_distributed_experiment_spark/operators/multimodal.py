"""Multimodal (image/audio/video) column handling.

Design for 100 TB media pipelines:

- Media payloads are opaque ``binary`` columns with a typed metadata struct —
  the parquet row stays self-describing and column-prunable (a metadata-only
  query never touches the bytes).
- Feature extraction / resize / frame sampling run as Arrow-batched
  ``mapInPandas`` stages: executors stream ~``arrow.maxRecordsPerBatch`` rows
  per pandas batch, so peak memory is bounded regardless of table size, and
  the stage is map-only (no shuffle).
- The payloads are synthetic (derived from ``documents``), so the feature
  step is a clearly-marked deterministic fake (``fake_embed``, md5-derived)
  with the same batch shape and dtype a codec+model would produce.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("modality", StringType(), False),  # image | audio | video
        StructField("content", BinaryType(), True),
        StructField(
            "meta",
            StructType(
                [
                    StructField("width", IntegerType(), True),
                    StructField("height", IntegerType(), True),
                    StructField("sample_rate", IntegerType(), True),
                    StructField("duration_ms", IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("modality", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("feature", ArrayType(FloatType()), True),
    ]
)

FEATURE_DIM = 8
# Frame-sampling interval shared by sample_frames' default, media_frames'
# call site, and the DuckDB oracle — one constant so they cannot drift.
FRAME_EVERY_MS = 1000


def fake_embed(content: bytes | None) -> list[float]:
    """DETERMINISTIC FAKE decode+embed: md5(content) -> FEATURE_DIM floats in
    [0, 1). Stands in for codec+model inference; same batch shape and dtype
    as the real thing."""
    if content is None:
        return [0.0] * FEATURE_DIM
    digest = hashlib.md5(bytes(content)).digest()
    return [b / 256.0 for b in digest[:FEATURE_DIM]]


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: streams Arrow batches through Python,
    emits (media_id, modality, n_bytes, feature[FEATURE_DIM])."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["content"].map(
                        lambda c: len(c) if c is not None else 0
                    ).astype("int64"),
                    "feature": pdf["content"].map(fake_embed),
                }
            )

    return media.mapInPandas(run, schema=FEATURES_SCHEMA)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize stub: plumbing (signature, schema, meta rewrite) is real; the
    pixel transform substitutes a deterministic content digest re-hash."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            out["content"] = out["content"].map(
                lambda c: hashlib.md5(bytes(c) + f"{width}x{height}".encode()).digest()
                if c is not None
                else None
            )
            out["meta"] = out["meta"].map(
                lambda m: {
                    "width": width,
                    "height": height,
                    "sample_rate": (m or {}).get("sample_rate"),
                    "duration_ms": (m or {}).get("duration_ms"),
                }
            )
            yield out

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)


def synthetic_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table derived from ``documents`` (the container
    ships no real media fixtures): payload = utf-8 bytes of the text, typed
    metadata from arithmetic on doc_id/length. The same formulas are spelled
    in the DuckDB oracles, so every downstream op stays hash-comparable."""
    from ..sources.tables import rebalance_narrow_scan

    path = f"{sf_dir}/documents.parquet"
    # NULL text coalesces to '' (round-13, the corpus-wide contract): a
    # NULL payload made Spark emit a zero-feature row while the oracle's
    # md5(NULL) collapsed to NULL and dropped/blanked the row — a NULL
    # media document behaves as an EMPTY payload on both engines
    docs = rebalance_narrow_scan(
        spark.read.parquet(path).select(
            "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
        ),
        path,
    )
    # CASE, not element_at(array, doc_id % 3 + 1): Spark's % keeps the
    # dividend sign, so a negative doc_id indexes 0 or -1 — index 0 THROWS
    # on Spark (INVALID_INDEX_OF_ZERO) while the DuckDB oracle's CASE
    # falls to ELSE 'video' and succeeds. The CASE spelling matches the
    # oracle branch-for-branch at every doc_id sign
    mod = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
    )
    nchars = F.length("text")
    width = F.when(mod != "audio", nchars % 640 + 32).cast("integer")
    height = F.when(mod != "audio", nchars % 480 + 32).cast("integer")
    sample_rate = F.when(mod == "audio", (F.col("doc_id") % 4) * 8000 + 8000).cast("integer")
    duration_ms = F.when(mod != "image", (F.col("doc_id") % 7) * 900).cast("integer")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        mod.alias("modality"),
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            width.alias("width"),
            height.alias("height"),
            sample_rate.alias("sample_rate"),
            duration_ms.alias("duration_ms"),
        ).alias("meta"),
    )


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction end-to-end: synthetic media ->
    ``extract_features`` (mapInPandas) -> per-dimension ppm integers. The
    oracle recomputes the md5-derived fake embedding in pure SQL, verifying
    the Python batch path bit-for-bit."""
    feats = extract_features(synthetic_media(spark, sf_dir))
    dims = [
        F.floor(F.lit(1e6) * F.element_at("feature", j + 1).cast("double"))
        .cast("long")
        .alias(f"f{j}_ppm")
        for j in range(FEATURE_DIM)
    ]
    return feats.select("media_id", "modality", F.col("n_bytes"), *dims).orderBy("media_id")


def media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling fan-out through mapInPandas (rows out != rows
    in), then a count per media — verifies the sampler's cardinality
    contract against closed-form SQL."""
    media = synthetic_media(spark, sf_dir).filter(F.col("modality") == "video")
    frames = sample_frames(media, every_ms=FRAME_EVERY_MS)
    return (
        frames.groupBy("media_id")
        .agg(F.count("*").cast("long").alias("n_frames"))
        .orderBy("media_id")
    )


def media_meta_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only rollup: touches ``meta``/``modality`` but never the
    payload bytes — the column-pruning shape that makes 100 TB media tables
    cheap to inventory."""
    media = synthetic_media(spark, sf_dir)
    return (
        media.groupBy("modality")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.max(F.col("meta.width")).cast("long").alias("max_width"),
            F.coalesce(F.sum(F.col("meta.duration_ms")), F.lit(0)).cast("long").alias("total_duration_ms"),
        )
        .orderBy("modality")
    )


RESIZE_W = 224
RESIZE_H = 224


def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resize path end-to-end through mapInPandas: content digest and
    rewritten dimensions per media item. The deterministic stand-in transform
    (md5(content || 'WxH')) lets the oracle recompute the Python batch
    output bit-for-bit in SQL — the same strategy media_features uses for
    the embedding stub."""
    resized = resize_images(synthetic_media(spark, sf_dir), RESIZE_W, RESIZE_H)
    return resized.select(
        "media_id",
        F.lower(F.hex("content")).alias("content_hex"),
        F.col("meta.width").cast("long").alias("width"),
        F.col("meta.height").cast("long").alias("height"),
    ).orderBy("media_id")


def media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media dedup by payload digest within each modality — the
    "same file uploaded twice" primitive, the media analog of
    ``dedup_exact``. One hash-partitioned shuffle on (modality, digest);
    only the digest (16 bytes) shuffles, never the payload. At 100 TB the
    digest is computed at ingest and stored as a column, making this a
    payload-free groupBy; here it is derived inline from ``content``."""
    media = synthetic_media(spark, sf_dir)
    return (
        media.groupBy("modality", F.md5("content").alias("content_hash"))
        .agg(
            F.min("media_id").cast("long").alias("keep_media_id"),
            F.count("*").cast("long").alias("n_copies"),
        )
        .orderBy("modality", "content_hash")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "media_features": media_features,
        "media_frames": media_frames,
        "media_meta_stats": media_meta_stats,
        "media_resize": media_resize,
        "media_dedup": media_dedup,
    }


# hex-digit -> int, portable DuckDB spelling (no blob byte extraction needed)
_HV = "(strpos('0123456789abcdef', substr(md5(text), {p}, 1)) - 1)"


def _md5_byte(j: int) -> str:
    """SQL for byte j (0-based) of md5(text) as an integer."""
    return f"(16 * {_HV.format(p=2 * j + 1)} + {_HV.format(p=2 * j + 2)})"


# the inner COALESCE mirrors synthetic_media's NULL-text-as-empty contract
_DUCK_MEDIA = """media AS (
    SELECT doc_id AS media_id,
           CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
           text,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CASE WHEN doc_id % 3 <> 1 THEN length(text) % 640 + 32 END AS width,
           CASE WHEN doc_id % 3 <> 0 THEN (doc_id % 7) * 900 END AS duration_ms
    FROM (SELECT doc_id, COALESCE(text, '') AS text FROM documents)
)"""


def oracles() -> dict[str, str]:
    f_cols = ",\n                   ".join(
        f"CAST(FLOOR(1e6 * {_md5_byte(j)} / 256.0) AS BIGINT) AS f{j}_ppm"
        for j in range(FEATURE_DIM)
    )
    return {
        "media_features": f"""
            WITH {_DUCK_MEDIA}
            SELECT media_id, modality, n_bytes,
                   {f_cols}
            FROM media ORDER BY media_id
        """,
        "media_frames": f"""
            WITH {_DUCK_MEDIA}
            SELECT media_id, CAST(FLOOR(duration_ms / {FRAME_EVERY_MS}.0) AS BIGINT) AS n_frames
            FROM media
            WHERE modality = 'video' AND duration_ms >= {FRAME_EVERY_MS}
            ORDER BY media_id
        """,
        "media_meta_stats": f"""
            WITH {_DUCK_MEDIA}
            SELECT modality,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   CAST(MAX(width) AS BIGINT) AS max_width,
                   CAST(COALESCE(SUM(duration_ms), 0) AS BIGINT) AS total_duration_ms
            FROM media GROUP BY modality ORDER BY modality
        """,
        # resize stand-in: new content = md5(content || 'WxH'); DuckDB's md5
        # of the same concatenated string yields the identical lowercase hex
        "media_resize": f"""
            WITH {_DUCK_MEDIA}
            SELECT media_id,
                   md5(text || '{RESIZE_W}x{RESIZE_H}') AS content_hex,
                   CAST({RESIZE_W} AS BIGINT) AS width,
                   CAST({RESIZE_H} AS BIGINT) AS height
            FROM media ORDER BY media_id
        """,
        # content = utf-8 bytes of text, so DuckDB's md5(varchar) over the
        # same string hashes identical bytes -> identical lowercase hex
        "media_dedup": f"""
            WITH {_DUCK_MEDIA}
            SELECT modality, md5(text) AS content_hash,
                   CAST(MIN(media_id) AS BIGINT) AS keep_media_id,
                   CAST(COUNT(*) AS BIGINT) AS n_copies
            FROM media GROUP BY modality, md5(text)
            ORDER BY modality, content_hash
        """,
    }


def sample_frames(media: DataFrame, every_ms: int = FRAME_EVERY_MS) -> DataFrame:
    """Video frame sampling stub: one synthetic 'frame' row per every_ms of
    duration (fan-out inside mapInPandas — rows out != rows in, the shape a
    real frame sampler has).

    Vectorized over the pandas batch: the fan-out is ``index.repeat`` on a
    column-computed frame count (no ``iterrows``); only the md5 content
    digest — the codec stand-in — touches Python objects, via one
    comprehension over the already-repeated arrays."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # Arrow->pandas turns nullable ints into float NaN; normalize.
            dur = pd.to_numeric(
                pdf["meta"].map(lambda m: (m or {}).get("duration_ms")), errors="coerce"
            )
            n_frames = (dur.fillna(0).astype("int64") // every_ms).clip(lower=0)
            out = pdf.loc[pdf.index.repeat(n_frames)]
            if len(out) == 0:
                yield pd.DataFrame(columns=["media_id", "modality", "content", "meta"])
                continue
            frame_idx = out.groupby(level=0).cumcount()
            content = [
                hashlib.md5(bytes(c or b"") + int(i).to_bytes(4, "big")).digest()
                for c, i in zip(out["content"], frame_idx)
            ]
            yield pd.DataFrame(
                {
                    "media_id": out["media_id"].to_numpy(),
                    "modality": "image",
                    "content": content,
                    "meta": out["meta"].to_numpy(),
                }
            )

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)
