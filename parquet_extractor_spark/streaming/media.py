"""Structured Streaming over binary media columns: the streaming twin
of ``operators.multimodal.extract_features``.

This is the continuously-ingesting shape of a multimodal curation
pipeline: media files land as parquet in a directory, the stream picks
up new files, decodes them executor-side (real PNG/JPEG/WAV codecs via
the same ``feature_for_bytes`` the batch path uses — one decode
definition, two execution modes), and appends scalar features to a
feature table. The fat binaries never sit in state: feature extraction
is stateless row-at-a-time work, so the stream's memory profile is one
Arrow batch per task regardless of history.

Every runner drains through ``streaming.drain.drain_epochs`` (epoch
sink and replay semantics are documented there).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from parquet_extractor_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    extract_features,
)
from parquet_extractor_spark.streaming.drain import (
    drain_epochs,
    overwrite_parquet,
)


def read_media_stream(spark: SparkSession, media_dir: str) -> DataFrame:
    """File-source stream over a directory of media parquet files.
    Schema is the fixed MEDIA_SCHEMA (file streams require one); no
    data need exist at definition time."""
    return spark.readStream.schema(MEDIA_SCHEMA).parquet(media_dir)


def run_media_features_stream(
    spark: SparkSession,
    media_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    timeout_s: int = 120,
) -> DataFrame:
    """Drain the media source once through feature extraction into a
    kind-partitioned feature table; returns the written table re-read
    as a batch frame (epoch appears as a partition column — drop it if
    unwanted)."""
    feats = extract_features(read_media_stream(spark, media_dir))

    def _write(batch: DataFrame, path: str) -> None:
        (
            batch.repartition("kind")
            .write.mode("overwrite")
            .partitionBy("kind")
            .parquet(path)
        )

    return drain_epochs(
        feats, os.path.join(checkpoint_dir, "media_feats"), out_dir, _write,
        timeout_s,
    )


def read_video_stream(spark: SparkSession, media_dir: str) -> DataFrame:
    """File-source stream over a landing dir of (media_id, data)
    parquet — the skinny two-column layout the video fixture uses."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("data", BinaryType(), True),
        ]
    )
    return spark.readStream.schema(schema).parquet(media_dir)


def run_video_metadata_stream(
    spark: SparkSession,
    media_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    timeout_s: int = 120,
) -> DataFrame:
    """Streaming twin of operators.multimodal.video_stream_metadata:
    container-metadata extraction (MP4 box walk / WebM EBML walk —
    the same pure parsers the batch path and the literal oracle use)
    is a stateless per-row projection, so it composes onto the file
    stream unchanged: no watermark, no state store, one Arrow batch
    of memory per task."""
    from parquet_extractor_spark.operators.multimodal import (
        video_stream_metadata,
    )

    meta = video_stream_metadata(read_video_stream(spark, media_dir))

    return drain_epochs(
        meta, os.path.join(checkpoint_dir, "video_meta"), out_dir,
        overwrite_parquet, timeout_s,
    )


def run_image_metadata_stream(
    spark: SparkSession,
    media_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    timeout_s: int = 120,
) -> DataFrame:
    """Streaming twin of operators.multimodal.image_header_metadata:
    the header-only image pass (PNG IHDR / JPEG SOF walk / GIF
    descriptor scan / BMP DIB / WebP VP8-VP8L-VP8X — the same pure
    parsers the batch path and the literal oracle use) is a stateless
    per-row projection, so it composes onto the file stream
    unchanged: no watermark, no state store, header-bounded CPU per
    row regardless of payload size."""
    from parquet_extractor_spark.operators.multimodal import (
        image_header_metadata,
    )

    meta = image_header_metadata(read_video_stream(spark, media_dir))

    return drain_epochs(
        meta, os.path.join(checkpoint_dir, "image_meta"), out_dir,
        overwrite_parquet, timeout_s,
    )


def run_gif_frames_stream(
    spark: SparkSession,
    media_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    every_ms: int = 60,
    timeout_s: int = 120,
) -> DataFrame:
    """Streaming twin of operators.multimodal.sample_gif_frames: the
    r06 REAL animated-GIF frame sampler (full-animation decode,
    compositing, time-grid sampling, PNG re-encode) is stateless
    per-row fan-out — each input row independently yields its sampled
    frames — so it composes onto the file stream unchanged: no
    watermark, no state store, one animation's frames of memory per
    row. This is the continuously-ingesting shape of a video-frame
    curation feed, running on the one format the in-repo codecs
    decode end-to-end."""
    from parquet_extractor_spark.operators.multimodal import (
        sample_gif_frames,
    )

    frames = sample_gif_frames(
        read_media_stream(spark, media_dir), every_ms=every_ms
    )

    return drain_epochs(
        frames, os.path.join(checkpoint_dir, "gif_frames"), out_dir,
        overwrite_parquet, timeout_s,
    )


# ── streaming pHash (continuous image-dedup ingestion) ───────────────

_NEARDUP_SCHEMA = None


def read_neardup_stream(spark: SparkSession, media_dir: str) -> DataFrame:
    """File-source stream over a landing dir of (media_id, variant,
    data) image parquet — the continuously-arriving-images shape."""
    global _NEARDUP_SCHEMA
    if _NEARDUP_SCHEMA is None:
        from pyspark.sql.types import (
            BinaryType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        _NEARDUP_SCHEMA = StructType(
            [
                StructField("media_id", LongType(), False),
                StructField("variant", StringType(), False),
                StructField("data", BinaryType(), False),
            ]
        )
    return spark.readStream.schema(_NEARDUP_SCHEMA).parquet(media_dir)


def run_phash_stream(
    spark: SparkSession,
    media_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    timeout_s: int = 120,
) -> DataFrame:
    """Streaming twin of ``operators.multimodal.image_phashes``: drain
    the image landing dir once through the SAME decode
    → DCT → threshold mapInPandas stage and append (media_id, variant,
    phash, bands) rows. Hashing is stateless per row, so state is one
    Arrow batch per task; the banded near-dup join then runs as a
    batch (or stream-static join) over the hash table this stream
    maintains — hashes are tiny, images are fat, which is exactly why
    the hash table is the thing to keep hot."""
    from parquet_extractor_spark.operators.multimodal import image_phashes

    hashes = image_phashes(read_neardup_stream(spark, media_dir))

    return drain_epochs(
        hashes, os.path.join(checkpoint_dir, "phash"), out_dir,
        overwrite_parquet, timeout_s,
    )


def run_audio_fingerprint_stream(
    spark: SparkSession,
    media_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    timeout_s: int = 120,
) -> DataFrame:
    """Streaming twin of ``operators.multimodal.audio_fingerprints``
    — same landing-dir shape as run_phash_stream (the neardup
    (media_id, variant, data) schema), same epoch sink; the contour
    hashing is stateless per row."""
    from parquet_extractor_spark.operators.multimodal import (
        audio_fingerprints,
    )

    hashes = audio_fingerprints(read_neardup_stream(spark, media_dir))

    return drain_epochs(
        hashes, os.path.join(checkpoint_dir, "afp"), out_dir,
        overwrite_parquet, timeout_s,
    )
