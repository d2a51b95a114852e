"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

The Spark-side contracts — schema, Arrow batch shape, partitioning,
UDF signatures — are real and tested; the actual codec work is stubbed
behind a deterministic fake (no image/audio libraries are assumed).
Swap `_decode_stub` / `_decode_image_fake` for PIL/torchaudio/ffmpeg
calls in production: each operator is a per-row function run through
:func:`rdf_spark.submit.map_rows`, and that plumbing is unchanged.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..submit import map_rows

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),   # image | audio | video
        StructField("content", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),       # nullable typed metadata
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("byte_len", LongType()),
        StructField("content_sha", StringType()),
        StructField("feature", StringType()),  # stubbed feature payload
    ]
)


def _decode_stub(media_type: str, content: bytes) -> str:
    """Deterministic fake decode/feature-extract. Production: replace
    with real decoders; raise NotImplementedError for codecs you don't
    ship rather than silently passing bytes through."""
    digest = hashlib.sha256(content).hexdigest()[:16]
    return f"{media_type}-feat-{digest}"


def extract_features(media: DataFrame) -> DataFrame:
    """media -> typed per-item features through :func:`map_rows`.
    Binary stays binary end-to-end (Arrow passes bytes zero-copy);
    partition-preserving, no shuffle."""

    def row(mid, mtype, content):
        b = bytes(content) if content is not None else b""
        return [(mid, mtype, len(b), hashlib.sha256(b).hexdigest(),
                 _decode_stub(mtype, b))]

    src = media.select("media_id", "media_type", "content")
    return map_rows(src, row, FEATURES_SCHEMA)


DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("pixels", BinaryType()),   # row-major uint8, stubbed
    ]
)


def _decode_image_fake(content: bytes, meta_w, meta_h):
    """Deterministic fake: dimensions from metadata (fallback 8x8 where
    it is null or NaN), pixel bytes derived from the content hash —
    stable across runs and engines, so downstream ops (resize, feature
    hash) are testable."""
    w = 8 if pd.isna(meta_w) else int(meta_w)
    h = 8 if pd.isna(meta_h) else int(meta_h)
    seed = hashlib.sha256(content).digest()
    n = w * h * 3
    px = (seed * (n // len(seed) + 1))[:n]
    return w, h, 3, px


def decode_images(media: DataFrame) -> DataFrame:
    """image rows -> decoded pixel buffers through :func:`map_rows`
    (Arrow moves the binary columns without copies; partition-
    preserving)."""

    def row(mid, content, w, h):
        b = bytes(content) if content is not None else b""
        return [(mid, *_decode_image_fake(b, w, h))]

    src = media.where(F.col("media_type") == "image").select(
        "media_id", "content", "width", "height"
    )
    return map_rows(src, row, DECODED_SCHEMA)


def resize_images(decoded: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize over decoded pixel buffers — numpy fancy
    indexing per image through :func:`map_rows` (the codec is the stub;
    the index-mapping math is the real, vectorized path). Output schema
    fixed at (out_w, out_h)."""
    import numpy as np

    def row(mid, w, h, c, px):
        w, h, c = int(w), int(h), int(c)
        arr = np.frombuffer(bytes(px), dtype=np.uint8).reshape(h, w, c)
        ys = np.minimum(np.arange(out_h) * h // out_h, h - 1)
        xs = np.minimum(np.arange(out_w) * w // out_w, w - 1)
        out = np.ascontiguousarray(arr[ys][:, xs])
        return [(mid, out_w, out_h, c, out.tobytes())]

    src = decoded.select(*DECODED_SCHEMA.fieldNames())
    return map_rows(src, row, DECODED_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan: one row per planned frame timestamp.
    Pure SQL fan-out (sequence + explode) — the decode of each frame is
    the stubbed step, the distribution of work is real."""
    return (
        media.where(F.col("media_type") == "video")
        .withColumn(
            "frame_ts_ms",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.coalesce(F.col("duration_ms"), F.lit(0)) - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ),
        )
        .select("media_id", "frame_ts_ms")
    )
