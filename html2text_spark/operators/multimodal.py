"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride the corpus as (payload: binary, meta: struct)
columns.  The Spark-side plumbing -- schema, Arrow batch shape, partition
behavior, UDF signatures -- is real and tested; the actual codec step is
faked (no image/audio libraries are a dependency): ``decode_media_fake``
reads each payload's bytes as a 1xN grayscale image and
``extract_media_features`` computes a deterministic fake feature vector
from the raw bytes, so the pipeline shape can be exercised end-to-end.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META_TYPE = StructType(
    [
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("payload", BinaryType()),
        StructField("meta", MEDIA_META_TYPE),
    ]
)

FEATURE_DIM = 8

FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("n_bytes", LongType()),
        StructField("sha256_prefix", StringType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def attach_fake_media(df: DataFrame) -> DataFrame:
    """Derive a deterministic binary payload + metadata from a text corpus
    (test stand-in for a real media table; prod reads real bytes)."""
    payload = F.encode(F.col("text"), "utf-8")
    return df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("fake://"), F.col("doc_id").cast("string")).alias("media_ref"),
        payload.alias("payload"),
        F.struct(
            F.lit("image/fake").alias("mime"),
            (F.length(F.col("text")) % 1920).cast("int").alias("width"),
            (F.length(F.col("text")) % 1080).cast("int").alias("height"),
            F.lit(0).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def _fake_features(payload: bytes) -> list:
    """Deterministic stand-in for a real feature extractor: 8 doubles from
    the sha256 of the payload, scaled to [0, 1)."""
    digest = hashlib.sha256(payload or b"").digest()
    return [
        int.from_bytes(digest[i * 4 : i * 4 + 4], "big") / 2**32
        for i in range(FEATURE_DIM)
    ]


def extract_media_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    mapInPandas so one Python worker call handles a whole Arrow batch of
    payloads; a real decoder slots into the same loop.
    A batch closes at arrow.maxRecordsPerBatch rows or, under
    pipeline.recommended_session_conf, at arrow.maxBytesPerBatch
    (256 KiB), whichever comes first: a payload that large makes a batch
    of its own, so video-sized payloads do not pile up in one worker.
    """

    def feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "n_bytes": payloads.map(lambda b: len(b or b"")).astype("int64"),
                    "sha256_prefix": payloads.map(
                        lambda b: hashlib.sha256(b or b"").hexdigest()[:16]
                    ),
                    "features": payloads.map(_fake_features),
                }
            )

    return media.select("doc_id", "media_ref", "payload").mapInPandas(
        feature_batches, FEATURES_SCHEMA
    )


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: expand each media row into frame
    timestamps (the decode of each frame is the stubbed codec step).
    Built-in sequence/explode -- the expansion happens JVM-side."""
    return media.select(
        "doc_id",
        "media_ref",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("frame_ts_ms"),
    )


DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("n_pixels", LongType()),
        StructField("mean_luma", DoubleType()),
        StructField("min_luma", IntegerType()),
        StructField("max_luma", IntegerType()),
        StructField("h0", LongType()),
        StructField("h1", LongType()),
        StructField("h2", LongType()),
        StructField("h3", LongType()),
    ]
)


def decode_media_fake(media: DataFrame) -> DataFrame:
    """The decode slot exercised end-to-end with a DETERMINISTIC fake
    codec (the sanctioned stand-in while the container has no image
    libraries): the payload's bytes ARE the 1xN grayscale image.

    The per-image compute is genuinely decode-shaped -- numpy
    ``frombuffer`` + vectorized stats + a 4-bucket histogram per payload
    inside Arrow batches (the same mapInPandas loop a PIL/libvips decode
    slots into) -- while staying a pure function
    of the bytes, so every statistic has a closed form an external SQL
    engine can recompute: the DuckDB oracle re-derives luma from
    per-character code points (bytes == code points for this ASCII
    corpus) and matches value-for-value, mean included (one division).
    """
    import numpy as np

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": pdf["doc_id"],
                "media_ref": pdf["media_ref"],
            }
            stats = []
            for b in pdf["payload"]:
                px = np.frombuffer(b or b"", dtype=np.uint8)
                if len(px) == 0:
                    stats.append((0, None, None, None, 0, 0, 0, 0))
                    continue
                hist = np.bincount(px >> 6, minlength=4)
                stats.append(
                    (
                        len(px),
                        float(px.sum()) / len(px),
                        int(px.min()),
                        int(px.max()),
                        int(hist[0]),
                        int(hist[1]),
                        int(hist[2]),
                        int(hist[3]),
                    )
                )
            cols = list(zip(*stats)) if stats else [[]] * 8
            for i, name in enumerate(
                ("n_pixels", "mean_luma", "min_luma", "max_luma",
                 "h0", "h1", "h2", "h3")
            ):
                out[name] = cols[i]
            yield pd.DataFrame(out)

    return media.select("doc_id", "media_ref", "payload").mapInPandas(
        decode_batches, DECODE_SCHEMA
    )
