"""Multimodal-column operators — image/audio/video as opaque binary columns
with typed metadata (training-data-pipeline surface; no analog in the
reference, which is text-only).

Design: media lives in a `content: binary` column plus a metadata struct
(mime, byte_len, checksum). Decode / feature-extract / frame-sample run as
Arrow-batched pandas functions over mapInPandas — the Spark-side plumbing
(schema, batching, partition preservation) is real and tested; the actual
codec call is STUBBED (`_decode_image_real` raises NotImplementedError —
PIL/ffmpeg are not in this container) behind a deterministic fake decoder
so the dataflow is verifiable end-to-end.

Scale posture: map-only stages (no shuffle); binary payloads stay in Arrow
record batches executor-side; frame sampling explodes JVM-side via
posexplode, not in Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..io import load

DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("byte_len", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("mime", StringType()),
    ]
)


def with_binary_content(docs):
    """Typed multimodal frame: utf-8 bytes of text stand in for a media
    payload; metadata struct carries mime + length + checksum."""
    content = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        content.alias("content"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length(content).cast("bigint").alias("byte_len"),
            F.md5(content).alias("checksum"),
        ).alias("media_meta"),
    )


def _decode_image_real(payload: bytes) -> tuple[int, int]:
    """Real decode path — requires an image codec (PIL / libvips), which is
    not available in this environment. The fake tier below keeps the
    pipeline testable; swap this in when the codec ships."""
    raise NotImplementedError("image codec not available in this build")


def _decode_fake(payload: bytes) -> tuple[int, int, int]:
    """Deterministic fake decode: dimensions derived from payload length
    (stable across engines and runs)."""
    n = len(payload)
    width = 16 + (n % 64) * 4
    height = 16 + (n % 48) * 4
    n_frames = 1 + n % 8
    return width, height, n_frames


def decode_features(spark, sf_dir):
    """Decode/feature-extract over mapInPandas: Arrow batches of binary
    payloads → typed feature rows. One Python stage, no shuffle."""
    frames = with_binary_content(load(spark, sf_dir, "documents"))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payloads (NULL source text) decode to NULL features,
            # mirroring the oracle's NULL-propagating octet_length math
            feats = [
                (None, None, None) if b is None else _decode_fake(b)
                for b in pdf["content"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": [
                        None if b is None else len(b) for b in pdf["content"]
                    ],
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "n_frames": [f[2] for f in feats],
                    "mime": [
                        None if m is None else m["mime"]
                        for m in pdf["media_meta"]
                    ],
                }
            )

    return frames.mapInPandas(decode, DECODE_SCHEMA)


def frame_sample(spark, sf_dir):
    """Frame sampling: every 2nd frame index per media row, exploded JVM-side
    (posexplode of a sequence — the Python stage only sized the media)."""
    feats = decode_features(spark, sf_dir)
    return feats.filter(F.col("n_frames") > 1).select(
        "doc_id",
        F.col("n_frames"),
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(2))
        ).alias("frame_no"),
    )


def binary_meta(spark, sf_dir):
    """Metadata audit of the binary column — pure JVM expressions."""
    frames = with_binary_content(load(spark, sf_dir, "documents"))
    return frames.select(
        "doc_id",
        F.col("media_meta.mime").alias("mime"),
        F.col("media_meta.byte_len").alias("byte_len"),
        F.col("media_meta.checksum").alias("checksum"),
    )


def register(reg):
    reg.add(
        "multimodal_binary_meta",
        binary_meta,
        "SELECT doc_id, 'application/octet-stream' AS mime, "
        "octet_length(encode(text)) AS byte_len, md5(text) AS checksum "
        "FROM documents",
    )
    # fake-decode formula replicated in SQL: the oracle certifies the
    # mapInPandas plumbing delivers exactly one typed row per input row
    decode_sql = (
        "SELECT doc_id, octet_length(encode(text)) AS byte_len, "
        "CAST(16 + (octet_length(encode(text)) % 64) * 4 AS INT) AS width, "
        "CAST(16 + (octet_length(encode(text)) % 48) * 4 AS INT) AS height, "
        "CAST(1 + octet_length(encode(text)) % 8 AS INT) AS n_frames, "
        "'application/octet-stream' AS mime FROM documents"
    )
    reg.add("multimodal_decode_features", decode_features, decode_sql)
    reg.add(
        "multimodal_frame_sample",
        frame_sample,
        f"WITH feats AS ({decode_sql}) "
        "SELECT doc_id, n_frames, CAST(f AS INT) AS frame_no "
        "FROM feats, UNNEST(range(0, CAST(n_frames AS BIGINT), 2)) AS t(f) "
        "WHERE n_frames > 1",
    )
