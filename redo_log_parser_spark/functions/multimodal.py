"""Multimodal column handling: image/audio/video as opaque binary
columns with typed metadata, processed via Arrow-batched mapInPandas.

The decoder is a deterministic stand-in: metadata and the 16-dim
feature vector derive from a stable hash of the bytes — the schema and
batch behavior a real codec would have, so downstream operators (e.g.
a feature join) run without codec dependencies. It hashes any payload
and cannot fail. A real codec swaps in at `_fake_decode`, with the
same signature and schema.

Batches stream through mapInPandas an Arrow batch at a time, so peak
executor memory is one batch of decoded media, not one partition —
that, plus `spark.sql.files.maxPartitionBytes` on the binary scan, is
the knob pair that keeps 100 TB of media from OOMing executors.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, FloatType, IntegerType, LongType,
    StringType, StructField, StructType,
)

MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),        # image | audio | video
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("feature", ArrayType(FloatType())),  # decoded feature vec
    ]
)

FEATURE_DIM = 16


def _fake_decode(payload: bytes) -> tuple[int, int, int, list[float]]:
    """Deterministic stand-in for a real decoder: dims and a feature
    vector derived from the content hash. Replace with PIL/ffmpeg at
    deployment — signature and schema stay identical."""
    h = hashlib.sha256(payload).digest()
    width = 64 + h[0] % 192
    height = 64 + h[1] % 192
    n_frames = 1 + h[2] % 32
    rng = np.frombuffer(h, dtype=np.uint8).astype(np.float32)
    feat = np.resize(rng, FEATURE_DIM) / 255.0
    return width, height, n_frames, [float(x) for x in feat]


def decode_media(
    df: DataFrame,
    id_col: str = "url",
    bytes_col: str = "html",
    kind: str = "image",
) -> DataFrame:
    """mapInPandas decode: binary column -> typed metadata + feature
    vector (MEDIA_META_SCHEMA), one row per input row, from the
    hash-derived stand-in decoder (see module docstring). A null
    payload decodes as empty bytes."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(b) if b is not None else b"" for b in pdf[bytes_col]]
            metas = [_fake_decode(b) for b in payloads]
            yield pd.DataFrame({
                "media_id": pdf[id_col].astype(str),
                "kind": kind,
                "n_bytes": [len(b) for b in payloads],
                "width": [m[0] for m in metas],
                "height": [m[1] for m in metas],
                "n_frames": [m[2] for m in metas],
                "feature": [m[3] for m in metas],
            })

    return df.select(id_col, bytes_col).mapInPandas(
        decode_batches, schema=MEDIA_META_SCHEMA)
