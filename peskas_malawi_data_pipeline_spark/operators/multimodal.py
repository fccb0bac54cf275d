"""Multimodal (image/audio/video) columns as opaque binary + typed metadata.

The pattern for 100 TB multimodal training data: payloads are ``binary``
columns (or object-store pointers once they exceed a few MB) carried next to
a typed metadata struct; decode / feature-extract / resize / frame-sample run
as Arrow-batched ``mapInPandas`` stages so the heavy per-item work is
vectorized Python over columnar batches, never row-at-a-time.

The actual codecs (PIL/ffmpeg/torchaudio) are NOT in this container, so the
decode kernels are a pluggable seam (``decoder=`` / ``resizer=`` callables
shipped to executors): inject the real codec where it exists and the
Spark-side plumbing is unchanged. Without one, ``decode=fake`` produces a
deterministic fake feature vector from the payload bytes (pipeline plumbing
— schema, batch shape, partitioning — is real and tested); ``decode=real``
raises NotImplementedError at the point where the codec would run.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, LongType, StringType, StructField,
    StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("modality", StringType(), False),     # image | audio | video
    StructField("mime_type", StringType(), True),
    StructField("payload", BinaryType(), True),        # inline bytes …
    StructField("uri", StringType(), True),            # … or object-store pointer
    StructField("meta", StructType([                   # typed, modality-specific
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("duration_s", DoubleType(), True),
        StructField("sample_rate", LongType(), True),
    ]), True),
])

FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("modality", StringType(), False),
    StructField("n_bytes", LongType(), True),
    StructField("feature", ArrayType(DoubleType()), True),
])

_FEATURE_DIM = 8


def _fake_feature(payload: bytes | None) -> list[float] | None:
    """Deterministic stand-in for a decoded feature vector: bytes of
    sha256(payload) scaled to [0,1). Stable across runs/engines."""
    if payload is None:
        return None
    digest = hashlib.sha256(payload).digest()
    return [b / 256.0 for b in digest[:_FEATURE_DIM]]


def extract_features(df: DataFrame, decode: str = "fake",
                     decoder=None,
                     batch_size_hint: int | None = None) -> DataFrame:
    """Decode/feature-extract stage over a MEDIA_SCHEMA DataFrame via
    ``mapInPandas`` (Arrow batches).

    The codec is a pluggable seam: ``decoder`` is a picklable callable
    ``(payload: bytes|None, modality: str) -> list[float]|None`` shipped to
    the executors and applied per item inside the Arrow batch loop — where
    PIL/torchaudio/pyav exist, pass a real decode there and the Spark-side
    plumbing is unchanged. Without one, ``decode='fake'`` uses the
    deterministic digest stand-in (oracle-checkable) and ``decode='real'``
    raises at the point the codec would run.
    """
    if decode not in {"fake", "real"}:
        raise ValueError("decode must be 'fake' or 'real'")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decoder is not None:
                feats = [decoder(p, m) for p, m in
                         zip(pdf["payload"], pdf["modality"])]
            elif decode == "real":
                raise NotImplementedError(
                    "media codecs (PIL/ffmpeg/torchaudio) unavailable in this "
                    "environment; inject decoder= or use decode='fake'")
            else:
                feats = pdf["payload"].map(_fake_feature)
            out = pd.DataFrame({
                "media_id": pdf["media_id"],
                "modality": pdf["modality"],
                "n_bytes": pdf["payload"].map(lambda p: len(p) if p is not None else None),
                "feature": feats,
            })
            yield out

    return df.mapInPandas(run, FEATURE_SCHEMA)


PHASH_BITS = 60

PHASH_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("modality", StringType(), False),
    StructField("phash", LongType(), True),
])


def _fake_phash(payload: bytes | None) -> int | None:
    """Deterministic stand-in for the perceptual-hash kernel: the first
    15 hex chars (60 bits — kept under 2^63 so the value is SQL-exact in
    any BIGINT engine) of sha256(payload). Stable across runs/engines; NULL payload → NULL."""
    if payload is None:
        return None
    return int(hashlib.sha256(bytes(payload)).hexdigest()[:15], 16)


def perceptual_hash(df: DataFrame, decode: str = "fake",
                    hasher=None) -> DataFrame:
    """Per-image 60-bit perceptual hash over a MEDIA_SCHEMA frame via
    ``mapInPandas`` — the sketch that ties multimodal columns into the
    dedup stack: feed the output to ``dedup.sketch_hamming_pairs`` for
    banded Hamming near-dup pairs (queries ``image_near_dup``).

    The pixel kernel is the usual pluggable seam: ``hasher`` is a
    picklable callable ``(payload: bytes|None) -> int|None`` — where PIL
    exists, pass a real dHash (decode → grayscale → 9×8 downsample →
    adjacent-pixel gradient bits; near-identical images then land within
    a few bits and the banded join finds them). Without one,
    ``decode='fake'`` uses the deterministic sha256 stand-in (exact
    duplicates still collide at Hamming 0, so the pipeline is
    oracle-checkable end-to-end) and ``decode='real'`` raises where the
    codec would run. Returns (media_id, modality, phash).
    """
    if decode not in {"fake", "real"}:
        raise ValueError("decode must be 'fake' or 'real'")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if hasher is not None:
                ph = [hasher(p) for p in pdf["payload"]]
            elif decode == "real":
                raise NotImplementedError(
                    "image codecs (PIL) unavailable in this environment; "
                    "inject hasher= or use decode='fake'")
            else:
                ph = pdf["payload"].map(_fake_phash)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "modality": pdf["modality"],
                "phash": ph,
            })

    return df.mapInPandas(run, PHASH_SCHEMA)


def frame_sample_plan(df: DataFrame, every_s: float = 1.0) -> DataFrame:
    """Frame-sampling *plan* for video rows: expands each video into the
    timestamps that would be decoded (one row per sampled frame) using only
    metadata — the decode itself happens in extract_features. Pure Spark:
    sequence + explode, no Python.
    """
    n_frames = F.greatest(
        F.floor(F.col("meta.duration_s") / F.lit(every_s)).cast("long"), F.lit(1))
    frames = F.sequence(F.lit(0), n_frames - 1)
    return (df.filter(F.col("modality") == "video")
            .select("media_id", "uri",
                    F.posexplode(frames).alias("frame_index", "__i"))
            .withColumn("sample_ts_s", F.col("frame_index") * every_s)
            .drop("__i"))


def _fake_resize(payload: bytes, new_w: int, new_h: int) -> bytes:
    """Deterministic stand-in for the pixel kernel: the 32-byte
    ``sha256(payload + b"|WxH")`` digest (stable, oracle-checkable)."""
    return hashlib.sha256(
        bytes(payload) + f"|{new_w}x{new_h}".encode()).digest()


def resize_images(df: DataFrame, max_side: int = 512,
                  decode: str = "fake", resizer=None) -> DataFrame:
    """Resize stage over MEDIA_SCHEMA image rows via ``mapInPandas``.

    The metadata arithmetic is real: aspect-preserving integer downscale so
    the longer side equals ``max_side`` (``new_w = w*max_side // max(w,h)``);
    images already within bounds pass through untouched (no upscale).

    The pixel kernel is a pluggable seam: ``resizer`` is a picklable
    callable ``(payload: bytes, new_w: int, new_h: int) -> bytes`` applied
    per downscaled item — where PIL exists, pass the real decode-resize-
    encode there. Without one, ``decode='fake'`` substitutes the
    deterministic digest stand-in and ``decode='real'`` raises where the
    codec would run.
    """
    if decode not in {"fake", "real"}:
        raise ValueError("decode must be 'fake' or 'real'")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if resizer is None and decode == "real":
                raise NotImplementedError(
                    "image codecs (PIL) unavailable in this environment; "
                    "inject resizer= or use decode='fake'")
            kernel = resizer if resizer is not None else _fake_resize
            rows = []
            for rec in pdf.to_dict("records"):
                had_meta = rec["meta"] is not None
                meta = dict(rec["meta"]) if had_meta else {}
                w, h = meta.get("width"), meta.get("height")
                payload = rec["payload"]
                if (w is not None and h is not None
                        and max(w, h) > max_side and payload is not None):
                    m = max(w, h)
                    new_w = max(1, (w * max_side) // m)
                    new_h = max(1, (h * max_side) // m)
                    payload = kernel(bytes(payload), new_w, new_h)
                    meta["width"], meta["height"] = new_w, new_h
                rows.append({**rec, "payload": payload,
                             "meta": meta if had_meta else None})
            yield pd.DataFrame(rows, columns=pdf.columns)

    return df.mapInPandas(run, MEDIA_SCHEMA)
