"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched pandas UDFs
over mapInPandas.

The Spark-side machinery (schema, partitioning, UDF signature, batch
shape) is real and tested; the codec step is a deterministic fake
because no image/audio codec library is a dependency — swap
``_fake_decode`` for PIL/librosa decode on a real cluster.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("sha1", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def _fake_decode(payload: bytes, dim: int = 8) -> np.ndarray:
    """Deterministic stand-in feature: bytes → sha1 → dim floats."""
    h = hashlib.sha1(payload).digest()
    return (np.frombuffer(h[: dim * 2], dtype=np.uint16).astype(np.float32) / 65535.0)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("out_w", T.IntegerType()),
        T.StructField("out_h", T.IntegerType()),
        T.StructField("resized", T.BinaryType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_offset", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def resize_images(df: DataFrame, w: int = 32, h: int = 32) -> DataFrame:
    """mapInPandas image resize plumbing (1 row in → 1 row out, binary
    in → smaller binary out). The real kernel is PIL's
    Image.resize((w, h)); here the deterministic fake derives w*h
    bytes by striding the payload so batch shape, output schema and
    size accounting are all real and testable."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for p in pdf["payload"]:
                b = p if isinstance(p, bytes) else bytes(p)
                if not b:
                    b = b"\x00"  # empty payload still yields w*h bytes
                need = w * h
                # deterministic fake "resample": cycle payload to w*h bytes
                reps = (need + len(b) - 1) // len(b)
                out.append((b * reps)[:need])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "out_w": np.int32(w),
                    "out_h": np.int32(h),
                    "resized": out,
                }
            )

    return df.mapInPandas(fn, RESIZED_SCHEMA)


def sample_frames(df: DataFrame, n_frames: int = 4, frame_bytes: int = 16) -> DataFrame:
    """mapInPandas frame sampling plumbing (1 row in → n rows out — the
    row-expanding UDF shape video decode needs). Real kernel: ffmpeg
    keyframe extraction; the fake samples n_frames evenly-spaced
    byte windows from the payload, so offsets/expansion/ordering are
    real and oracle-checkable."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs, frames = [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                b = p if isinstance(p, bytes) else bytes(p)
                span = max(1, (len(b) - frame_bytes) // max(1, n_frames - 1))
                for i in range(n_frames):
                    off = min(i * span, max(0, len(b) - frame_bytes))
                    ids.append(mid)
                    idxs.append(i)
                    offs.append(off)
                    frames.append(b[off : off + frame_bytes])
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_idx": pd.array(idxs, dtype="int32"),
                    "frame_offset": pd.array(offs, dtype="int32"),
                    "frame": frames,
                }
            )

    return df.mapInPandas(fn, FRAME_SCHEMA)


def extract_features(df: DataFrame, dim: int = 8) -> DataFrame:
    """mapInPandas feature extraction: one Arrow batch in, one out.
    Vectorized per batch; payload bytes never leave the executor."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _fake_decode(p if isinstance(p, bytes) else bytes(p), dim).tolist()
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int32"),
                    "sha1": [
                        hashlib.sha1(p if isinstance(p, bytes) else bytes(p)).hexdigest()
                        for p in pdf["payload"]
                    ],
                    "feature": feats,
                }
            )

    return df.mapInPandas(fn, FEATURE_SCHEMA)
