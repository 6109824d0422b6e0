"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns plus typed metadata — the same
"bytes + offsets/lengths" batch layout the reference ships to its GPU
kernels (/root/reference/src/encoder_spar.cpp:197-243).  Everything
Spark-side is real and tested: schemas, Arrow-batched ``mapInPandas``
stages, fingerprint/dedup over payload bytes, partitioning by media type.

The actual codecs (PIL/ffmpeg/soundfile) are NOT in this container, so the
decode kernel is pluggable: ``decode_fn=None`` uses a clearly-marked
deterministic FAKE (seeded by payload sha) that produces the right shapes,
and ``strict=True`` raises ``NotImplementedError`` where a real codec
would run.  Swapping in a real decoder changes ONE function, no plan
changes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup_gpu_stream_parallelism_spark.session import local_frame

MEDIA_SCHEMA = (
    "media_id bigint, media_type string, payload binary, width int, height int, "
    "sample_rate int, n_frames int"
)

FEATURE_DIM = 16

FEATURES_SCHEMA = (
    "media_id bigint, media_type string, payload_sha string, payload_len bigint, "
    f"feature array<double>"
)


def synthetic_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (no external data): payload bytes are
    seeded PRNG blobs; metadata is consistent with the type."""
    rs = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        mtype = ["image", "audio", "video"][i % 3]
        size = int(rs.randint(256, 4096))
        payload = rs.bytes(size)
        rows.append(
            (
                i,
                mtype,
                bytearray(payload),
                int(rs.randint(16, 512)) if mtype != "audio" else 0,
                int(rs.randint(16, 512)) if mtype != "audio" else 0,
                16000 if mtype == "audio" else 0,
                int(rs.randint(1, 300)) if mtype == "video" else 1,
            )
        )
    return local_frame(spark, rows, MEDIA_SCHEMA)


def _fake_decode(payload: bytes, media_type: str) -> np.ndarray:
    """Deterministic stand-in for a real decoder: FEATURE_DIM float64
    moments of the payload bytes, seeded by content only (so identical
    payloads give identical features — preserving dedup semantics)."""
    digest = hashlib.sha256(payload).digest()
    seed = int.from_bytes(digest[:4], "big")
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
    rs = np.random.RandomState(seed)
    proj = rs.standard_normal((FEATURE_DIM, 8))
    moments = np.array(
        [
            arr.mean(),
            arr.std(),
            arr.min(),
            arr.max(),
            float(np.median(arr)),
            arr[: len(arr) // 2].mean(),
            arr[len(arr) // 2 :].mean(),
            float(len(arr)),
        ]
    )
    return np.round(proj @ moments, 6)


def extract_features(
    media: DataFrame,
    decode_fn: Callable[[bytes, str], np.ndarray] | None = None,
    strict: bool = False,
) -> DataFrame:
    """Binary payload → fingerprint + feature vector, one Arrow batch at a
    time.  ``strict=True``: fail loudly instead of using the fake decoder
    (set when a real codec is plugged in and must not be silently skipped).
    """
    if strict and decode_fn is None:
        raise NotImplementedError(
            "no media codec in this environment: pass decode_fn=... "
            "(e.g. PIL/ffmpeg-backed) or use the deterministic fake"
        )
    decode = decode_fn or _fake_decode

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, shas, lens = [], [], []
            for payload, mtype in zip(pdf["payload"], pdf["media_type"]):
                b = bytes(payload)
                shas.append(hashlib.sha256(b).hexdigest())
                lens.append(len(b))
                feats.append(decode(b, mtype))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "payload_sha": shas,
                    "payload_len": pd.array(lens, dtype="int64"),
                    "feature": feats,
                }
            )

    # type-homogeneous tasks avoid codec-working-set stragglers (video >>
    # image — the reference's size-based kernel routing,
    # src/encoder_spar.cpp:272-280), but partitioning by type ALONE caps
    # parallelism at #types.  repartitionByRange on (type, id) keeps each
    # partition inside one type (at most #types-1 boundary partitions mix)
    # while spreading every type across the cluster; hash-partitioning on
    # a (type, salt) combo cannot guarantee that once combos outnumber
    # partitions.
    spark = media.sparkSession
    shards = max(1, spark.sparkContext.defaultParallelism)
    return media.repartitionByRange(
        shards, "media_type", "media_id"
    ).mapInPandas(gen, schema=FEATURES_SCHEMA)


def media_dedup(features: DataFrame) -> DataFrame:
    """Exact payload dedup over media: first-id-wins per payload_sha —
    identical bytes cluster regardless of metadata."""
    from pyspark.sql import Window

    w = Window.partitionBy("payload_sha")
    return features.select(
        "media_id",
        "media_type",
        "payload_sha",
        F.min("media_id").over(w).alias("representative_id"),
        (F.col("media_id") != F.min("media_id").over(w)).cast("int").alias(
            "is_duplicate"
        ),
    )


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling plan: explode frame indices JVM-side (the
    decode of each sampled frame is the pluggable kernel).  Shows the
    explode-then-process shape without shipping pixels."""
    vids = media.where(F.col("media_type") == "video")
    return vids.select(
        "media_id",
        F.posexplode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
        ).alias("sample_idx", "frame_idx"),
    )
