"""Fused signature stage: sha256 + shingle stats + MinHash + SimHash.

One ``mapInPandas`` pass computes every per-file fingerprint — the same
fusion the reference applies in ``SerialIntegratedPipeline`` ("integrate all
computationally intensive pipeline stages to improve cache efficiency",
/root/reference/src/encoder.cpp:760-979).  Batches arrive as Arrow record
batches, the python side runs pure numpy over a flattened concat buffer —
the identical data layout the reference's GPU SHA-1 batch kernel consumes
(offsets/lengths + contiguous buffer, src/encoder_spar.cpp:197-243).

No per-row Python in the hash math; only sha256 uses a per-row hashlib call
(like the per-chunk SHA1_Digest, src/sha.cpp:6-12).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from dedup_gpu_stream_parallelism_spark.config import (
    BASE1,
    BASE2,
    SIMHASH_HALF_BITS,
    DedupConfig,
)
from dedup_gpu_stream_parallelism_spark.functions import hashing
from dedup_gpu_stream_parallelism_spark.partitioning import widen_if_narrow

SIGNATURE_FIELDS = (
    "sha256 string, n_chars bigint, n_shingles bigint, "
    "n_distinct_shingles bigint, minhash array<bigint>, simhash bigint"
)
CHUNK_KEYS_FIELD = "chunk_keys array<bigint>"


def _chunk_keys_of(
    text,
    min_chunk_len: int,
    codes: np.ndarray | None = None,
    raw: bytes | None = None,
) -> list[int]:
    """Per-doc deduped int64 CDC chunk keys (first 8 bytes of the chunk
    sha256) over the ``operators.chunk.chunk_spans`` cut rule, skipping
    chunks shorter than ``min_chunk_len``.

    ``codes``/``raw`` let ``_sign_batch`` reuse its own symbol-code and
    utf-8 passes (the old path re-ran ``text_codes`` per doc and re-encoded
    every chunk slice).  Span math is numpy over the shared code array; the
    per-chunk sha256 stays a hashlib call (C) over a byte slice.
    Bit-identical to the chunk_spans walk — pinned by
    tests/test_fused_hashing.py."""
    from dedup_gpu_stream_parallelism_spark.operators.chunk import (
        CDC_MODULUS,
        CDC_WINDOW,
    )

    if codes is None:
        codes = hashing.text_codes(text)
    n = codes.shape[0]
    if n == 0:
        return []
    if raw is None:
        raw = text if isinstance(text, (bytes, bytearray)) else text.encode("utf-8")
    h = hashing.shingle_hashes_from_codes(codes, CDC_WINDOW, BASE1)
    if h.shape[0]:
        hit = np.nonzero(h % CDC_MODULUS == 0)[0] + (CDC_WINDOW - 1)
        cuts = hit[hit < n - 1]
        starts = np.concatenate(([0], cuts + 1))
        ends = np.concatenate((cuts + 1, [n]))
    else:
        starts = np.array([0], dtype=np.int64)
        ends = np.array([n], dtype=np.int64)
    keep = (ends - starts) >= min_chunk_len
    seen: set[int] = set()
    out: list[int] = []
    if len(raw) == n:
        # byte offsets == char offsets (ascii text or raw bytes): hash
        # slices of the single encoded buffer directly
        for s, e in zip(starts[keep].tolist(), ends[keep].tolist()):
            k = int.from_bytes(
                hashlib.sha256(raw[s:e]).digest()[:8], "big", signed=True
            )
            if k not in seen:
                seen.add(k)
                out.append(k)
    else:
        # non-ascii str: spans are char positions — slice the str, encode
        for s, e in zip(starts[keep].tolist(), ends[keep].tolist()):
            k = int.from_bytes(
                hashlib.sha256(text[s:e].encode("utf-8")).digest()[:8],
                "big",
                signed=True,
            )
            if k not in seen:
                seen.add(k)
                out.append(k)
    return out


def _sign_batch(
    pdf: pd.DataFrame,
    text_col: str,
    cfg: DedupConfig,
    keep_text: bool = False,
    with_chunk_keys: bool = False,
    min_chunk_len: int = 64,
) -> pd.DataFrame:
    # polymorphic over str and bytes content (BinaryType columns arrive as
    # Python bytes; the hash spec treats byte values as codes — see
    # hashing.text_codes)
    raw = pdf[text_col].tolist()
    texts = [v if v is not None else "" for v in raw]
    # ONE symbol-code pass and ONE utf-8 pass per doc, shared by both
    # shingle streams, the sha256, and the CDC chunk keys (the old path
    # re-ran text_codes per stream and re-encoded per chunk slice)
    codes = [hashing.text_codes(t) for t in texts]
    enc = [
        t if isinstance(t, (bytes, bytearray)) else t.encode("utf-8")
        for t in texts
    ]
    flat1, starts = hashing.batch_shingle_hashes_from_codes(
        codes, cfg.shingle_k, BASE1
    )
    flat2, _ = hashing.batch_shingle_hashes_from_codes(
        codes, cfg.shingle_k, BASE2
    )
    sig = hashing.minhash_signatures(flat1, starts, cfg)
    lo = hashing._segment_bit_votes(flat1, starts)
    hi = hashing._segment_bit_votes(flat2, starts)
    seg_len = np.diff(starts)
    simhash = hi * (np.int64(1) << SIMHASH_HALF_BITS) + lo
    simhash[seg_len == 0] = 0
    n_distinct = np.array(
        [
            np.unique(flat1[starts[i] : starts[i + 1]]).shape[0]
            for i in range(len(texts))
        ],
        dtype=np.int64,
    )
    out = (pdf.copy() if keep_text else pdf.drop(columns=[text_col]).copy())
    out["sha256"] = [hashlib.sha256(b).hexdigest() for b in enc]
    out["n_chars"] = np.array([len(t) for t in texts], dtype=np.int64)
    out["n_shingles"] = seg_len
    out["n_distinct_shingles"] = n_distinct
    out["minhash"] = list(sig)
    out["simhash"] = simhash
    if with_chunk_keys:
        # fused CDC chunk keys: same text pass, no second Arrow transfer —
        # the reference's integrated-stage fusion (encoder.cpp:760-979)
        out["chunk_keys"] = [
            _chunk_keys_of(t, min_chunk_len, codes=c, raw=b)
            for t, c, b in zip(texts, codes, enc)
        ]
    return out


def sign_documents(
    df: DataFrame,
    text_col: str = "content",
    cfg: DedupConfig | None = None,
    keep_text: bool = False,
    with_chunk_keys: bool = False,
    min_chunk_len: int = 64,
) -> DataFrame:
    """Append signature columns to ``df`` (dropping the text column unless
    ``keep_text``).  All other columns pass through unchanged.
    ``with_chunk_keys`` additionally emits the deduped CDC chunk keys from
    the SAME text pass (``chunk_keys array<bigint>``)."""
    cfg = cfg or DedupConfig()
    # CPU-bound kernel: parallelism = partition count, not bytes.  A small
    # corpus arrives as ONE scan partition (maxPartitionBytes packing) and
    # would run the engine's costliest UDF on one core.  This is the only
    # widen on the signature path — callers pass the raw input (no-op on
    # real-scale scans, which are already wide).
    df = widen_if_narrow(df)
    passthrough = [
        f for f in df.schema.fields if keep_text or f.name != text_col
    ]
    schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in passthrough)
        + ", "
        + SIGNATURE_FIELDS
        + (", " + CHUNK_KEYS_FIELD if with_chunk_keys else "")
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _sign_batch(
                pdf, text_col, cfg, keep_text=keep_text,
                with_chunk_keys=with_chunk_keys, min_chunk_len=min_chunk_len,
            )

    return df.mapInPandas(gen, schema=schema)

