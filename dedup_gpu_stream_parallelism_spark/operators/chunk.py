"""Content-defined chunking (CDC) — the reference's Rabin segmentation.

The reference cuts its byte stream wherever a 32-byte rolling fingerprint
masks to zero (``rabinseg``, /root/reference/src/rabin.cpp:72-100; window
``NWINDOW=32`` and ``RabinMask=0xfff`` → ~4 KiB average chunks,
src/rabin.h:7-11), then dedups chunks by SHA-1.  Two files sharing any
content run longer than a couple of average chunk lengths will share at
least one chunk *hash* — which is how CDC discovers shared-substring
duplicates that set-similarity (MinHash) misses.

Graft spec (integer-only, mirrors config.py):
* rolling window hash = the same k=CDC_WINDOW polynomial shingle hash
  (functions/hashing.py) — our Rabin fingerprint;
* a cut happens AFTER text position i when
  ``hash(text[i-w+1 .. i]) % CDC_MODULUS == 0`` → average chunk length
  ~CDC_MODULUS chars (no minimum-length rule, so the cut set is a pure
  per-position predicate — the same per-position independence the CUDA
  matcher kernels exploit, matcher_cuda.cu:32-100 — and is exactly
  SQL-expressible for the DuckDB oracle);
* chunk key = sha256 of the chunk text;
* files sharing a chunk key become candidate pairs (star strategy for hot
  chunks, e.g. ubiquitous license headers).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup_gpu_stream_parallelism_spark.config import BASE1, DedupConfig
from dedup_gpu_stream_parallelism_spark.functions import hashing

CDC_WINDOW = 32      # chars, = the reference's NWINDOW (src/rabin.h:8)
CDC_MODULUS = 256    # average chunk length in chars (reference: mask 0xfff ≈ 4 KiB)


def cut_positions(text: str, window: int = CDC_WINDOW, modulus: int = CDC_MODULUS) -> list[int]:
    """0-based positions p such that the chunk boundary falls AFTER p.

    p ranges over [window-1, len-1); a boundary after the final char is
    implicit.  Empty for texts shorter than ``window``.
    """
    h = hashing.shingle_hashes(text, window, BASE1)
    if h.shape[0] == 0:
        return []
    # hash at index i covers text[i : i+window] → boundary after i+window-1
    hit = np.nonzero(h % modulus == 0)[0] + (window - 1)
    return [int(p) for p in hit if p < len(text) - 1]


def chunk_spans(text: str, window: int = CDC_WINDOW, modulus: int = CDC_MODULUS) -> list[tuple[int, int]]:
    """(start, end) half-open spans covering the text exactly."""
    if not text:
        return []
    cuts = cut_positions(text, window, modulus)
    starts = [0] + [p + 1 for p in cuts]
    ends = [p + 1 for p in cuts] + [len(text)]
    return list(zip(starts, ends))


CHUNK_SCHEMA = "doc_id bigint, chunk_idx bigint, chunk_start bigint, chunk_len bigint, chunk_sha string"


def chunk_documents(
    docs: DataFrame,
    cfg: DedupConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = CDC_WINDOW,
    modulus: int = CDC_MODULUS,
    with_payload: bool = False,
) -> DataFrame:
    """Explode every document into CDC chunks: one row per chunk with its
    sha256 key — the Fragment/FragmentRefine stages
    (src/encoder.cpp:1123-1176, :634-758) as a ``mapInPandas`` flatMap.

    ``with_payload=True`` additionally emits the chunk text (``chunk_text``)
    — the storage-encode path (operators/store.py) needs the bytes, the
    candidate/stats paths don't and should leave it off."""

    from pyspark.sql.types import BinaryType

    from dedup_gpu_stream_parallelism_spark.partitioning import widen_if_narrow

    # CDC is CPU-bound python: widen a narrow scan to cluster parallelism
    # (no-op on already-wide inputs; see partitioning.widen_if_narrow)
    src = widen_if_narrow(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    )
    is_binary = isinstance(src.schema["text"].dataType, BinaryType)
    payload_type = "binary" if is_binary else "string"
    schema = CHUNK_SCHEMA + (f", chunk_text {payload_type}" if with_payload else "")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_id, out_idx, out_start, out_len, out_sha = [], [], [], [], []
            out_text: list = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    text = b"" if is_binary else ""
                for i, (s, e) in enumerate(chunk_spans(text, window, modulus)):
                    out_id.append(did)
                    out_idx.append(i)
                    out_start.append(s)
                    out_len.append(e - s)
                    piece = text[s:e]
                    out_sha.append(
                        hashlib.sha256(
                            piece
                            if isinstance(piece, (bytes, bytearray))
                            else piece.encode("utf-8")
                        ).hexdigest()
                    )
                    if with_payload:
                        out_text.append(piece)
            cols = {
                "doc_id": pd.array(out_id, dtype="int64"),
                "chunk_idx": pd.array(out_idx, dtype="int64"),
                "chunk_start": pd.array(out_start, dtype="int64"),
                "chunk_len": pd.array(out_len, dtype="int64"),
                "chunk_sha": pd.array(out_sha, dtype="string"),
            }
            if with_payload:
                cols["chunk_text"] = (
                    pd.Series(out_text, dtype="object")
                    if is_binary
                    else pd.array(out_text, dtype="string")
                )
            yield pd.DataFrame(cols)

    return src.mapInPandas(gen, schema=schema)


def chunk_candidate_pairs(
    chunks: DataFrame,
    cfg: DedupConfig | None = None,
    min_chunk_len: int = 64,
    strategy: str = "all_pairs",
) -> DataFrame:
    """Distinct (a_id, b_id) pairs of docs sharing a chunk sha256.

    Tiny chunks (< ``min_chunk_len``) carry too little signal and create
    noise buckets, so they are filtered — the analog of the reference's
    <1024 B CPU/GPU routing threshold (src/encoder_spar.cpp:272-280).
    Hot chunk keys (license boilerplate shared by 20% of a corpus) are
    star-capped exactly like hot LSH bands (operators/lsh.py).
    """
    cfg = cfg or DedupConfig()
    # 8-byte hashed key (like LSH band keys); the groupBy inside
    # candidate_pairs supplies the single hash exchange.
    keyed = (
        chunks.where(F.col("chunk_len") >= min_chunk_len)
        .select("doc_id", F.xxhash64("chunk_sha").alias("band_key"))
        .distinct()
    )
    from dedup_gpu_stream_parallelism_spark.operators.lsh import candidate_pairs

    return candidate_pairs(keyed, cfg, strategy=strategy)


def chunk_dedup_stats(chunks: DataFrame) -> DataFrame:
    """Chunk-level dedup statistics — the reference's ``-v`` block
    (print_stats, src/encoder.cpp:131-177): chunk counts, distinct chunks,
    duplicate chunks, dedup factor, mean chunk length."""
    return chunks.agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("chunk_sha").alias("n_unique_chunks"),
        (F.count("*") - F.countDistinct("chunk_sha")).alias("n_duplicate_chunks"),
        F.sum("chunk_len").alias("total_chars"),
        F.round(F.avg("chunk_len"), 6).alias("mean_chunk_len"),
        F.round(F.count("*") / F.countDistinct("chunk_sha"), 6).alias("chunk_dedup_factor"),
    )
