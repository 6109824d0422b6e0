"""Integer-only content hashing: k-shingles, MinHash, SimHash (numpy).

Plays the role of the reference's fingerprint kernels: Rabin rolling hash
(/root/reference/src/rabin.cpp:72-100) supplies content-defined features and
SHA-1 (src/sha.cpp:6-12, GPU batch src/gpu/sha1_gpu.cu:333-381) supplies the
dedup key.  The GPU batch shape there — parallel offsets/lengths arrays over
one contiguous buffer (src/encoder_spar.cpp:197-243) — is exactly the
flattened-concat + ``reduceat`` layout used here, so a whole Arrow batch is
processed with no per-row Python.

All arithmetic is int64 mod MERSENNE = 2**31-1; see config.py for the spec.
"""

from __future__ import annotations

import numpy as np

from dedup_gpu_stream_parallelism_spark.config import (
    BASE1,
    BASE2,
    MERSENNE,
    SIMHASH_HALF_BITS,
    DedupConfig,
)


def text_codes(text: str | bytes) -> np.ndarray:
    """Symbol codes as int64: unicode codepoints for str, raw byte values
    for bytes (the reference consumes arbitrary bytes, src/mbuffer.h:41 —
    for ASCII text the two views coincide, so the hash spec is unchanged).
    Fast path for ASCII via raw bytes."""
    if isinstance(text, (bytes, bytearray, memoryview)):
        return np.frombuffer(bytes(text), dtype=np.uint8).astype(np.int64)
    b = text.encode("utf-8")
    if len(b) == len(text):  # pure ASCII
        return np.frombuffer(b, dtype=np.uint8).astype(np.int64)
    return np.fromiter((ord(c) for c in text), dtype=np.int64, count=len(text))


def shingle_hashes(text: str, k: int, base: int = BASE1) -> np.ndarray:
    """Hashes of all k-char shingles: h_i = sum_j code[i+j]*base^j mod P.

    Returns an empty array when len(text) < k (mirrors the reference's
    zero-length-chunk asserts, src/encoder.cpp:913-915).
    """
    codes = text_codes(text)
    return shingle_hashes_from_codes(codes, k, base)


def shingle_hashes_from_codes(codes: np.ndarray, k: int, base: int) -> np.ndarray:
    n = codes.shape[0]
    if n < k:
        return np.empty(0, dtype=np.int64)
    w = np.empty(k, dtype=np.int64)
    acc = 1
    for j in range(k):
        w[j] = acc
        acc = (acc * base) % MERSENNE
    # windows: (n-k+1, k) view, dot with weights, mod P.
    # codes < 0x110000 and w < P ⇒ each term < 2**52, k<=16 terms ⇒ < 2**56.
    # The Mersenne shift-add fold LOSES here (8-worker A/B, all reps,
    # +20-40%): unlike the L2-blocked MinHash buffers, the matmul output
    # is a fresh DRAM-resident array, and one division pass beats six
    # cheap passes — keep the ``%``.
    windows = np.lib.stride_tricks.sliding_window_view(codes, k)
    return (windows @ w) % MERSENNE


def batch_shingle_hashes(
    texts: list[str], k: int, base: int = BASE1
) -> tuple[np.ndarray, np.ndarray]:
    """Shingle hashes for a batch, concatenated.

    Returns ``(flat_hashes, starts)`` where ``starts`` has len(texts)+1
    boundaries into ``flat_hashes`` (the offsets/lengths batch layout of
    src/encoder_spar.cpp:197-243).
    """
    parts = [shingle_hashes(t or "", k, base) for t in texts]
    starts = np.zeros(len(parts) + 1, dtype=np.int64)
    np.cumsum([p.shape[0] for p in parts], out=starts[1:])
    flat = np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)
    return flat, starts


def batch_shingle_hashes_from_codes(
    parts: list[np.ndarray], k: int, base: int
) -> tuple[np.ndarray, np.ndarray]:
    """``batch_shingle_hashes`` over pre-computed per-doc code arrays —
    lets a fused caller run ``text_codes`` once and feed every hash stream
    (BASE1/BASE2 shingles, CDC) from the same arrays."""
    hs = [shingle_hashes_from_codes(c, k, base) for c in parts]
    starts = np.zeros(len(hs) + 1, dtype=np.int64)
    np.cumsum([h.shape[0] for h in hs], out=starts[1:])
    flat = np.concatenate(hs) if hs else np.empty(0, dtype=np.int64)
    return flat, starts


# Doc-aligned cache block: ~32K shingles (256 KB of int64) so the shingle
# slice and the work buffer stay L2-resident across all 128 permutation /
# 31 bit-plane passes.  Streaming the full batch per pass instead saturates
# DRAM bandwidth by ~8 worker processes and kills 8→32-core scaling
# (measured: 0.30 efficiency unblocked, 0.8-1.0 blocked).  Same working-set
# discipline as the reference's 4 MiB GPU batches (libs/lzsslib/src/Makefile:15).
BLOCK_SHINGLES = 1 << 15


def _doc_blocks(starts: np.ndarray, block: int):
    """Yield (d0, d1) doc index ranges spanning <= block shingles each
    (always at least one doc, so an oversized doc gets a block to itself)."""
    n_docs = starts.shape[0] - 1
    d0 = 0
    while d0 < n_docs:
        d1 = d0 + 1
        while d1 < n_docs and starts[d1 + 1] - starts[d0] <= block:
            d1 += 1
        yield d0, d1
        d0 = d1


def minhash_signatures(
    flat_hashes: np.ndarray,
    starts: np.ndarray,
    cfg: DedupConfig,
) -> np.ndarray:
    """(n_docs, num_perm) int64 MinHash matrix over the flattened batch.

    Cache-blocked: doc-aligned blocks of ``BLOCK_SHINGLES`` are kept
    L2-resident across all ``num_perm`` passes through one reused buffer
    (see BLOCK_SHINGLES note for the measured scaling effect).
    """
    a, b = cfg.minhash_coeffs()
    n_docs = starts.shape[0] - 1
    sig = np.full((n_docs, cfg.num_perm), cfg.empty_min, dtype=np.int64)
    if flat_hashes.shape[0] == 0:
        return sig
    cap = min(flat_hashes.shape[0], 2 * BLOCK_SHINGLES)
    buf = np.empty(cap, dtype=np.int64)
    tmp = np.empty(cap, dtype=np.int64)
    for d0, d1 in _doc_blocks(starts, BLOCK_SHINGLES):
        lo, hi = starts[d0], starts[d1]
        sub = flat_hashes[lo:hi]
        if sub.shape[0] == 0:
            continue
        ss = starts[d0 : d1 + 1] - lo
        ne = np.diff(ss) > 0
        idx = ss[:-1][ne]
        docsel = np.arange(d0, d1)[ne]
        if buf.shape[0] < sub.shape[0]:
            buf = np.empty(sub.shape[0], dtype=np.int64)
            tmp = np.empty(sub.shape[0], dtype=np.int64)
        bv = buf[: sub.shape[0]]
        tv = tmp[: sub.shape[0]]
        for t in range(cfg.num_perm):
            # a_t*h + b_t mod P; a<P, h<P, b<P ⇒ sum < 2**62, ok in int64.
            # The mod is the Mersenne shift-add fold (2**31 ≡ 1 mod P):
            # bit-identical to ``%`` (pinned against the ``%``-based
            # oracles in tests/test_hashing.py and tests/test_properties.py)
            # but ~7 cheap vector ops instead of an int64 division — the
            # hottest single op of the sign stage.  After two folds values
            # sit in [0, P+1]; the subtract-P tail is so rare that one
            # max() gate usually replaces the masked-subtract passes.
            # All temporaries live in the reused L2-resident buffers.
            np.multiply(sub, a[t], out=bv)
            bv += b[t]
            np.right_shift(bv, 31, out=tv)
            bv &= MERSENNE
            bv += tv
            np.right_shift(bv, 31, out=tv)
            bv &= MERSENNE
            bv += tv
            if bv.max() >= MERSENNE:  # pragma: no cover - ~2**-31 per elem
                np.subtract(bv, MERSENNE, out=bv, where=bv >= MERSENNE)
            sig[docsel, t] = np.minimum.reduceat(bv, idx)
    return sig


def _segment_bit_votes(flat: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """(n_docs,) packed 31-bit majority vote of one hash stream."""
    n_seg = starts.shape[0] - 1
    packed = np.zeros(n_seg, dtype=np.int64)
    if flat.shape[0] == 0:
        return packed
    # cache-blocked bit-plane loop through a reused buffer (see
    # BLOCK_SHINGLES).  Majority vote: bit set ⇔ ones >= zeros ⇔
    # 2*ones >= seg_len (ties vote 1).
    buf = np.empty(min(flat.shape[0], 2 * BLOCK_SHINGLES), dtype=np.int64)
    for d0, d1 in _doc_blocks(starts, BLOCK_SHINGLES):
        lo, hi = starts[d0], starts[d1]
        sub = flat[lo:hi]
        if sub.shape[0] == 0:
            continue
        ss = starts[d0 : d1 + 1] - lo
        seg_len = np.diff(ss)
        ne = seg_len > 0
        idx = ss[:-1][ne]
        docsel = np.arange(d0, d1)[ne]
        ne_len = seg_len[ne]
        if buf.shape[0] < sub.shape[0]:
            buf = np.empty(sub.shape[0], dtype=np.int64)
        bv = buf[: sub.shape[0]]
        for bit in range(SIMHASH_HALF_BITS):
            np.right_shift(sub, bit, out=bv)
            bv &= 1
            ones = np.add.reduceat(bv, idx)
            packed[docsel] |= (2 * ones >= ne_len).astype(np.int64) << bit
    return packed


def simhash_values(texts: list[str], cfg: DedupConfig) -> np.ndarray:
    """62-bit SimHash per text: hi(BASE2 stream)*2**31 + lo(BASE1 stream).

    Empty shingle sets (len < k) get simhash 0.
    """
    flat1, starts = batch_shingle_hashes(texts, cfg.shingle_k, BASE1)
    flat2, _ = batch_shingle_hashes(texts, cfg.shingle_k, BASE2)
    lo = _segment_bit_votes(flat1, starts)
    hi = _segment_bit_votes(flat2, starts)
    seg_len = np.diff(starts)
    out = hi * (np.int64(1) << SIMHASH_HALF_BITS) + lo
    out[seg_len == 0] = 0
    return out


def hamming62(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Hamming distance between packed 62-bit simhash values."""
    x = np.bitwise_xor(a, b)
    cnt = np.zeros_like(x)
    for _ in range(62):
        cnt += x & 1
        x >>= 1
    return cnt
