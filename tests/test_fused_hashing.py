"""Bit-exactness of the fused signature batch (``signatures._sign_batch``).

``_sign_batch`` computes sha256, shingle stats, MinHash, SimHash and the
CDC chunk keys in one pass, sharing one symbol-code array and one utf-8
encoding per doc across every hash stream.  These tests pin it to the
same columns recomposed from the per-doc spec primitives
(``batch_shingle_hashes``, ``np.unique``, ``chunk_spans``), which are
themselves fuzzed against the pure-python oracle (tests/test_properties.py).
The Mersenne fold inside ``minhash_signatures`` is pinned against the
``%``-based oracles by tests/test_hashing.py::test_minhash_matches_oracle
and tests/test_properties.py::test_minhash_numpy_equals_python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from dedup_gpu_stream_parallelism_spark.config import BASE1, BASE2, DedupConfig
from dedup_gpu_stream_parallelism_spark.functions import hashing
from dedup_gpu_stream_parallelism_spark.functions.signatures import _sign_batch

CFG = DedupConfig()

texts_strategy = st.lists(
    st.one_of(
        st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=200),
        st.text(
            alphabet=st.characters(
                min_codepoint=0x20, max_codepoint=0x2FFFF, blacklist_categories=("Cs",)
            ),
            max_size=80,
        ),
        st.binary(max_size=200),
    ),
    min_size=0,
    max_size=12,
)


def _sign_batch_reference(pdf, text_col, cfg, with_chunk_keys):
    """The pre-fusion signature computation, recomposed from the spec
    primitives — the behavioral pin for _sign_batch."""
    import hashlib

    from dedup_gpu_stream_parallelism_spark.config import SIMHASH_HALF_BITS
    from dedup_gpu_stream_parallelism_spark.operators.chunk import chunk_spans

    texts = [v if v is not None else "" for v in pdf[text_col].tolist()]
    flat1, starts = hashing.batch_shingle_hashes(texts, cfg.shingle_k, BASE1)
    flat2, _ = hashing.batch_shingle_hashes(texts, cfg.shingle_k, BASE2)
    sig = hashing.minhash_signatures(flat1, starts, cfg)
    lo = hashing._segment_bit_votes(flat1, starts)
    hi = hashing._segment_bit_votes(flat2, starts)
    seg_len = np.diff(starts)
    simhash = hi * (np.int64(1) << SIMHASH_HALF_BITS) + lo
    simhash[seg_len == 0] = 0
    out = pdf.drop(columns=[text_col]).copy()
    out["sha256"] = [
        hashlib.sha256(
            t if isinstance(t, (bytes, bytearray)) else t.encode("utf-8")
        ).hexdigest()
        for t in texts
    ]
    out["n_chars"] = np.array([len(t) for t in texts], dtype=np.int64)
    out["n_shingles"] = seg_len
    out["n_distinct_shingles"] = np.array(
        [np.unique(flat1[starts[i] : starts[i + 1]]).shape[0] for i in range(len(texts))],
        dtype=np.int64,
    )
    out["minhash"] = list(sig)
    out["simhash"] = simhash
    if with_chunk_keys:
        keys = []
        for t in texts:
            seen, ks = set(), []
            for s, e in chunk_spans(t):
                if e - s < 64:
                    continue
                piece = t[s:e]
                if not isinstance(piece, (bytes, bytearray)):
                    piece = piece.encode("utf-8")
                k = int.from_bytes(
                    hashlib.sha256(piece).digest()[:8], "big", signed=True
                )
                if k not in seen:
                    seen.add(k)
                    ks.append(k)
            keys.append(ks)
        out["chunk_keys"] = keys
    return out


@settings(max_examples=25, deadline=None)
@given(texts=texts_strategy, with_chunks=st.booleans())
def test_sign_batch_matches_reference(texts, with_chunks):
    pdf = pd.DataFrame(
        {"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts}
    )
    got = _sign_batch(pdf, "text", CFG, with_chunk_keys=with_chunks)
    want = _sign_batch_reference(pdf, "text", CFG, with_chunk_keys=with_chunks)
    assert list(got.columns) == list(want.columns)
    for col in want.columns:
        g, w = got[col].tolist(), want[col].tolist()
        if col == "minhash":
            g = [list(map(int, v)) for v in g]
            w = [list(map(int, v)) for v in w]
        assert g == w, f"column {col} diverged"


def test_sign_batch_long_mixed_docs():
    """Deterministic heavier case: repeated boilerplate (CDC cut sharing),
    multi-KB docs with many CDC chunks each, unicode + bytes mix."""
    rng = np.random.default_rng(7)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    boiler = " ".join(rng.choice(words, 200).tolist())
    docs = [
        boiler + " " + " ".join(rng.choice(words, 500).tolist()),
        boiler + " tail",
        ("unicode ✓ überlänge " * 300),
        bytes(rng.integers(32, 127, 5000, dtype=np.uint8).tolist()),
        "",
        "short",
    ]
    pdf = pd.DataFrame({"doc_id": np.arange(len(docs)), "text": docs})
    got = _sign_batch(pdf, "text", CFG, with_chunk_keys=True)
    want = _sign_batch_reference(pdf, "text", CFG, with_chunk_keys=True)
    for col in want.columns:
        g, w = got[col].tolist(), want[col].tolist()
        if col == "minhash":
            g = [list(map(int, v)) for v in g]
            w = [list(map(int, v)) for v in w]
        assert g == w, f"column {col} diverged"
