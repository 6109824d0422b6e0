"""Seeded input generation.  The engine only ever sees the parquet written
here; the planted ground truth stays with the benchmark.

Every input gets a sha256 over a canonical serialization of its rows (not
the parquet bytes, which carry the writer's version), and ``provenance.json``
beside this file pins the digest of each (part, seed) it lists: a change
to ``sources/corpus.py`` or to the embedding generator then fails the run
loudly instead of silently changing the workload.

    python3 perfbench/inputs.py --record      # rewrite provenance.json
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
PROVENANCE = os.path.join(HERE, "provenance.json")
#: seeds whose input digests provenance.json pins
RECORDED_SEEDS = range(0, 32)

#: input sizes per workload part.  ``full`` is what the benchmark measures;
#: ``tiny`` is the self-test's.  At local[4] on a 4-core Xeon VM one JIT-cold
#: ``batch`` operation takes 30-43 s and one ``stream`` replay 18-23 s.
SIZES = {
    "full": {
        "neardup": {"files": 300},
        "archive": {"files": 300},
        "stream": {"files": 160, "slices": 2},
        "embed": {"vectors": 1200, "dim": 64},
    },
    "tiny": {
        "neardup": {"files": 80},
        "archive": {"files": 80},
        "stream": {"files": 48, "slices": 2},
        "embed": {"vectors": 200, "dim": 16},
    },
}


@dataclass
class Inputs:
    workload: str
    seed: int
    digests: dict[str, str] = field(default_factory=dict)
    truth: object = None
    meta: dict = field(default_factory=dict)


def _digest_rows(rows: list[dict]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(json.dumps(r, sort_keys=True, separators=(",", ":")).encode())
        h.update(b"\n")
    return h.hexdigest()


def _corpus_rows(n: int, seed: int):
    from dedup_gpu_stream_parallelism_spark.sources.corpus import generate_corpus

    return generate_corpus(n, seed)


def _write_docs(rows: list[dict], path: str) -> None:
    cols = ["file_id", "repo", "path", "commit", "lang", "content"]
    table = pa.table(
        {c: [r[c] for r in rows] for c in cols},
        schema=pa.schema(
            [("file_id", pa.int64())] + [(c, pa.string()) for c in cols[1:]]
        ),
    )
    pq.write_table(table, path)


def embedding_vectors(n: int, dim: int, seed: int):
    """``n`` float32 vectors; about 5% form planted near-duplicate clusters
    of 2-4 members (each member = a shared unit centre + 2% per-axis noise,
    pairwise cosine ~0.97), the rest are independent Gaussians whose pairwise
    cosine stays far below the 0.9 clustering threshold.  Ids are a seeded
    permutation, so cluster members are not adjacent.  Returns
    ``(vecs, clusters)`` with ``clusters`` a list of sorted id lists."""
    rs = np.random.RandomState(seed)
    vecs = rs.standard_normal((n, dim))
    perm = rs.permutation(n)
    clusters: list[list[int]] = []
    at = 0
    target = max(2, n // 20)
    while at < target:
        size = int(rs.randint(2, 5))
        centre = rs.standard_normal(dim)
        centre /= np.linalg.norm(centre)
        ids = [int(i) for i in perm[at : at + size]]
        for i in ids:
            vecs[i] = centre + 0.02 * rs.standard_normal(dim)
        clusters.append(sorted(ids))
        at += size
    return vecs.astype(np.float32), clusters


def _stage_slices(rows: list[dict], srcdir: str, n_slices: int) -> int:
    """The replay contract of ``streaming.replay.stage_range_batches``: slice
    *i* is one parquet file holding ids ``[i*per, (i+1)*per)``, with strictly
    ascending mtimes so the file source replays one slice per trigger."""
    os.makedirs(srcdir, exist_ok=True)
    per = -(-len(rows) // n_slices)
    base = float(int(time.time())) - 3600.0
    for i in range(n_slices):
        dst = os.path.join(srcdir, f"{i:04d}.parquet")
        sl = [
            {"doc_id": r["file_id"], "text": r["content"]}
            for r in rows[i * per : (i + 1) * per]
        ]
        pq.write_table(
            pa.table(
                {"doc_id": [r["doc_id"] for r in sl], "text": [r["text"] for r in sl]},
                schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string())]),
            ),
            dst,
        )
        os.utime(dst, (base + 10.0 * i, base + 10.0 * i))
    return per


def generate(workload: str, seed: int, work: str, scale: str = "full") -> Inputs:
    size = SIZES[scale][workload]
    d = os.path.join(work, "inputs", f"{workload}-{scale}-{seed}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    inp = Inputs(workload, seed, meta=dict(size))
    if workload == "embed":
        vecs, clusters = embedding_vectors(size["vectors"], size["dim"], seed)
        path = os.path.join(d, "embeddings.parquet")
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(np.arange(len(vecs)), pa.int64()),
                    "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                }
            ),
            path,
        )
        inp.digests["embeddings"] = hashlib.sha256(
            np.ascontiguousarray(vecs).tobytes()
        ).hexdigest()
        inp.truth = {"vecs": vecs, "clusters": clusters}
        inp.meta["path"] = path
        return inp

    rows, truth = _corpus_rows(size["files"], seed)
    inp.digests["corpus"] = _digest_rows(rows)
    inp.truth = truth
    inp.meta["text_bytes"] = sum(len(r["content"].encode()) for r in rows)
    path = os.path.join(d, "docs.parquet")
    _write_docs(rows, path)
    inp.meta["path"] = path
    if workload == "stream":
        inp.meta["per_slice"] = _stage_slices(
            rows, os.path.join(d, "slices"), size["slices"]
        )
        inp.meta["slices_dir"] = os.path.join(d, "slices")
    return inp


def check_provenance(inp: Inputs, scale: str) -> list[str]:
    """Failures when this (part, seed)'s digests differ from the pinned
    ones.  Seeds provenance.json does not list are not checked."""
    if scale != "full" or not os.path.exists(PROVENANCE):
        return []
    with open(PROVENANCE) as f:
        pinned = json.load(f).get(inp.workload, {}).get(str(inp.seed))
    if pinned is None:
        return []
    return [
        f"input {k} digest {inp.digests.get(k)} != pinned {v} "
        f"(the generator changed: the workload is no longer the one measured)"
        for k, v in pinned.items()
        if inp.digests.get(k) != v
    ]


def _record(work: str) -> None:
    out: dict = {
        "_note": "sha256 of each generated input per (part, seed) at "
        "scale 'full'; rewrite with: python3 perfbench/inputs.py --record",
        "_sizes": SIZES["full"],
    }
    tmp = os.path.join(work, "record")
    for wl in SIZES["full"]:
        out[wl] = {
            str(s): generate(wl, s, tmp).digests for s in RECORDED_SEEDS
        }
    shutil.rmtree(tmp)
    with open(PROVENANCE, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if sys.argv[1:] != ["--record"]:
        sys.exit("usage: python3 perfbench/inputs.py --record")
    root = os.path.dirname(HERE)
    sys.path.insert(0, root)
    _record(os.path.join(root, ".bench", "perfbench"))
