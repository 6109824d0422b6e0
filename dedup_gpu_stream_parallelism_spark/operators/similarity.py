"""Embedding similarity search: exact blocked search and bucketed ANN.

The scale path mirrors the reference's batch-matcher design: the CUDA LZSS
matcher gives every position an independent "find my best earlier match"
task over a bounded window (reference libs/lzsslib/src/matchers/
matcher_cuda.cu:32-100); here every query vector gets an independent
"find my top-k neighbours" task over a bounded candidate set: hash-block
pairs (exact), hyperplane-LSH or IVF centroid buckets (ANN, the
bucket-then-verify shape of operators/lsh.py).  Every candidate set is
scored by ``_topk`` or ``_pairs``; a new ANN scheme only adds bucketing.

All vector math is float64 numpy in Arrow-batched pandas UDFs; similarities
are ROUND(…, 6) to match the DuckDB oracle.  Building a query launches no
Spark job, except ``ivf_topk`` (its centroid table is driver-collected).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dedup_gpu_stream_parallelism_spark.session import local_frame

TOPK_SCHEMA = "vec_id bigint, neighbor_id bigint, rank int, cosine double"
PAIRS_SCHEMA = "a_id bigint, b_id bigint, cosine double"
# block- or bucket-local top-k candidates, before the global re-rank
_SCORED_SCHEMA = "vec_id bigint, neighbor_id bigint, cosine double"

# Expected LSH bucket size the derived plane count targets; the in-bucket
# GEMM cost per task is then ~TARGET_BUCKET² regardless of index size.
TARGET_BUCKET = 256
MAX_LSH_PLANES = 24
# IVF: share of the centroids each query probes, and the centroid-count cap
IVF_PROBE_FRAC = 0.12
MAX_IVF_CENTROIDS = 65_536


def _vectors(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))


def _normalized_matrix(pdf: pd.DataFrame, id_col="vec_id", vec_col="vec"):
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    return ids, mat / norms[:, None]


def _topk(q, i, k: int) -> pd.DataFrame:
    """Top-k of index ``i`` for every query row of ``q`` (each an
    ``(ids, unit matrix)`` pair): self excluded, ordered by rounded cosine
    desc then neighbor_id asc (the SQL oracle's ORDER BY), so a global
    re-rank of block-local top-k lists is exact."""
    (q_ids, q_mat), (i_ids, i_mat) = q, i
    sims = np.round(q_mat @ i_mat.T, 6)
    sims[q_ids[:, None] == i_ids[None, :]] = -np.inf
    kk = min(k, sims.shape[1])
    order = np.lexsort((np.broadcast_to(i_ids, sims.shape), -sims), axis=1)[:, :kk]
    cos = sims[np.arange(len(q_ids))[:, None], order].ravel()
    keep = cos > -np.inf
    return pd.DataFrame(
        {
            "vec_id": np.repeat(q_ids, kk)[keep],
            "neighbor_id": i_ids[order].ravel()[keep],
            "cosine": cos[keep],
        }
    )


def _pairs(l, r, threshold: float) -> pd.DataFrame:
    """Every (a_id < b_id) pair with rounded cosine >= threshold between the
    ``(ids, unit matrix)`` sides ``l`` and ``r``.  ``r=None`` scores ``l``
    against itself, keeping each unordered pair once (and no self pair)."""
    l_ids, l_mat = l
    r_ids, r_mat = l if r is None else r
    sims = np.round(l_mat @ r_mat.T, 6)
    keep = sims >= threshold
    if r is None:
        keep &= l_ids[:, None] < r_ids[None, :]
    li, ri = np.nonzero(keep)
    return pd.DataFrame(
        {
            "a_id": np.minimum(l_ids[li], r_ids[ri]),
            "b_id": np.maximum(l_ids[li], r_ids[ri]),
            "cosine": sims[li, ri],
        }
    )


def _rank(scored: DataFrame, k: int) -> DataFrame:
    """Global per-vector re-rank of candidate (vec_id, neighbor_id, cosine)
    rows with the ``_topk`` order; each pair must appear once."""
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", "cosine")
    )


def _block_sides(src: DataFrame, n_blocks: int, upper_only: bool):
    """Rows hashed into ``n_blocks`` blocks; every block pair (bi, bj) —
    only bi <= bj when ``upper_only`` — becomes one cogroup key whose left
    side holds block bi as (vec_id, vec) and right side block bj as
    (rvec_id, rvec).  Replicated through joins with a driver-built pair
    list: no driver collect, no broadcast of the index; shuffle volume is
    ~n_blocks·rows·dim, peak task memory two blocks."""
    spark = src.sparkSession
    blocked = src.withColumn(
        "blk", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int")
    )
    pairs_list = [
        (i, j) for i in range(n_blocks) for j in range(i if upper_only else 0, n_blocks)
    ]
    left = blocked.join(
        local_frame(spark, pairs_list, "l_bi int, l_bj int"),
        blocked["blk"] == F.col("l_bi"),
    ).select(F.col("l_bi").alias("bi"), F.col("l_bj").alias("bj"), "vec_id", "vec")
    right = blocked.join(
        local_frame(spark, pairs_list, "r_bi int, r_bj int"),
        blocked["blk"] == F.col("r_bj"),
    ).select(
        F.col("r_bi").alias("bi"),
        F.col("r_bj").alias("bj"),
        # fresh exprIds so the self-join cogroup is unambiguous
        F.col("vec_id").alias("rvec_id"),
        F.col("vec").alias("rvec"),
    )
    return left.groupBy("bi", "bj").cogroup(right.groupBy("bi", "bj"))


def _hyperplane_buckets(src: DataFrame, n_planes: int, n_tables: int,
                        seed: int) -> DataFrame:
    """Replicate every vector into one bucket per table: bucket key = table
    id in the high bits, ``n_planes`` hyperplane sign bits low.  The planes
    are drawn inside the UDF from ``seed`` at the batch's width, so every
    task draws the same planes with no driver-side probe for the width."""
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            _, mat = _normalized_matrix(pdf)
            planes = np.random.RandomState(seed).standard_normal(
                (n_tables, n_planes, mat.shape[1])
            )
            frames = []
            for t in range(n_tables):
                out = pdf[["vec_id", "vec"]].copy()
                signs = (mat @ planes[t].T) >= 0.0  # (n, planes)
                out["bucket"] = (signs @ weights) | (np.int64(t) << n_planes)
                frames.append(out)
            yield pd.concat(frames, ignore_index=True)

    return src.mapInPandas(
        bucketize, schema="vec_id bigint, vec array<float>, bucket bigint"
    )


def derive_lsh_planes(n: int) -> int:
    """Scale-correct hyperplane count: n_planes ≈ log2(n / TARGET_BUCKET),
    clamped to [2, MAX_LSH_PLANES], so the expected bucket size stays
    ~TARGET_BUCKET as the index grows (the ANN scale contract — 2^20
    vectors → 12 planes, 2^30 → 22).  Recall per table falls as planes rise;
    compensate with n_tables (cost linear), per the docstrings below."""
    if n <= TARGET_BUCKET:
        return 2
    return max(2, min(MAX_LSH_PLANES, math.ceil(math.log2(n / TARGET_BUCKET))))


def derive_ivf_params(n: int) -> tuple[int, int]:
    """IVF sizing: n_centroids ≈ sqrt(n) (classic IVF balance: bucket size
    ≈ centroid count), n_probe ≈ IVF_PROBE_FRAC of the centroids (≥4).
    Keeps per-bucket GEMM and the centroid table both O(sqrt n)."""
    n_centroids = max(4, min(MAX_IVF_CENTROIDS, int(math.isqrt(max(1, n)))))
    n_probe = max(4, math.ceil(IVF_PROBE_FRAC * n_centroids))
    return n_centroids, n_probe


def cosine_topk(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbours for every vector (self excluded).

    Every (query block, index block) pair is one cogrouped GEMM task
    emitting block-local top-k; a global per-vector re-rank merges them.
    Correct because any global top-k neighbour is in its own block's local
    top-k.  No driver collect at any index size; FLOPs stay O(n²) — that
    is what exact all-pairs ranking costs (sub-quadratic path:
    ``ann_lsh_topk``).

    Ties broken by neighbor_id ascending (matches the SQL oracle's
    ORDER BY cosine DESC, neighbor_id).
    """

    def score(key: tuple, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(lpdf) or not len(rpdf):
            return pd.DataFrame()
        return _topk(
            _normalized_matrix(lpdf), _normalized_matrix(rpdf, "rvec_id", "rvec"), k
        )

    sides = _block_sides(_vectors(emb, id_col, vec_col), n_blocks, upper_only=False)
    return _rank(sides.applyInPandas(score, schema=_SCORED_SCHEMA), k)


def cosine_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.55,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "blocked",
    n_blocks: int = 8,
) -> DataFrame:
    """(a_id, b_id, cosine) for every pair with rounded cosine >= threshold
    (a_id < b_id) — exact, via the distributed block matrix: every block
    pair (bi <= bj) is one cogrouped GEMM task, and each unordered pair
    lands in exactly one task, so no distinct.  FLOPs stay O(n²); the
    sub-quadratic scale path is ``ann_near_dup_pairs``.

    Vector ids must be unique: a repeated id raises ``ValueError`` when
    the query runs (checked in the diagonal block tasks, which together
    see every row exactly once).
    """
    # "blocked" is the only kernel; the argument stays because the perfbench
    # embed workload passes it, and goes with the next benchmark change.
    if strategy != "blocked":
        raise ValueError(f"unknown strategy {strategy!r}")

    def score(key: tuple, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(lpdf) or not len(rpdf):
            return pd.DataFrame()
        left = _normalized_matrix(lpdf)
        if key[0] != key[1]:
            return _pairs(left, _normalized_matrix(rpdf, "rvec_id", "rvec"), threshold)
        if len(np.unique(left[0])) != len(left[0]):
            raise ValueError(
                "duplicate vec_id in the embedding input: ids must be unique"
            )
        return _pairs(left, None, threshold)

    sides = _block_sides(_vectors(emb, id_col, vec_col), n_blocks, upper_only=True)
    return sides.applyInPandas(score, schema=PAIRS_SCHEMA)


def ann_lsh_topk(
    emb: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH.

    ``n_tables`` independent hash tables of ``n_planes`` hyperplanes each;
    a vector lands in one bucket per table (bucket key = (table, sign
    bits)).  Exact GEMM search inside each bucket, then a global re-rank
    merges per-table candidates: groupBy(vec, neighbor) dedup + window
    top-k.  Shuffles: one groupBy on the bucket key (rows replicated
    n_tables-fold) + one on vec_id for the merge — no driver collect, no
    broadcast.  Recall ≈ 1-(1-p^b)^L per neighbour with p = 1-θ/π; raise
    n_tables (cost linear) or lower n_planes (bucket sizes grow) to trade
    cost for recall.  Size n_planes from the index count with
    ``derive_lsh_planes`` (the shipping driver queries do).

    Approximate by construction → no SQL oracle (driver rows-only check);
    tests assert recall against ``cosine_topk``.
    """

    def score(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = _normalized_matrix(pdf)
        return _topk(bucket, bucket, k)

    bucketed = _hyperplane_buckets(_vectors(emb, id_col, vec_col), n_planes, n_tables, seed)
    per_table = bucketed.groupBy("bucket").applyInPandas(score, schema=_SCORED_SCHEMA)
    # merge across tables: dedup candidate pairs, re-rank globally per vector
    merged = per_table.groupBy("vec_id", "neighbor_id").agg(
        F.max("cosine").alias("cosine")
    )
    return _rank(merged, k)


def ann_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.55,
    n_planes: int = 4,
    n_tables: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate threshold pairs via multi-table hyperplane LSH (exact
    verify *within* buckets, so precision is 1; recall ≈
    1-(1-p^planes)^tables with p = 1-θ/π per pair).

    One bucket-key groupBy (rows replicated n_tables-fold) + one pair-dedup
    groupBy.  SCALE CONTRACT: expected bucket size is n / 2^n_planes per
    table, so **n_planes must grow ~log2(n)** (e.g. 2^20 vectors want
    n_planes ≈ 14-16) for the in-bucket GEMM to stay bounded — use
    ``derive_lsh_planes(n)`` (the shipping driver queries do) rather than
    the small-data default of 4.  ``max_bucket`` adds a hard cap as a
    backstop: oversized buckets are truncated to their ``max_bucket``
    smallest vec_ids (deterministic; trades recall inside viral buckets
    for a bounded worst-case task, like the LSH star cap in the text
    path — other tables still see the dropped members).
    """

    def score(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if max_bucket is not None and len(pdf) > max_bucket:
            pdf = pdf.sort_values("vec_id").head(max_bucket)
        return _pairs(_normalized_matrix(pdf), None, threshold)

    bucketed = _hyperplane_buckets(_vectors(emb, id_col, vec_col), n_planes, n_tables, seed)
    found = bucketed.groupBy("bucket").applyInPandas(score, schema=PAIRS_SCHEMA)
    return found.groupBy("a_id", "b_id").agg(F.max("cosine").alias("cosine"))


def ivf_topk(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via IVF (inverted file): the classic coarse-
    quantizer ANN — the alternative bucketing scheme to hyperplane LSH
    (``ann_lsh_topk``); same verify-exactly-within-bucket contract.

    * centroids: deterministic seed rows (n_centroids smallest
      xxhash64(vec_id)) refined by ``lloyd_iters`` distributed k-means
      steps (assignment = broadcast-centroid GEMM; update = groupBy mean —
      centroid table is tiny, driver-collected by construction);
    * index: every vector assigned to its nearest centroid → one
      groupBy(centroid) bucket table;
    * query: each vector probes its ``n_probe`` nearest centroids —
      rows replicated n_probe-fold into the bucket join, exact GEMM
      inside each bucket, global per-vector re-rank.

    Recall rises with n_probe (cost linear); at 100 TB the centroid count
    scales as sqrt(n) and the bucket groupBy stays the only big shuffle.
    Approximate by construction → rows-only driver check; recall vs exact
    asserted in tests/test_similarity.py.
    """
    spark = emb.sparkSession
    src = _vectors(emb, id_col, vec_col)

    # deterministic seed centroids: no sampling RNG, no external data
    seed_rows = (
        src.withColumn("_h", F.xxhash64("vec_id", F.lit(seed)))
        .orderBy("_h")
        .limit(n_centroids)
        .collect()
    )
    if not seed_rows:
        return local_frame(spark, [], TOPK_SCHEMA)
    cent = np.array([np.asarray(r["vec"], dtype=np.float64) for r in seed_rows])
    cent /= np.maximum(np.linalg.norm(cent, axis=1), 1e-12)[:, None]

    def assign_factory(centroids: np.ndarray, out_col: str):
        bc = spark.sparkContext.broadcast(centroids)

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            c = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                ids, mat = _normalized_matrix(pdf)
                out = pdf[["vec_id", "vec"]].copy()
                out[out_col] = np.argmax(mat @ c.T, axis=1).astype(np.int32)
                yield out

        return gen

    dim = cent.shape[1]
    for _ in range(max(0, lloyd_iters)):
        assigned = src.mapInPandas(
            assign_factory(cent, "centroid"),
            schema="vec_id bigint, vec array<float>, centroid int",
        )
        # Lloyd update as ONE narrow aggregation: posexplode to
        # (centroid, dim_pos, value) then groupBy(centroid, pos) mean —
        # the plan stays 3 expressions wide at ANY dim, vs one avg
        # expression per dimension (a 1024-wide Catalyst plan at 1024 dims).
        # The collected table is n_centroids*dim tiny rows by construction.
        means = (
            assigned.select("centroid", F.posexplode("vec").alias("pos", "x"))
            .groupBy("centroid", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        new_cent = cent.copy()
        upd: dict[int, np.ndarray] = {}
        for r in means:
            upd.setdefault(int(r["centroid"]), np.zeros(dim))[int(r["pos"])] = r["m"]
        for c, v in upd.items():
            n = np.linalg.norm(v)
            if n > 1e-12:
                new_cent[c] = v / n
        cent = new_cent

    # final index assignment with the refined centroids
    index = src.mapInPandas(
        assign_factory(cent, "centroid"),
        schema="vec_id bigint, vec array<float>, centroid int",
    ).select(F.col("vec_id").alias("ivec_id"), F.col("vec").alias("ivec"), "centroid")

    # queries replicate to their n_probe nearest centroids
    bc_cent = spark.sparkContext.broadcast(cent)
    probe = min(n_probe, cent.shape[0])

    def probe_gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc_cent.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids, mat = _normalized_matrix(pdf)
            sims = mat @ c.T
            near = np.argsort(-sims, axis=1)[:, :probe].astype(np.int32)
            rep = pdf[["vec_id", "vec"]].iloc[
                np.repeat(np.arange(len(pdf)), probe)
            ].reset_index(drop=True)
            rep["centroid"] = near.ravel()
            yield rep

    queries = src.mapInPandas(
        probe_gen, schema="vec_id bigint, vec array<float>, centroid int"
    )

    def score(key: tuple, qpdf: pd.DataFrame, ipdf: pd.DataFrame) -> pd.DataFrame:
        if not len(qpdf) or not len(ipdf):
            return pd.DataFrame()
        return _topk(
            _normalized_matrix(qpdf), _normalized_matrix(ipdf, "ivec_id", "ivec"), k
        )

    local = (
        queries.groupBy("centroid")
        .cogroup(index.groupBy("centroid"))
        .applyInPandas(score, schema=_SCORED_SCHEMA)
    )
    merged = local.groupBy("vec_id", "neighbor_id").agg(
        F.max("cosine").alias("cosine")
    )
    return _rank(merged, k)


def embedding_near_dup_clusters(
    emb: DataFrame,
    threshold: float = 0.55,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """(vec_id, cluster_id): connected components over the cosine>=threshold
    graph — embedding-space near-dup dedup, same clustering contract as the
    text pipeline (unique ids, enforced by ``cosine_near_dup_pairs``).  Pair
    generation is the exact blocked kernel: fully distributed, no driver
    collect at any size."""
    from dedup_gpu_stream_parallelism_spark.operators.cluster import (
        clusters_from_pairs,
    )

    pairs = cosine_near_dup_pairs(emb, threshold, id_col, vec_col, n_blocks=n_blocks)
    vids = emb.select(F.col(id_col).alias("doc_id"))
    return clusters_from_pairs(vids, pairs, id_col="doc_id").select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )


def embedding_stats(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Per-vector norm/moments — JVM-side higher-order functions only."""
    v = F.col(vec_col)
    dbl = F.transform(v, lambda x: x.cast("double"))
    sum_sq = F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x * x)
    total = F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x)
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.size(v).cast("bigint").alias("dim"),
        F.round(F.sqrt(sum_sq), 6).alias("l2_norm"),
        F.round(total / F.size(v), 6).alias("mean_val"),
        F.round(F.array_max(dbl), 6).alias("max_val"),
        F.round(F.array_min(dbl), 6).alias("min_val"),
    )
