"""Embedding similarity search: exact brute-force top-k and LSH-bucketed ANN.

The scale path mirrors the reference's batch-matcher design: the CUDA LZSS
matcher gives every position an independent "find my best earlier match"
task over a bounded window (/root/reference/libs/lzsslib/src/matchers/
matcher_cuda.cu:32-100); here every query vector gets an independent
"find my top-k neighbours" task over a candidate set.  Exact search bounds
the candidate set by blocking (whole index broadcast per task, numpy GEMM);
the ANN variant bounds it by random-hyperplane LSH buckets — the same
bucket-then-verify shape as the MinHash/LSH text path (operators/lsh.py).

All vector math is float64 numpy inside ``mapInPandas`` (Arrow-batched; no
per-row Python); similarities are ROUND(…, 6) to match the DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup_gpu_stream_parallelism_spark.session import local_frame

TOPK_SCHEMA = "vec_id bigint, neighbor_id bigint, rank int, cosine double"


def _empty_topk(spark) -> DataFrame:
    return local_frame(spark, [], TOPK_SCHEMA)


def _normalized_matrix(pdf: pd.DataFrame, id_col: str, vec_col: str):
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    return ids, mat / norms[:, None]


def _blocked_topk(src: DataFrame, k: int, n_blocks: int) -> DataFrame:
    """Exact distributed top-k: every (query block, index block) pair is one
    cogrouped GEMM task emitting block-local top-k; a global per-vector
    re-rank merges them.  Correct because any global top-k neighbour is in
    its own block's local top-k.  No driver collect, no broadcast; FLOPs
    stay O(n²) — that is what exact all-pairs ranking costs (sub-quadratic
    path: ``ann_lsh_topk``)."""
    from pyspark.sql import Window

    spark = src.sparkSession
    blocked = src.withColumn(
        "blk", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int")
    )
    pairs_list = [(i, j) for i in range(n_blocks) for j in range(n_blocks)]
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
        F.col("vec_id").alias("rvec_id"),
        F.col("vec").alias("rvec"),
    )

    def gemm_topk(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"vec_id": [], "neighbor_id": [], "cosine": []}
        ).astype({"vec_id": "int64", "neighbor_id": "int64", "cosine": "float64"})
        if not len(lpdf) or not len(rpdf):
            return empty
        q_ids, q_mat = _normalized_matrix(lpdf, "vec_id", "vec")
        i_ids, i_mat = _normalized_matrix(rpdf, "rvec_id", "rvec")
        sims = np.round(q_mat @ i_mat.T, 6)
        # self-similarity never enters top-k
        self_mask = q_ids[:, None] == i_ids[None, :]
        sims[self_mask] = -np.inf
        kk = min(k, sims.shape[1])
        order = np.lexsort(
            (np.broadcast_to(i_ids, sims.shape), -sims), axis=1
        )[:, :kk]
        rows = np.repeat(q_ids, kk)
        cos = sims[np.arange(len(q_ids))[:, None], order].ravel()
        keep = cos > -np.inf
        return pd.DataFrame(
            {
                "vec_id": rows[keep],
                "neighbor_id": i_ids[order].ravel()[keep],
                "cosine": cos[keep],
            }
        )

    local = (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInPandas(
            gemm_topk, schema="vec_id bigint, neighbor_id bigint, cosine double"
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", "cosine")
    )


def cosine_topk(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "auto",
    n_blocks: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbours for every vector (self excluded).

    ``strategy="auto"`` (default): one cheap ``count()`` picks the kernel —
    the broadcast fast path below ``BROADCAST_MAX_ROWS``, the fully
    distributed blocked kernel above it.  ``"blocked"``: block-matrix
    ranking with no driver collect at any size (``_blocked_topk``) — the
    100 TB plan shape.  ``"broadcast"``: index collected once on the driver
    and broadcast (read-only numpy matrix) to every task; queries stream
    through ``mapInPandas`` with one float64 GEMM per Arrow batch; refuses
    above ``BROADCAST_MAX_ROWS``.  Beyond exact budgets, ``ann_lsh_topk``
    is the sub-quadratic path.

    Ties broken by neighbor_id ascending (matches the SQL oracle's
    ORDER BY cosine DESC, neighbor_id).
    """
    spark = emb.sparkSession
    src = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    if strategy == "auto":
        strategy = "broadcast" if src.count() <= BROADCAST_MAX_ROWS else "blocked"
    if strategy == "blocked":
        return _blocked_topk(src, k, n_blocks)
    if strategy != "broadcast":
        raise ValueError(f"unknown strategy {strategy!r}")
    # index must be id-sorted: self-exclusion uses searchsorted
    index_pdf = src.toPandas().sort_values("vec_id").reset_index(drop=True)
    if len(index_pdf) == 0:
        return _empty_topk(spark)
    if len(index_pdf) > BROADCAST_MAX_ROWS:
        raise ValueError(
            f"broadcast strategy refused: {len(index_pdf)} rows > "
            f"{BROADCAST_MAX_ROWS}; use strategy='blocked'"
        )
    idx_ids, idx_mat = _normalized_matrix(index_pdf, "vec_id", "vec")
    bc = spark.sparkContext.broadcast((idx_ids, idx_mat))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_i, mat_i = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            q_ids, q_mat = _normalized_matrix(pdf, "vec_id", "vec")
            sims = q_mat @ mat_i.T  # (batch, index)
            # self-match → -inf so it never enters top-k
            self_pos = np.searchsorted(ids_i, q_ids)
            in_range = (self_pos < ids_i.shape[0]) & (
                ids_i[np.minimum(self_pos, ids_i.shape[0] - 1)] == q_ids
            )
            sims[np.nonzero(in_range)[0], self_pos[in_range]] = -np.inf
            kk = min(k, sims.shape[1] - 1)
            if kk <= 0:
                continue
            # top-k with (cosine desc, neighbor_id asc) tie-break:
            # lexsort on (-sims rounded, ids) per row
            rounded = np.round(sims, 6)
            order = np.lexsort(
                (np.broadcast_to(ids_i, rounded.shape), -rounded), axis=1
            )[:, :kk]
            rows = np.repeat(q_ids, kk)
            yield pd.DataFrame(
                {
                    "vec_id": rows,
                    "neighbor_id": ids_i[order].ravel(),
                    "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), len(q_ids)),
                    "cosine": np.round(sims, 6)[
                        np.arange(len(q_ids))[:, None], order
                    ].ravel(),
                }
            )

    return src.mapInPandas(gen, schema=TOPK_SCHEMA)


def ann_lsh_topk(
    emb: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH.

    ``n_tables`` independent hash tables of ``n_planes`` hyperplanes each;
    a vector lands in one bucket per table (bucket key = (table, sign
    bits)).  Exact GEMM search inside each bucket, then a global re-rank
    merges per-table candidates: groupBy(vec, neighbor) dedup + window
    top-k.  Shuffles: one groupBy on the bucket key (rows replicated
    n_tables-fold) + one on vec_id for the merge — the distributable path
    when the index cannot be broadcast.  Recall ≈ 1-(1-p^b)^L per neighbour
    with p = 1-θ/π; raise n_tables (cost linear) or lower n_planes (bucket
    sizes grow) to trade cost for recall.  Size n_planes from the index
    count with ``derive_lsh_planes`` (the shipping driver queries do).

    Approximate by construction → no SQL oracle (driver rows-only check);
    tests assert recall against ``cosine_topk``.
    """
    from pyspark.sql import Window

    spark = emb.sparkSession
    src = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    if dim is None:
        first = src.select(F.size("vec").alias("d")).first()
        dim = int(first["d"]) if first else 0
    rs = np.random.RandomState(seed)
    planes = rs.standard_normal((n_tables, n_planes, dim))
    bc_planes = spark.sparkContext.broadcast(planes)

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pl = bc_planes.value
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            ids, mat = _normalized_matrix(pdf, "vec_id", "vec")
            frames = []
            for t in range(n_tables):
                signs = (mat @ pl[t].T) >= 0.0  # (n, planes)
                out = pdf[["vec_id", "vec"]].copy()
                # bucket key: table id in the high bits, sign bits low
                out["bucket"] = (signs @ weights) | (np.int64(t) << n_planes)
                frames.append(out)
            yield pd.concat(frames, ignore_index=True)

    bucketed = src.mapInPandas(
        bucketize, schema="vec_id bigint, vec array<float>, bucket bigint"
    )

    def per_bucket(key, pdf):
        ids, mat = _normalized_matrix(pdf, "vec_id", "vec")
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {"vec_id": [], "neighbor_id": [], "rank": [], "cosine": []}
            ).astype(
                {
                    "vec_id": "int64",
                    "neighbor_id": "int64",
                    "rank": "int32",
                    "cosine": "float64",
                }
            )
        sims = mat @ mat.T
        np.fill_diagonal(sims, -np.inf)
        kk = min(k, n - 1)
        rounded = np.round(sims, 6)
        order = np.lexsort((np.broadcast_to(ids, sims.shape), -rounded), axis=1)[:, :kk]
        return pd.DataFrame(
            {
                "vec_id": np.repeat(ids, kk),
                "neighbor_id": ids[order].ravel(),
                "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), n),
                "cosine": rounded[np.arange(n)[:, None], order].ravel(),
            }
        )

    per_table = bucketed.groupBy("bucket").applyInPandas(per_bucket, schema=TOPK_SCHEMA)
    # merge across tables: dedup candidate pairs, re-rank globally per vector
    merged = per_table.groupBy("vec_id", "neighbor_id").agg(
        F.max("cosine").alias("cosine")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        merged.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", "cosine")
    )


PAIRS_SCHEMA = "a_id bigint, b_id bigint, cosine double"

# Above this row count the broadcast strategies refuse and the blocked
# (fully distributed, no driver collect) kernel takes over.
BROADCAST_MAX_ROWS = 100_000

# Expected LSH bucket size the derived plane count targets; the in-bucket
# GEMM cost per task is then ~TARGET_BUCKET² regardless of index size.
TARGET_BUCKET = 256


def derive_lsh_planes(n: int, target_bucket: int = TARGET_BUCKET,
                      max_planes: int = 24) -> int:
    """Scale-correct hyperplane count: n_planes ≈ log2(n / target_bucket),
    clamped to [2, max_planes], so the expected bucket size stays
    ~``target_bucket`` as the index grows (the ANN scale contract — 2^20
    vectors → 12 planes, 2^30 → 22).  Recall per table falls as planes rise;
    compensate with n_tables (cost linear), per the docstrings below."""
    import math

    if n <= target_bucket:
        return 2
    return max(2, min(max_planes, math.ceil(math.log2(n / target_bucket))))


def derive_ivf_params(n: int, probe_frac: float = 0.12,
                      max_centroids: int = 65_536) -> tuple[int, int]:
    """IVF sizing: n_centroids ≈ sqrt(n) (classic IVF balance: bucket size
    ≈ centroid count), n_probe ≈ probe_frac of the centroids (≥4).  Keeps
    per-bucket GEMM and the centroid table both O(sqrt n)."""
    import math

    n_centroids = max(4, min(max_centroids, int(math.isqrt(max(1, n)))))
    n_probe = max(4, math.ceil(probe_frac * n_centroids))
    return n_centroids, n_probe


def _blocked_threshold_pairs(
    src: DataFrame, threshold: float, n_blocks: int
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via a distributed block matrix.

    Rows are hashed into ``n_blocks`` blocks; every block pair (bi <= bj)
    becomes one cogrouped task running a float64 GEMM over the two blocks.
    No driver collect, no broadcast of the index: shuffle volume is
    ~(n_blocks/2)·rows·dim, peak task memory two blocks.  FLOPs stay O(n²)
    — that is what *exact* all-pairs costs; the sub-quadratic scale path is
    ``ann_near_dup_pairs`` (bucketed, approximate).
    """
    spark = src.sparkSession
    blocked = src.withColumn(
        "blk", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int")
    )
    pairs_list = [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)]
    left = (
        blocked.join(
            local_frame(spark, pairs_list, "l_bi int, l_bj int"),
            blocked["blk"] == F.col("l_bi"),
        )
        .select(
            F.col("l_bi").alias("bi"), F.col("l_bj").alias("bj"), "vec_id", "vec"
        )
    )
    right = (
        blocked.join(
            local_frame(spark, pairs_list, "r_bi int, r_bj int"),
            blocked["blk"] == F.col("r_bj"),
        )
        .select(
            F.col("r_bi").alias("bi"),
            F.col("r_bj").alias("bj"),
            # fresh exprIds so the self-join cogroup is unambiguous
            F.col("vec_id").alias("rvec_id"),
            F.col("vec").alias("rvec"),
        )
    )

    def gemm(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(lpdf) or not len(rpdf):
            return pd.DataFrame({"a_id": [], "b_id": [], "cosine": []}).astype(
                {"a_id": "int64", "b_id": "int64", "cosine": "float64"}
            )
        l_ids, l_mat = _normalized_matrix(lpdf, "vec_id", "vec")
        r_ids, r_mat = _normalized_matrix(rpdf, "rvec_id", "rvec")
        sims = np.round(l_mat @ r_mat.T, 6)
        if key[0] == key[1]:
            # diagonal block: both sides are the same rows — keep l < r so
            # each unordered pair (and the self diagonal) is emitted once
            keep = (sims >= threshold) & (l_ids[:, None] < r_ids[None, :])
        else:
            # off-diagonal: the two sides are disjoint blocks and the block
            # pair (bi < bj) exists only once — keep everything
            keep = sims >= threshold
        li, ri = np.nonzero(keep)
        lo = np.minimum(l_ids[li], r_ids[ri])
        hi = np.maximum(l_ids[li], r_ids[ri])
        return pd.DataFrame({"a_id": lo, "b_id": hi, "cosine": sims[li, ri]})

    # each unordered pair lands in exactly one cogroup task → no distinct
    return (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInPandas(gemm, schema=PAIRS_SCHEMA)
    )


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
    from pyspark.sql import Window

    spark = emb.sparkSession
    src = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))

    # deterministic seed centroids: no sampling RNG, no external data
    seed_rows = (
        src.withColumn("_h", F.xxhash64("vec_id", F.lit(seed)))
        .orderBy("_h")
        .limit(n_centroids)
        .collect()
    )
    if not seed_rows:
        return _empty_topk(spark)
    cent = np.array(
        [np.asarray(r["vec"], dtype=np.float64) for r in seed_rows]
    )
    cent /= np.maximum(np.linalg.norm(cent, axis=1), 1e-12)[:, None]

    def assign_factory(centroids: np.ndarray, out_col: str):
        bc = spark.sparkContext.broadcast(centroids)

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            c = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                ids, mat = _normalized_matrix(pdf, "vec_id", "vec")
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
        # expression per dimension (a 1024-wide Catalyst plan at dim=1024).
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
    ).select(
        F.col("vec_id").alias("ivec_id"),
        F.col("vec").alias("ivec"),
        "centroid",
    )

    # queries replicate to their n_probe nearest centroids
    bc_cent = spark.sparkContext.broadcast(cent)
    probe = min(n_probe, cent.shape[0])

    def probe_gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc_cent.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids, mat = _normalized_matrix(pdf, "vec_id", "vec")
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

    def per_bucket(key, qpdf: pd.DataFrame, ipdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"vec_id": [], "neighbor_id": [], "cosine": []}
        ).astype({"vec_id": "int64", "neighbor_id": "int64", "cosine": "float64"})
        if not len(qpdf) or not len(ipdf):
            return empty
        q_ids, q_mat = _normalized_matrix(qpdf, "vec_id", "vec")
        i_ids, i_mat = _normalized_matrix(ipdf, "ivec_id", "ivec")
        sims = np.round(q_mat @ i_mat.T, 6)
        sims[q_ids[:, None] == i_ids[None, :]] = -np.inf
        kk = min(k, sims.shape[1])
        order = np.lexsort((np.broadcast_to(i_ids, sims.shape), -sims), axis=1)[:, :kk]
        rows = np.repeat(q_ids, kk)
        cos = sims[np.arange(len(q_ids))[:, None], order].ravel()
        keep = cos > -np.inf
        return pd.DataFrame(
            {
                "vec_id": rows[keep],
                "neighbor_id": i_ids[order].ravel()[keep],
                "cosine": cos[keep],
            }
        )

    local = (
        queries.groupBy("centroid")
        .cogroup(index.groupBy("centroid"))
        .applyInPandas(
            per_bucket, schema="vec_id bigint, neighbor_id bigint, cosine double"
        )
    )
    merged = local.groupBy("vec_id", "neighbor_id").agg(
        F.max("cosine").alias("cosine")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        merged.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", "cosine")
    )


def cosine_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.55,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "blocked",
    n_blocks: int = 8,
) -> DataFrame:
    """(a_id, b_id, cosine) for every pair with rounded cosine >= threshold
    (a_id < b_id) — exact.

    ``strategy``:

    * ``"blocked"`` (default) — distributed block-matrix GEMM
      (``_blocked_threshold_pairs``): no driver collect, no broadcast;
      works at any index size the cluster can hold.
    * ``"broadcast"`` — collect+broadcast the index (the fast small-side
      kernel); refuses above ``BROADCAST_MAX_ROWS`` so the scale-killer
      path cannot be hit silently.
    """
    src = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    if strategy == "blocked":
        return _blocked_threshold_pairs(src, threshold, n_blocks)
    if strategy != "broadcast":
        raise ValueError(f"unknown strategy {strategy!r}")

    spark = emb.sparkSession
    index_pdf = src.toPandas().sort_values("vec_id").reset_index(drop=True)
    if len(index_pdf) == 0:
        return local_frame(spark, [], PAIRS_SCHEMA)
    if len(index_pdf) > BROADCAST_MAX_ROWS:
        raise ValueError(
            f"broadcast strategy refused: {len(index_pdf)} rows > "
            f"{BROADCAST_MAX_ROWS}; use strategy='blocked'"
        )
    idx_ids, idx_mat = _normalized_matrix(index_pdf, "vec_id", "vec")
    bc = spark.sparkContext.broadcast((idx_ids, idx_mat))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_i, mat_i = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            q_ids, q_mat = _normalized_matrix(pdf, "vec_id", "vec")
            sims = np.round(q_mat @ mat_i.T, 6)
            keep = (sims >= threshold) & (q_ids[:, None] < ids_i[None, :])
            qi, ii = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "a_id": q_ids[qi],
                    "b_id": ids_i[ii],
                    "cosine": sims[qi, ii],
                }
            )

    return src.mapInPandas(gen, schema=PAIRS_SCHEMA)


def ann_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.55,
    n_planes: int = 4,
    n_tables: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
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
    spark = emb.sparkSession
    src = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    if dim is None:
        first = src.select(F.size("vec").alias("d")).first()
        dim = int(first["d"]) if first else 0
    rs = np.random.RandomState(seed)
    planes = rs.standard_normal((n_tables, n_planes, dim))
    bc_planes = spark.sparkContext.broadcast(planes)

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pl = bc_planes.value
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            ids, mat = _normalized_matrix(pdf, "vec_id", "vec")
            frames = []
            for t in range(n_tables):
                signs = (mat @ pl[t].T) >= 0.0
                out = pdf[["vec_id", "vec"]].copy()
                out["bucket"] = (signs @ weights) | (np.int64(t) << n_planes)
                frames.append(out)
            yield pd.concat(frames, ignore_index=True)

    bucketed = src.mapInPandas(
        bucketize, schema="vec_id bigint, vec array<float>, bucket bigint"
    )

    def per_bucket(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if max_bucket is not None and len(pdf) > max_bucket:
            pdf = pdf.sort_values("vec_id").head(max_bucket)
        ids, mat = _normalized_matrix(pdf, "vec_id", "vec")
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"a_id": [], "b_id": [], "cosine": []}).astype(
                {"a_id": "int64", "b_id": "int64", "cosine": "float64"}
            )
        sims = np.round(mat @ mat.T, 6)
        keep = (sims >= threshold) & (ids[:, None] < ids[None, :])
        li, ri = np.nonzero(keep)
        return pd.DataFrame(
            {"a_id": ids[li], "b_id": ids[ri], "cosine": sims[li, ri]}
        )

    found = bucketed.groupBy("bucket").applyInPandas(per_bucket, schema=PAIRS_SCHEMA)
    return found.groupBy("a_id", "b_id").agg(F.max("cosine").alias("cosine"))


def embedding_near_dup_clusters(
    emb: DataFrame,
    threshold: float = 0.55,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """(vec_id, cluster_id): connected components over the cosine>=threshold
    graph — embedding-space near-dup dedup, same clustering contract as the
    text pipeline.  Pair generation is the exact blocked kernel: fully
    distributed, no driver collect at any size."""
    from dedup_gpu_stream_parallelism_spark.operators.cluster import (
        clusters_from_pairs,
    )

    pairs = cosine_near_dup_pairs(
        emb, threshold, id_col, vec_col, strategy="blocked", n_blocks=n_blocks
    )
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
