"""Embedding similarity: exact top-k sanity + ANN recall vs exact."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dedup_gpu_stream_parallelism_spark.operators import similarity as sim

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def numpy_sims(emb):
    """Reference: ids sorted ascending and the full rounded cosine matrix."""
    pdf = emb.toPandas().sort_values("vec_id").reset_index(drop=True)
    ids = pdf["vec_id"].to_numpy()
    mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    mat = mat / np.linalg.norm(mat, axis=1)[:, None]
    return ids, np.round(mat @ mat.T, 6)


def test_cosine_topk_exact_vs_numpy(spark, emb, numpy_sims):
    """Ids, ranks and rounded cosines equal the numpy reference at every
    block count (n_blocks=1: the diagonal block pair only)."""
    ids, sims = numpy_sims
    sims = sims.copy()
    np.fill_diagonal(sims, -np.inf)
    for n_blocks in (1, 3, 4):
        got = sim.cosine_topk(emb, k=3, n_blocks=n_blocks).collect()
        by_query = {}
        for r in got:
            by_query.setdefault(r.vec_id, []).append((r.rank, r.neighbor_id, r.cosine))
        assert set(by_query) == set(ids.tolist()), n_blocks
        for qi, qid in enumerate(ids):
            want_order = np.lexsort((ids, -sims[qi]))[:3]
            got_rows = sorted(by_query[qid])
            assert [rk for rk, _, _ in got_rows] == [1, 2, 3], n_blocks
            assert [n for _, n, _ in got_rows] == ids[want_order].tolist(), n_blocks
            for (_, _, c), wi in zip(got_rows, want_order):
                assert abs(c - sims[qi, wi]) < 1e-9, n_blocks


def test_cosine_near_dup_pairs_exact_vs_numpy(spark, emb, numpy_sims):
    """The blocked pair set equals the numpy reference — ids, rounded
    cosines, a_id < b_id, each pair once — at every block count."""
    ids, sims = numpy_sims
    ai, bi = np.nonzero(np.triu(sims >= 0.4, k=1))
    want = {(int(ids[a]), int(ids[b])): sims[a, b] for a, b in zip(ai, bi)}
    assert want
    for n_blocks in (1, 5, 8):
        rows = sim.cosine_near_dup_pairs(emb, threshold=0.4, n_blocks=n_blocks).collect()
        got = {(r.a_id, r.b_id): r.cosine for r in rows}
        assert len(got) == len(rows), n_blocks
        assert all(a < b for a, b in got), n_blocks
        assert got.keys() == want.keys(), n_blocks
        assert all(abs(got[p] - want[p]) < 1e-9 for p in want), n_blocks


def test_near_dup_clusters_reject_duplicate_ids(spark, emb):
    """Clustering assumes unique ids; a repeated vec_id must fail the query
    instead of emitting two cluster rows for one id."""
    dup = emb.unionByName(emb.orderBy("vec_id").limit(1))
    with pytest.raises(Exception, match="duplicate vec_id"):
        sim.embedding_near_dup_clusters(dup, threshold=0.4).collect()


def test_cosine_topk_shape(spark, emb):
    n = emb.count()
    df = sim.cosine_topk(emb, k=5)
    assert df.count() == n * 5
    assert df.groupBy("vec_id").count().where("count <> 5").count() == 0
    # no self matches
    assert df.where(F.col("vec_id") == F.col("neighbor_id")).count() == 0


def test_ann_recall_vs_exact(spark, emb):
    """Recall@5 of multi-table ANN against exact top-5 on RANDOM vectors —
    the hardest case for hyperplane LSH (neighbours are near-orthogonal).
    4 planes x 8 tables must clear a meaningful floor; ranks must be a
    gapless 1..k per vector."""
    exact = {
        (r.vec_id, r.neighbor_id)
        for r in sim.cosine_topk(emb, k=5).collect()
    }
    ann_rows = sim.ann_lsh_topk(emb, k=5, n_planes=4, n_tables=8).collect()
    ann = {(r.vec_id, r.neighbor_id) for r in ann_rows}
    recall = len(exact & ann) / len(exact)
    assert recall >= 0.5, recall
    by_vec = {}
    for r in ann_rows:
        by_vec.setdefault(r.vec_id, []).append(r.rank)
    for ranks in by_vec.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_embedding_stats_values(spark, emb):
    rows = sim.embedding_stats(emb).orderBy("vec_id").limit(20).collect()
    pdf = emb.orderBy("vec_id").limit(20).toPandas()
    for r, (_, p) in zip(rows, pdf.iterrows()):
        v = np.asarray(p["embedding"], dtype=np.float64)
        assert r.dim == v.shape[0]
        assert abs(r.l2_norm - round(float(np.sqrt((v * v).sum())), 6)) < 1e-6
        assert abs(r.mean_val - round(float(v.sum() / len(v)), 6)) < 1e-6


def test_ann_near_dup_recall(spark, emb):
    """Bucketed approximate pairs: precision must be 1 (exact in-bucket
    verify) and recall against the exact pair set meaningful."""
    exact = {
        (r.a_id, r.b_id)
        for r in sim.cosine_near_dup_pairs(emb, threshold=0.4).collect()
    }
    ann = {
        (r.a_id, r.b_id)
        for r in sim.ann_near_dup_pairs(
            emb, threshold=0.4, n_planes=4, n_tables=16
        ).collect()
    }
    assert ann <= exact  # precision 1
    assert len(ann & exact) / max(1, len(exact)) >= 0.5


def test_ann_recall_at_derived_params(spark, emb):
    """The SHIPPING parameterization: n_planes derived from the index count
    (expected bucket ~TARGET_BUCKET) — recall must clear the same floor the
    fixed-param test uses, and the max_bucket backstop must not break
    precision 1."""
    n = emb.count()
    planes = sim.derive_lsh_planes(n)
    assert planes == max(2, min(24, int(np.ceil(np.log2(max(n, 257) / 256)))))
    exact_topk = {
        (r.vec_id, r.neighbor_id) for r in sim.cosine_topk(emb, k=5).collect()
    }
    ann_topk = {
        (r.vec_id, r.neighbor_id)
        for r in sim.ann_lsh_topk(emb, k=5, n_planes=planes, n_tables=8).collect()
    }
    assert len(exact_topk & ann_topk) / len(exact_topk) >= 0.5

    exact_pairs = {
        (r.a_id, r.b_id)
        for r in sim.cosine_near_dup_pairs(emb, threshold=0.4).collect()
    }
    ann_pairs = {
        (r.a_id, r.b_id)
        for r in sim.ann_near_dup_pairs(
            emb, threshold=0.4, n_planes=planes, n_tables=16,
            max_bucket=8 * sim.TARGET_BUCKET,
        ).collect()
    }
    assert ann_pairs <= exact_pairs  # precision 1 with the cap on
    assert len(ann_pairs & exact_pairs) / max(1, len(exact_pairs)) >= 0.5


def test_ivf_recall_at_derived_params(spark, emb):
    """IVF at the shipping sqrt(n)-centroid parameterization."""
    n_centroids, n_probe = sim.derive_ivf_params(emb.count())
    assert n_centroids == int(np.sqrt(emb.count()))
    exact = {
        (r.vec_id, r.neighbor_id) for r in sim.cosine_topk(emb, k=5).collect()
    }
    rows = sim.ivf_topk(
        emb, k=5, n_centroids=n_centroids, n_probe=n_probe
    ).collect()
    got = {(r.vec_id, r.neighbor_id) for r in rows}
    assert len(got & exact) / len(exact) >= 0.4


def test_ivf_topk_recall_vs_exact(spark, emb):
    """IVF ANN: ranks gapless 1..k per vector; recall@5 vs exact must clear
    the same floor as hyperplane LSH on random vectors; results are a
    subset of valid (non-self) pairs."""
    exact = {
        (r.vec_id, r.neighbor_id)
        for r in sim.cosine_topk(emb, k=5).collect()
    }
    rows = sim.ivf_topk(emb, k=5, n_centroids=16, n_probe=6).collect()
    assert rows
    got = {(r.vec_id, r.neighbor_id) for r in rows}
    assert all(a != b for a, b in got)
    recall = len(got & exact) / len(exact)
    assert recall >= 0.5, recall
    by_vec = {}
    for r in rows:
        by_vec.setdefault(r.vec_id, []).append(r.rank)
    for ranks in by_vec.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
