"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship near-duplicate clustering pipeline on the
sf0.001 ``documents`` table.  ``queries()`` exposes one callable per
implemented operator (SURVEY.md §2); ``oracle_sql()`` gives the DuckDB-
runnable ANSI SQL twin for every SQL-expressible one.  All hash arithmetic is
integer-only and pinned (config.py), so Spark and DuckDB compute
bit-identical signatures.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dedup_gpu_stream_parallelism_spark.config import DedupConfig
from dedup_gpu_stream_parallelism_spark.operators import chunk as chunk_op
from dedup_gpu_stream_parallelism_spark.operators import exact as exact_op
from dedup_gpu_stream_parallelism_spark.operators import similarity as sim_op
from dedup_gpu_stream_parallelism_spark.operators import text as text_op
from dedup_gpu_stream_parallelism_spark.plans import duck_sql
from dedup_gpu_stream_parallelism_spark.plans.pipeline import run_pipeline

CFG = DedupConfig()


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full near-dup detection + clustering over sf0.001 documents."""
    docs = _docs(spark, "/root/testdata/sf0.001")
    res = run_pipeline(docs, CFG, id_col="doc_id", text_col="text")
    return res.clusters


# --------------------------------------------------------------------------
# queries: (spark, sf_dir) -> DataFrame.  Column names/aliases match the
# oracle SQL exactly (driver sorts columns by name before hashing).
# --------------------------------------------------------------------------


def q_exact_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_op.exact_dup_clusters(_docs(spark, sf_dir), "doc_id", "text").orderBy(
        "doc_id"
    )


def q_dedup_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_op.dedup_manifest(_docs(spark, sf_dir), "doc_id", "text").orderBy(
        "doc_id"
    )


def q_incremental_dedup_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append workflow: first half of the corpus becomes the existing
    manifest, the second half is deduped incrementally against it
    (exact.dedup_increment).  Union must equal the one-shot manifest over
    the full corpus — the oracle IS the dedup_manifest SQL."""
    docs = _docs(spark, sf_dir)
    split = docs.count() // 2
    old = docs.where(F.col("doc_id") < split)
    new = docs.where(F.col("doc_id") >= split)
    old_manifest = exact_op.dedup_manifest(old, "doc_id", "text")
    inc = exact_op.dedup_increment(old_manifest, new, "doc_id", "text")
    return old_manifest.unionByName(inc).orderBy("doc_id")


def q_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_op.dedup_stats(_docs(spark, sf_dir), "doc_id", "text")


def q_cdc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = chunk_op.chunk_documents(_docs(spark, sf_dir), CFG, "doc_id", "text")
    return chunk_op.chunk_dedup_stats(chunks)


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # pure-query shape: each stage feeds exactly one successor, so the
    # whole DAG runs as one lineage (no per-stage checkpoint+count jobs;
    # see run_pipeline's materialize doc) — results identical
    res = run_pipeline(
        docs, CFG, id_col="doc_id", text_col="text", materialize="edges"
    )
    return res.clusters.orderBy("doc_id")


def q_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data end product: filter ∧ dedup — each doc with its
    cluster id, quality flag, and keep = (cluster representative AND
    quality_ok).  Composition of the flagship pipeline with the quality
    pre-filter."""
    docs = _docs(spark, sf_dir)
    res = run_pipeline(
        docs, CFG, id_col="doc_id", text_col="text", materialize="edges"
    )
    qual = text_op.quality_score(docs).select("doc_id", "quality_ok")
    return (
        res.clusters.join(qual, "doc_id")
        .select(
            "doc_id",
            "cluster_id",
            "quality_ok",
            (
                (F.col("doc_id") == F.col("cluster_id"))
                & (F.col("quality_ok") == 1)
            ).cast("int").alias("keep"),
        )
        .orderBy("doc_id")
    )


def _signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedup_gpu_stream_parallelism_spark.functions.signatures import sign_documents

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return sign_documents(docs, text_col="text", cfg=CFG)


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_op.chunk_documents(_docs(spark, sf_dir), CFG, "doc_id", "text").orderBy(
        "doc_id", "chunk_idx"
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded (doc_id, perm, mh) matrix; empty-signature docs excluded
    (the oracle's shingle CTE has no rows for texts shorter than k)."""
    return (
        _signed(spark, sf_dir)
        .where(F.col("n_shingles") > 0)
        .select("doc_id", F.posexplode("minhash").alias("perm", "mh"))
        .orderBy("doc_id", "perm")
    )


def q_simhash_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _signed(spark, sf_dir).select("doc_id", "simhash").orderBy("doc_id")


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedup_gpu_stream_parallelism_spark.operators import simhash as simhash_op

    return simhash_op.simhash_near_dup_pairs(
        _signed(spark, sf_dir), CFG, max_hamming=7, n_chunks=8
    ).orderBy("a_id", "b_id")


def q_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedup_gpu_stream_parallelism_spark.operators import lsh as lsh_op

    banded = lsh_op.band_keys(_signed(spark, sf_dir), CFG)
    return lsh_op.candidate_pairs(banded, CFG, strategy="all_pairs").orderBy(
        "a_id", "b_id"
    )


def q_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-size histogram — the skew diagnostic that justifies the
    star cap (the reference's chunk-size histogram, encoder.h:38-44)."""
    from dedup_gpu_stream_parallelism_spark.operators import lsh as lsh_op

    banded = lsh_op.band_keys(_signed(spark, sf_dir), CFG)
    return lsh_op.bucket_stats(banded).select(
        F.col("bucket_n").cast("bigint").alias("bucket_n"), "n_buckets"
    ).orderBy("bucket_n")


def q_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-only Jaccard estimate per LSH candidate pair: the count of
    matching MinHash permutations (estimate = n_matching/128) — the cheap
    pre-verify similarity every 100 TB pipeline screens with before exact
    confirmation.  Pure JVM zip_with/filter; integer-exact for the oracle."""
    from dedup_gpu_stream_parallelism_spark.operators import lsh as lsh_op

    # Materialize the signature UDF ONCE: this query fans three branches
    # (banding + the a/b minhash joins) off the signed frame, and without a
    # checkpoint Catalyst re-executes the engine's costliest MapInPandas in
    # every branch (3x; round-5 verdict finding #1).  Narrow projection
    # first so the checkpoint holds only (doc_id, minhash).
    signed = _signed(spark, sf_dir).select("doc_id", "minhash").localCheckpoint()
    banded = lsh_op.band_keys(signed, CFG)
    cands = lsh_op.candidate_pairs(banded, CFG, strategy="all_pairs")
    a = signed.select(F.col("doc_id").alias("a_id"), F.col("minhash").alias("mh_a"))
    b = signed.select(F.col("doc_id").alias("b_id"), F.col("minhash").alias("mh_b"))
    return (
        cands.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            F.size(
                F.filter(
                    F.zip_with("mh_a", "mh_b", lambda x, y: x == y),
                    lambda m: m,
                )
            )
            .cast("bigint")
            .alias("n_matching"),
        )
        .orderBy("a_id", "b_id")
    )


def q_confirmed_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidates (LSH ∪ CDC, fused single-pass generator) verified by
    Jaccard / suffix-array substring — exact-integer (inter, uni) so the
    oracle compare is float-free."""
    from dedup_gpu_stream_parallelism_spark.functions.signatures import sign_documents
    from dedup_gpu_stream_parallelism_spark.operators import lsh as lsh_op
    from dedup_gpu_stream_parallelism_spark.operators import verify as verify_op

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    signed = sign_documents(docs, text_col="text", cfg=CFG, with_chunk_keys=True)
    keys = lsh_op.all_candidate_keys(signed, CFG)
    cands = lsh_op.candidate_pairs(keys, CFG, strategy="all_pairs")
    return verify_op.confirm_pairs(cands, docs, CFG).select(
        "a_id", "b_id", "inter", "uni", "confirmed"
    ).orderBy("a_id", "b_id")


def q_roundtrip_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode (manifest + unique store) then decode and re-verify sha256 —
    the reference's dedup -u round-trip as a query (decoder.cpp:200-291)."""
    docs = _docs(spark, sf_dir)
    manifest, store = exact_op.encode_store(docs, "doc_id", "text")
    return exact_op.decode_roundtrip(manifest, store).select(
        "doc_id", "sha256", "sha_ok"
    ).orderBy("doc_id")


def q_chunk_roundtrip_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity encode→decode→re-verify — the reference's real
    .ddp storage contract (encoder.cpp:236-277, decoder.cpp:200-291):
    unique chunks stored once, docs reassembled in chunk_idx order from
    the store alone, sha256 re-checked per doc."""
    from dedup_gpu_stream_parallelism_spark.operators import store as store_op

    return store_op.chunk_roundtrip_check(
        _docs(spark, sf_dir), CFG, "doc_id", "text"
    ).orderBy("doc_id")


def q_ddp_roundtrip_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's on-disk contract SPOKEN LITERALLY: docs exported as
    sharded ``.ddp`` typed-record byte streams (CHECKBIT header, SHA-1
    fingerprints for repeats, zlib payloads — util.cpp:45-75,
    encoder.cpp:185-198/236-277), re-imported by walking the records, and
    sha256 re-verified per doc (sources/ddp_format.py)."""
    from dedup_gpu_stream_parallelism_spark.sources import ddp_format as ddp_fmt
    from dedup_gpu_stream_parallelism_spark.streaming import replay

    work = replay.fresh_workdir("ddp", sf_dir)
    return ddp_fmt.ddp_roundtrip_check(
        _docs(spark, sf_dir), os.path.join(work, "ddp"), CFG
    ).orderBy("doc_id")


def q_ddp_lzss_roundtrip_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``.ddp`` byte-stream round trip at the reference's
    benchmark-default codec: ``compress_type`` byte 3 = COMPRESS_LZSS
    (dedupdef.h:217, selected by ``-w lzss``, dedup.cpp:113-114), unique
    payloads carried as the literal 1+12+4-bit LZSS token stream
    (functions/lzss_codec.py, fuzz-verified bit-exact against the
    reference's LzssEncodeMemory), decoded back per decoder.cpp:168-190
    and sha256 re-verified per doc."""
    from dedup_gpu_stream_parallelism_spark.sources import ddp_format as ddp_fmt
    from dedup_gpu_stream_parallelism_spark.streaming import replay

    work = replay.fresh_workdir("ddplzss", sf_dir)
    return ddp_fmt.ddp_roundtrip_check(
        _docs(spark, sf_dir), os.path.join(work, "ddp"), CFG,
        compress_type="lzss",
    ).orderBy("doc_id")


def q_chunk_store_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-store space accounting (refs vs unique payload chars)."""
    from dedup_gpu_stream_parallelism_spark.operators import store as store_op

    manifest, store = store_op.chunk_encode_store(
        _docs(spark, sf_dir), CFG, "doc_id", "text", persist=True
    )
    return store_op.chunk_store_stats(manifest, store)


def q_incremental_chunk_store_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level incremental append under the oracle: first half encoded,
    second half appended via the anti-join increment
    (store.chunk_store_increment, the --append-to job path) — the
    cumulative archive's stats must equal the ONE-SHOT encode's (the
    oracle IS chunk_store_stats_sql)."""
    from dedup_gpu_stream_parallelism_spark.operators import store as store_op

    docs = _docs(spark, sf_dir)
    split = docs.count() // 2
    old_m, old_s = store_op.chunk_encode_store(
        docs.where(F.col("doc_id") < split), CFG, "doc_id", "text", persist=True
    )
    new_m, novel_s = store_op.chunk_store_increment(
        old_s, docs.where(F.col("doc_id") >= split), CFG, "doc_id", "text",
        persist=True,
    )
    return store_op.chunk_store_stats(
        old_m.unionByName(new_m), old_s.unionByName(novel_s)
    )


def q_compression_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-checkable half of the compress-stage stats (n_payloads,
    total_chars over the unique store); compressed byte counts stay in
    the rows-only compression_stats query."""
    from dedup_gpu_stream_parallelism_spark.operators import compress as cz

    _, store = exact_op.encode_store(_docs(spark, sf_dir), "doc_id", "text")
    return cz.compression_stats(cz.compress_store(store, cz.COMPRESS_GZIP)).select(
        "compress_type", "n_payloads", "total_chars"
    )


def q_chunk_compression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compress stage over the UNIQUE-CHUNK store — the reference's actual
    routing (only unique chunks reach sub_Compress, encoder.cpp:299-352).
    SQL-checkable columns only; byte counts live in compression_stats."""
    from dedup_gpu_stream_parallelism_spark.operators import compress as cz
    from dedup_gpu_stream_parallelism_spark.operators import store as store_op

    _, store = store_op.chunk_encode_store(_docs(spark, sf_dir), CFG, "doc_id", "text")
    return cz.compression_stats(
        cz.compress_store(store.withColumnRenamed("chunk_sha", "sha256"))
    ).select("compress_type", "n_payloads", "total_chars")


def q_compression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compress stage stats over the unique-payload store (gzip) — the -v
    compression factors (encoder.cpp:150-167).  Rows-only check: zlib
    output bytes are not SQL-computable."""
    from dedup_gpu_stream_parallelism_spark.operators import compress as cz

    _, store = exact_op.encode_store(_docs(spark, sf_dir), "doc_id", "text")
    return cz.compression_stats(cz.compress_store(store, cz.COMPRESS_GZIP))


def q_compression_roundtrip_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression validated BY DECODE, like the reference decoder
    (decoder.cpp:107-197): unique store → compress (none, gzip, bzip2) →
    decompress → per-payload sha256 re-verify.  Puts the K1/K2/K3 codecs
    under the hard oracle signal (one row per unique payload per codec);
    the bit-level LZSS codec gets its own query (``lzss_roundtrip_check``)
    so its genuinely heavier encode cost is attributed to it."""
    from dedup_gpu_stream_parallelism_spark.operators import compress as cz

    _, store = exact_op.encode_store(_docs(spark, sf_dir), "doc_id", "text")
    both = (
        cz.compress_store(store, cz.COMPRESS_NONE)
        .unionByName(cz.compress_store(store, cz.COMPRESS_GZIP))
        .unionByName(cz.compress_store(store, cz.COMPRESS_BZIP2))
    )
    return (
        cz.decompress_store(both)
        .select(
            "sha256",
            "compress_type",
            (F.sha2("payload", 256) == F.col("sha256")).cast("int").alias("sha_ok"),
        )
        .orderBy("sha256", "compress_type")
    )


def q_lzss_roundtrip_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The K4/K5/K6 bit-stream LZSS codec under the hard oracle signal:
    every unique payload → the literal 1+12+4-bit token stream
    (functions/lzss_codec.py, bit-exact vs the reference's
    LzssEncodeMemory) → decode per decoder.cpp:168-190 → sha256
    re-verify.  The reference's benchmark-default compression
    (``-w lzss``, dedup.cpp:113-114) as a first-class query."""
    from dedup_gpu_stream_parallelism_spark.operators import compress as cz

    _, store = exact_op.encode_store(_docs(spark, sf_dir), "doc_id", "text")
    # the codec is CPU-bound python, not I/O: spread it to cluster width
    # (AQE would coalesce a small store to ONE partition and serialize it)
    store = store.repartition(spark.sparkContext.defaultParallelism)
    return (
        cz.decompress_store(cz.compress_store(store, cz.COMPRESS_LZSS))
        .select(
            "sha256",
            "compress_type",
            (F.sha2("payload", 256) == F.col("sha256")).cast("int").alias("sha_ok"),
        )
        .orderBy("sha256")
    )


def q_lzss_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc LZSS-size estimate via suffix-array LPF + greedy emit — the
    reference's batch-matcher contract (matcher_sequential.cpp:10-79,
    lzss_gpu.cpp:138-172).  Rows-only: LPF is not SQL-expressible."""
    from dedup_gpu_stream_parallelism_spark.functions.lpf import lzss_estimate_docs

    return lzss_estimate_docs(_docs(spark, sf_dir)).orderBy("doc_id")


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_op.text_stats(_docs(spark, sf_dir)).orderBy("doc_id")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_op.lang_id(_docs(spark, sf_dir)).orderBy("doc_id")


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_op.quality_score(_docs(spark, sf_dir)).orderBy("doc_id")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k — the blocked kernel (cogrouped block-matrix GEMM, no
    driver collect at any index size); results checked against a numpy
    reference in tests/test_similarity.py, plan asserted cogrouped in
    tests/test_plans.py."""
    return sim_op.cosine_topk(_emb(spark, sf_dir), k=5).orderBy("vec_id", "rank")


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN with SCALE-DERIVED parameters: n_planes grows
    log2(n) so expected bucket size stays ~TARGET_BUCKET at any index
    size (sim_op.derive_lsh_planes)."""
    emb = _emb(spark, sf_dir)
    planes = sim_op.derive_lsh_planes(emb.count())
    return sim_op.ann_lsh_topk(emb, k=5, n_planes=planes, n_tables=8).orderBy(
        "vec_id", "rank"
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN — the alternative bucketing scheme to
    hyperplane LSH (rows-only: approximate by construction; recall vs
    exact asserted in tests/test_similarity.py).  n_centroids ≈ sqrt(n),
    n_probe ≈ 12% of centroids — both derived from the index count."""
    emb = _emb(spark, sf_dir)
    n_centroids, n_probe = sim_op.derive_ivf_params(emb.count())
    return sim_op.ivf_topk(
        emb, k=5, n_centroids=n_centroids, n_probe=n_probe
    ).orderBy("vec_id", "rank")


def q_ann_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate threshold pairs — the sub-quadratic 100 TB
    pair generator (precision 1 by in-bucket exact verify; recall asserted
    vs the exact blocked kernel in tests/test_similarity.py).  n_planes is
    derived from the index count and the max_bucket backstop caps any
    viral bucket's task at a bounded GEMM."""
    emb = _emb(spark, sf_dir)
    planes = sim_op.derive_lsh_planes(emb.count())
    return sim_op.ann_near_dup_pairs(
        emb, threshold=0.4, n_planes=planes, n_tables=16,
        max_bucket=8 * sim_op.TARGET_BUCKET,
    ).orderBy("a_id", "b_id")


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim_op.embedding_stats(_emb(spark, sf_dir)).orderBy("vec_id")


def q_binary_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over a BinaryType payload column — the reference consumes
    arbitrary bytes (src/encoder.cpp:1079-1101, mbuffer.h:41); F.sha2 and
    F.length operate on the bytes directly (length = octet count)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.encode("text", "utf-8").alias("data")
    )
    return exact_op.dedup_stats(docs, "doc_id", "data")


def q_event_props_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup statistics over the events.props payload column — the same
    groupBy-as-hash-table dedup applied to a second table shape."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("event_id").alias("doc_id"), F.col("props").alias("text")
    )
    return exact_op.dedup_stats(ev, "doc_id", "text")


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space dedup: connected components over the cosine>=0.4
    graph — 59 above-threshold pairs at sf0.01 give the oracle real
    cluster structure to verify."""
    return sim_op.embedding_near_dup_clusters(
        _emb(spark, sf_dir), threshold=0.4
    ).orderBy("vec_id")


def q_event_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window event rollup — the batch twin of
    streaming.dedup_stream.windowed_event_stats (exact countDistinct here;
    the unbounded-stream version uses approx_count_distinct + watermark)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.window(F.col("ts").cast("timestamp"), "1 hour").alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            # fixed-point floor per row, integer sum: exact and associative,
            # so the oracle compare is independent of partial-agg order
            F.sum(F.floor(F.col("value") * 1000000.0).cast("long")).alias(
                "sum_value_micro"
            ),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "event_type",
            "n_events",
            "sum_value_micro",
            "n_users",
        )
        .orderBy("window_start_epoch", "event_type")
    )


def q_media_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing under the oracle: documents re-cast as an opaque
    media table (payload = utf-8 bytes, type by id), pushed through the
    Arrow feature-extraction stage (deterministic fake codec) and payload-
    sha dedup.  The feature vector is dropped (not SQL-computable); the
    dedup verdict columns are oracle-checked."""
    from dedup_gpu_stream_parallelism_spark.operators import multimodal as mm

    docs = _docs(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
    )
    feats = mm.extract_features(media)  # fake codec; strict=False documented
    return mm.media_dedup(feats).orderBy("media_id")


def q_stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core identity — stream dedup — under the oracle:
    documents replayed as 4 deterministic doc_id-range micro-batches
    (file source, maxFilesPerTrigger=1, availableNow) through the
    sha256-keyed ``applyInPandasWithState`` stream; the final table must
    equal the batch manifest (representative = MIN doc_id — see the
    determinism argument in streaming/replay.py)."""
    from dedup_gpu_stream_parallelism_spark.streaming import replay

    work = replay.fresh_workdir("exact", sf_dir)
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    # both doc replays read identical slices — stage once per process
    src = replay.shared_staged_docs(docs, sf_dir)
    return replay.stream_dedup_replay(
        spark, docs, work, staged_src=src
    ).orderBy("doc_id")


def q_stream_near_dup_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NearDupStream's probe→emit→insert cycle (with mid-stream index
    compaction at batch 2) under the oracle: the final cross-batch match
    table must equal the batch LSH pair set restricted to cross-range
    pairs (streaming/replay.py; oracle = duck_sql.stream_matches_sql)."""
    from dedup_gpu_stream_parallelism_spark.streaming import replay

    work = replay.fresh_workdir("neardup", sf_dir)
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    src = replay.shared_staged_docs(docs, sf_dir)
    return replay.stream_near_dup_replay(
        spark, docs, work, CFG, staged_src=src
    ).orderBy("doc_id", "matched_id")


def q_stream_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked tumbling-window aggregation under the oracle:
    events replayed in event-time order (sentinel closes the final
    window), final append-mode output must equal the batch GROUP BY
    (streaming/replay.py determinism note)."""
    from dedup_gpu_stream_parallelism_spark.streaming import replay

    work = replay.fresh_workdir("window", sf_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return replay.stream_window_stats_replay(spark, ev, work).orderBy(
        "window_start_epoch", "event_type"
    )


def q_tpch_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-flavor rollup over lineitem: predicate pushed to the scan,
    partial aggregation map-side, fixed-point integer sums so the oracle
    compare is associativity-proof."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cents = F.floor(F.col("l_extendedprice") * 100).cast("long")
    disc_cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.where(F.col("l_quantity") < 30)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.floor(F.col("l_quantity")).cast("long")).alias("sum_qty"),
            F.sum(cents).alias("sum_price_cents"),
            F.sum(disc_cents).alias("sum_disc_price_cents"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_tpch_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-flavor star join: small dims (region, nation) broadcast —
    no shuffle for them at any fact-table scale; the two big joins
    (orders⋈lineitem, orders⋈customer) shuffle on their keys with AQE."""
    r = F.broadcast(spark.read.parquet(f"{sf_dir}/region.parquet"))
    n = F.broadcast(spark.read.parquet(f"{sf_dir}/nation.parquet"))
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    revenue = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_lineitems"),
            F.sum(revenue).alias("revenue_cents"),
        )
        .orderBy("r_name", "n_name")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dup_clusters": q_exact_dup_clusters,
        "dedup_manifest": q_dedup_manifest,
        "incremental_dedup_manifest": q_incremental_dedup_manifest,
        "dedup_stats": q_dedup_stats,
        "cdc_chunk_stats": q_cdc_chunk_stats,
        "near_dup_clusters": q_near_dup_clusters,
        "dedup_keep_list": q_dedup_keep_list,
        "cdc_chunks": q_cdc_chunks,
        "minhash_signatures": q_minhash_signatures,
        "simhash_values": q_simhash_values,
        "lsh_candidates": q_lsh_candidates,
        "bucket_stats": q_bucket_stats,
        "minhash_jaccard_estimate": q_minhash_jaccard_estimate,
        "simhash_near_dup": q_simhash_near_dup,
        "confirmed_pairs": q_confirmed_pairs,
        "roundtrip_check": q_roundtrip_check,
        "chunk_roundtrip_check": q_chunk_roundtrip_check,
        "ddp_roundtrip_check": q_ddp_roundtrip_check,
        "ddp_lzss_roundtrip_check": q_ddp_lzss_roundtrip_check,
        "chunk_store_stats": q_chunk_store_stats,
        "incremental_chunk_store_stats": q_incremental_chunk_store_stats,
        "compression_payload_stats": q_compression_payload_stats,
        "chunk_compression_stats": q_chunk_compression_stats,
        "compression_roundtrip_check": q_compression_roundtrip_check,
        "lzss_roundtrip_check": q_lzss_roundtrip_check,
        # rows-only: compressed byte counts are not SQL-computable
        "compression_stats": q_compression_stats,
        "lzss_estimate": q_lzss_estimate,
        "text_stats": q_text_stats,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "cosine_topk": q_cosine_topk,
        # approximate by construction: rows-only check (recall asserted
        # against cosine_topk in tests/test_similarity.py)
        "ann_lsh_topk": q_ann_lsh_topk,
        # approximate by construction: rows-only (recall vs exact in tests)
        "ann_near_dup": q_ann_near_dup,
        "ivf_topk": q_ivf_topk,
        "embedding_stats": q_embedding_stats,
        "embedding_near_dup": q_embedding_near_dup,
        "event_window_stats": q_event_window_stats,
        "event_props_dedup": q_event_props_dedup,
        "binary_dedup_stats": q_binary_dedup_stats,
        "media_payload_dedup": q_media_payload_dedup,
        "stream_dedup_replay": q_stream_dedup_replay,
        "stream_near_dup_matches": q_stream_near_dup_matches,
        "stream_window_stats": q_stream_window_stats,
        "tpch_pricing_summary": q_tpch_pricing_summary,
        "tpch_region_revenue": q_tpch_region_revenue,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "exact_dup_clusters": """
            WITH h AS (
              SELECT doc_id, sha256(text) AS sha256 FROM documents
            )
            SELECT doc_id, sha256,
                   MIN(doc_id) OVER (PARTITION BY sha256) AS cluster_id,
                   CAST(doc_id <> MIN(doc_id) OVER (PARTITION BY sha256) AS INT)
                     AS is_duplicate
            FROM h ORDER BY doc_id
        """,
        "dedup_manifest": """
            WITH h AS (
              SELECT doc_id, sha256(text) AS sha256, length(text) AS _len
              FROM documents
            ), c AS (
              SELECT doc_id, sha256, _len,
                     MIN(doc_id) OVER (PARTITION BY sha256) AS representative_id
              FROM h
            )
            SELECT doc_id, sha256, representative_id,
                   CAST(doc_id <> representative_id AS INT) AS is_duplicate,
                   CAST(CASE WHEN doc_id = representative_id THEN _len ELSE 0 END
                        AS BIGINT) AS payload_chars
            FROM c ORDER BY doc_id
        """,
        "incremental_dedup_manifest": """
            -- incremental(old half) ∪ one-shot(new half vs old) must equal
            -- the one-shot manifest over the whole corpus
            WITH h AS (
              SELECT doc_id, sha256(text) AS sha256, length(text) AS _len
              FROM documents
            ), c AS (
              SELECT doc_id, sha256, _len,
                     MIN(doc_id) OVER (PARTITION BY sha256) AS representative_id
              FROM h
            )
            SELECT doc_id, sha256, representative_id,
                   CAST(doc_id <> representative_id AS INT) AS is_duplicate,
                   CAST(CASE WHEN doc_id = representative_id THEN _len ELSE 0 END
                        AS BIGINT) AS payload_chars
            FROM c ORDER BY doc_id
        """,
        "dedup_stats": """
            WITH m AS (
              SELECT doc_id, sha256(text) AS sha256, length(text) AS _len,
                     MIN(doc_id) OVER (PARTITION BY sha256(text)) AS rep
              FROM documents
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(DISTINCT sha256) AS BIGINT) AS n_unique,
                   CAST(SUM(CASE WHEN doc_id <> rep THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_duplicates,
                   CAST(SUM(CASE WHEN doc_id = rep THEN _len ELSE 0 END) AS BIGINT)
                     AS unique_chars,
                   ROUND(COUNT(*) / CAST(COUNT(DISTINCT sha256) AS DOUBLE), 6)
                     AS dedup_factor
            FROM m
        """,
        "roundtrip_check": """
            SELECT doc_id, sha256(text) AS sha256, 1 AS sha_ok
            FROM documents ORDER BY doc_id
        """,
        "text_stats": duck_sql.TEXT_STATS_SQL,
        "lang_id": duck_sql.LANG_ID_SQL,
        "quality_score": duck_sql.QUALITY_SCORE_SQL,
        "cosine_topk": duck_sql.COSINE_TOPK_SQL,
        "embedding_stats": duck_sql.EMBEDDING_STATS_SQL,
        "embedding_near_dup": duck_sql.embedding_near_dup_sql(0.4),
        "event_window_stats": duck_sql.EVENT_WINDOW_STATS_SQL,
        "event_props_dedup": """
            WITH m AS (
              SELECT event_id AS doc_id, sha256(props) AS sha256,
                     length(props) AS _len,
                     MIN(event_id) OVER (PARTITION BY sha256(props)) AS rep
              FROM events
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(DISTINCT sha256) AS BIGINT) AS n_unique,
                   CAST(SUM(CASE WHEN doc_id <> rep THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_duplicates,
                   CAST(SUM(CASE WHEN doc_id = rep THEN _len ELSE 0 END) AS BIGINT)
                     AS unique_chars,
                   ROUND(COUNT(*) / CAST(COUNT(DISTINCT sha256) AS DOUBLE), 6)
                     AS dedup_factor
            FROM m
        """,
        "binary_dedup_stats": """
            -- DuckDB sha256 is VARCHAR-only; for this ASCII corpus
            -- sha256(text) == sha256(utf-8 bytes), and octet_length of the
            -- encoded blob is the byte count Spark's F.length(binary) sees.
            WITH m AS (
              SELECT doc_id, sha256(text) AS sha256,
                     octet_length(encode(text)) AS _len,
                     MIN(doc_id) OVER (PARTITION BY sha256(text)) AS rep
              FROM documents
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(DISTINCT sha256) AS BIGINT) AS n_unique,
                   CAST(SUM(CASE WHEN doc_id <> rep THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_duplicates,
                   CAST(SUM(CASE WHEN doc_id = rep THEN _len ELSE 0 END) AS BIGINT)
                     AS unique_chars,
                   ROUND(COUNT(*) / CAST(COUNT(DISTINCT sha256) AS DOUBLE), 6)
                     AS dedup_factor
            FROM m
        """,
        "chunk_roundtrip_check": duck_sql.chunk_roundtrip_sql(),
        # byte-stream round trip: every doc must survive the .ddp
        # export/import with its sha intact (ASCII corpus: sha256(text)
        # == sha256 of the utf-8 payload bytes)
        "ddp_roundtrip_check": """
            SELECT doc_id, sha256(text) AS sha256, 1 AS sha_ok
            FROM documents ORDER BY doc_id
        """,
        # same contract at the reference's benchmark-default codec
        # (compress_type byte 3 = COMPRESS_LZSS)
        "ddp_lzss_roundtrip_check": """
            SELECT doc_id, sha256(text) AS sha256, 1 AS sha_ok
            FROM documents ORDER BY doc_id
        """,
        "chunk_store_stats": duck_sql.chunk_store_stats_sql(),
        # increment(first half) ∪ increment-append(second half) must equal
        # the one-shot archive — same oracle
        "incremental_chunk_store_stats": duck_sql.chunk_store_stats_sql(),
        "compression_payload_stats": duck_sql.COMPRESSION_PAYLOAD_STATS_SQL,
        "compression_roundtrip_check": """
            -- decode-validated compression: every unique payload must
            -- round-trip through each codec with its sha intact
            WITH u AS (SELECT DISTINCT sha256(text) AS sha256 FROM documents),
                 c(compress_type) AS (VALUES ('none'), ('gzip'), ('bzip2'))
            SELECT u.sha256, c.compress_type, 1 AS sha_ok
            FROM u CROSS JOIN c
            ORDER BY sha256, compress_type
        """,
        # the bit-level LZSS codec's own decode-verified round trip
        "lzss_roundtrip_check": """
            SELECT DISTINCT sha256(text) AS sha256, 'lzss' AS compress_type,
                   1 AS sha_ok
            FROM documents ORDER BY sha256
        """,
        "chunk_compression_stats": duck_sql.chunk_compression_stats_sql(),
        # full signature-pipeline oracles (bit-identical integer hashing)
        "cdc_chunks": duck_sql.cdc_chunks_sql(),
        "cdc_chunk_stats": duck_sql.cdc_chunk_stats_sql(),
        "minhash_signatures": duck_sql.minhash_sql(CFG),
        "simhash_values": duck_sql.simhash_sql(CFG),
        "lsh_candidates": duck_sql.lsh_candidates_sql(CFG),
        "bucket_stats": duck_sql.bucket_stats_sql(CFG),
        "minhash_jaccard_estimate": duck_sql.minhash_jaccard_estimate_sql(CFG),
        "simhash_near_dup": duck_sql.simhash_near_dup_sql(CFG, max_hamming=7),
        "confirmed_pairs": duck_sql.confirmed_pairs_sql(CFG),
        "near_dup_clusters": duck_sql.cluster_sql(CFG),
        "dedup_keep_list": duck_sql.keep_list_sql(CFG),
        "media_payload_dedup": """
            -- ASCII corpus: sha256(text) == sha256 of the utf-8 payload
            SELECT doc_id AS media_id,
                   CASE CAST(doc_id % 3 AS INT)
                     WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
                   END AS media_type,
                   sha256(text) AS payload_sha,
                   MIN(doc_id) OVER (PARTITION BY sha256(text))
                     AS representative_id,
                   CAST(doc_id <> MIN(doc_id) OVER (PARTITION BY sha256(text))
                        AS INT) AS is_duplicate
            FROM documents ORDER BY media_id
        """,
        "stream_dedup_replay": """
            -- stream replays ascending doc_id ranges, so first-writer-wins
            -- state == MIN(doc_id) (streaming/replay.py determinism note)
            WITH h AS (
              SELECT doc_id, sha256(text) AS sha256 FROM documents
            )
            SELECT doc_id, sha256,
                   MIN(doc_id) OVER (PARTITION BY sha256) AS representative_id,
                   CAST(doc_id <> MIN(doc_id) OVER (PARTITION BY sha256) AS INT)
                     AS is_duplicate
            FROM h ORDER BY doc_id
        """,
        "stream_near_dup_matches": duck_sql.stream_matches_sql(CFG),
        "stream_window_stats": """
            -- time-ordered replay + sentinel flush: the stream's final
            -- append output is exactly the batch rollup (no n_users —
            -- distinct counts are approximate on unbounded streams)
            SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
                     AS window_start_epoch,
                   event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT)
                     AS sum_value_micro
            FROM events
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "tpch_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT)
                     AS sum_qty,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS sum_price_cents,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount)
                                       * 100) AS BIGINT)) AS BIGINT)
                     AS sum_disc_price_cents
            FROM lineitem
            WHERE l_quantity < 30
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "tpch_region_revenue": """
            SELECT r_name, n_name,
                   CAST(COUNT(*) AS BIGINT) AS n_lineitems,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount)
                                       * 100) AS BIGINT)) AS BIGINT)
                     AS revenue_cents
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
    }
