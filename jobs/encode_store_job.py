#!/usr/bin/env python
"""spark-submit entrypoint: chunk-level dedup storage encode (the ``.ddp``
write path) with optional incremental append against an existing store.

    python scripts/build_pkg.py                       # -> dist/pkg.zip
    spark-submit --master <cluster> --py-files dist/pkg.zip \
        jobs/encode_store_job.py \
        --input  s3://corpus/files.parquet \
        --output s3://store/run1 \
        --id-col file_id --text-col content

Outputs under --output: chunk_manifest/ (doc_id, chunk_idx, chunk_sha,
chunk_len), chunk_store/ (one payload per distinct chunk_sha),
doc_manifest/ (doc-level dedup manifest), stats.json, _lineage/ (the
append ancestry).  With ``--append-to <prev output>`` the doc manifest is
computed incrementally against the CUMULATIVE archive (every generation in
the previous run's lineage chain) and only chunks novel to the whole chain
are written (anti-join on the union of all prior chunk_store keys) — the
encoder-probing-a-populated-hash-table workflow
(/root/reference/src/encoder.cpp:481-524).  Chained appends are safe: each
run records its parent in _lineage/, so generation N dedups against
generations 0..N-1, keeping the cumulative union one-payload-per-sha."""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through Hadoop's FileSystem API — works on every
    filesystem Spark itself can read (local, HDFS, s3a, ...)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def resolve_chain(spark: SparkSession, append_to: str) -> list[str]:
    """Full ancestry of an append chain, nearest generation first.

    Each output dir records its own --append-to parent in ``_lineage/``
    (written via the DataFrame JSON writer so any Spark-supported
    filesystem works).  An output with NO ``_lineage`` dir HARD-FAILS:
    it may be a pre-lineage append (which holds only its own novel
    chunks), and silently treating it as a chain terminus would re-store
    ancestor chunks and corrupt the cumulative archive — the exact bug
    lineage tracking exists to prevent.  Re-encode such archives once (or
    create a ``_lineage`` dir by hand for a known full encode).  A READ
    error on an existing ``_lineage`` propagates: truncating the chain on
    a transient failure would corrupt silently."""
    chain: list[str] = []
    cur: str | None = append_to
    while cur and cur not in chain:  # cycle guard
        chain.append(cur)
        lineage = os.path.join(cur, "_lineage")
        if not _fs_exists(spark, lineage):
            raise ValueError(
                f"--append-to chain member {cur!r} has no _lineage dir: "
                "cannot prove it is a full encode (a pre-lineage append "
                "holds only its own novel chunks). Re-encode it, or write "
                "a _lineage dir recording its true parent."
            )
        row = spark.read.json(lineage).first()
        cur = row["append_to"] if row and row["append_to"] else None
    return chain


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--id-col", default="file_id")
    p.add_argument("--text-col", default="content")
    p.add_argument("--append-to", default=None,
                   help="previous run's --output: incremental append")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    args = p.parse_args()

    builder = SparkSession.builder.appName("dedup-encode-store")
    if args.shuffle_partitions:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(args.shuffle_partitions)
        )
    spark = builder.config("spark.sql.adaptive.enabled", "true").getOrCreate()

    # imported AFTER SparkSession so --py-files distribution is in place
    from dedup_gpu_stream_parallelism_spark.config import DedupConfig
    from dedup_gpu_stream_parallelism_spark.operators import exact as exact_op
    from dedup_gpu_stream_parallelism_spark.operators import store as store_op
    from dedup_gpu_stream_parallelism_spark.session import local_frame

    cfg = DedupConfig()
    docs = spark.read.parquet(args.input)
    manifest, store = store_op.chunk_encode_store(
        docs, cfg, id_col=args.id_col, text_col=args.text_col, persist=True
    )

    chain = resolve_chain(spark, args.append_to) if args.append_to else []
    if chain:
        # dedup against the CUMULATIVE archive: every generation in the
        # chain (an append-mode output holds only its own novel rows)
        def _union(sub: str):
            dfs = [spark.read.parquet(os.path.join(g, sub)) for g in chain]
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d)
            return out

        doc_manifest = exact_op.dedup_increment(
            _union("doc_manifest"), docs, args.id_col, args.text_col
        )
        prev_keys = _union("chunk_store").select("chunk_sha")
        # store only chunks novel to the whole chain; the cumulative union
        # of all generations' stores remains one-payload-per-sha
        store = store.join(prev_keys, "chunk_sha", "left_anti")
    else:
        doc_manifest = exact_op.dedup_manifest(
            docs, args.id_col, args.text_col
        )

    manifest.write.mode("overwrite").parquet(
        os.path.join(args.output, "chunk_manifest")
    )
    store.write.mode("overwrite").parquet(
        os.path.join(args.output, "chunk_store")
    )
    doc_manifest.write.mode("overwrite").parquet(
        os.path.join(args.output, "doc_manifest")
    )
    # record ancestry so the NEXT append can resolve the full chain
    local_frame(
        spark, [(args.append_to or "",)], "append_to string"
    ).coalesce(1).write.mode("overwrite").json(os.path.join(args.output, "_lineage"))

    # stats describe the CUMULATIVE archive: in append mode the manifest
    # and store are the union of EVERY generation in the chain plus this
    # run's (a novel-only store alone would report a meaningless factor)
    stats_manifest = spark.read.parquet(os.path.join(args.output, "chunk_manifest"))
    stats_store = spark.read.parquet(os.path.join(args.output, "chunk_store"))
    for g in chain:
        stats_manifest = stats_manifest.unionByName(
            spark.read.parquet(os.path.join(g, "chunk_manifest"))
        )
        stats_store = stats_store.unionByName(
            spark.read.parquet(os.path.join(g, "chunk_store"))
        )
    stats = store_op.chunk_store_stats(stats_manifest, stats_store).first().asDict()
    with open(os.path.join(args.output, "stats.json"), "w") as f:
        json.dump(stats, f)
    print("STATS " + json.dumps(stats))
    store_op.release_chunk_cache()
    spark.stop()


if __name__ == "__main__":
    main()
