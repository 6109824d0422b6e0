#!/usr/bin/env python
"""Regenerate docs/PLANS.md — condensed .explain("formatted") evidence for
the key operators (plan-quality review: pruning, pushdown, map-side
combine, single-exchange candidate generation)."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dedup_gpu_stream_parallelism_spark.session import build_session  # noqa: E402

import __spark_entry__ as e  # noqa: E402

CASES = {
    "exact_dup_clusters": "one hash exchange on sha256 (the reference's hash table); scan prunes to (doc_id, text) only",
    "text_stats": "single scan, all expressions in one WholeStageCodegen project — no Python, no shuffle (final sort is the deterministic output order)",
    "event_window_stats": "partial HashAggregate BEFORE the exchange = map-side combine; IsNotNull(ts) pushed to the parquet scan; two-phase distinct for countDistinct",
    "lsh_candidates": "exactly ONE band-key exchange: partial ObjectHashAggregate (collect_set) map-side, pair expansion via Generate (JVM array exprs), then 2-phase distinct",
    "cosine_topk": "blocked exact kernel: cogrouped block-matrix GEMM (FlatMapCoGroupsInPandas), WindowGroupLimit re-rank — no driver collect at any index size",
    "simhash_near_dup": "ZERO MapInPandas: the signed frame is checkpointed before the fan-out, as in minhash_jaccard_estimate; slice groupBy exchange + two shuffle-hash joins attach the fingerprints from the 16-byte checkpointed projection; bit_count filter JVM-side",
    "embedding_near_dup": "NO driver collect: block-pair replication joins + one cogrouped FlatMapCoGroupsInPandas GEMM per block pair, then CC",
    "chunk_roundtrip_check": "chunk store groupBy has partial_first map-side; decode = one sha join + one doc_id aggregation (sort-order concat inside)",
    "tpch_pricing_summary": "l_quantity predicate in PushedFilters; ReadSchema pruned to 5 columns; partial HashAggregate before the exchange",
    "tpch_region_revenue": "region/nation joined via BroadcastHashJoin (no shuffle for dims); big joins shuffle on keys under AQE",
    "confirmed_pairs": "FUSED candidate generation: ONE MapInPandas text pass emits signatures+chunk keys, ONE groupBy exchange buckets both key spaces, then the verify UDF",
    "lzss_roundtrip_check": "explicit Exchange RoundRobinPartitioning to cluster width feeding the codec MapInPandas — the CPU-bound-python stage AQE would otherwise coalesce onto ONE partition (round-4 lesson: 37.7 s serialized)",
    "incremental_dedup_manifest": "append path: new-batch hash exchange + anti-join against the existing manifest; the old manifest is never rewritten (round-5 clamp-A/B target)",
    # round-6 additions: every remaining query >= 2 s in BENCH_r05
    "minhash_signatures": "ONE MapInPandas over a cluster-wide round-robin exchange (widen_if_narrow — a small corpus is one scan partition and ran the UDF single-task before round 6); posexplode + range-partitioned sort",
    "minhash_jaccard_estimate": "ZERO MapInPandas in the final plan: the signed frame is localCheckpoint'ed before the 3-branch fan-out (round-5 verdict #1 — the UDF executed once per branch); branches read the checkpointed RDD",
    "dedup_keep_list": "flagship lineage in materialize='edges' mode: the plan tail is the post-union-find broadcast join + quality join (the sign→band→pair→confirm lineage executed once into the edge checkpoint; its full shape = the confirmed_pairs section)",
    "near_dup_clusters": "materialize='edges': plan tail = checkpointed CC labels broadcast-joined to docs; the fused upstream lineage (one MapInPandas text pass, one band-key exchange, verify) is the confirmed_pairs shape",
    "lzss_estimate": "ONE MapInPandas (suffix-array LPF) over the widened scan — no shuffle besides the widen round-robin and the output sort",
    "ann_lsh_topk": "bucketize MapInPandas → bucket groupBy (one exchange per table union) → per-bucket GEMM applyInPandas; no driver collect",
    "ann_near_dup": "same bucketed shape with the max_bucket backstop; in-bucket exact verify keeps precision 1",
    "ivf_topk": "centroid assign MapInPandas + cogrouped per-centroid GEMM; centroid table is O(sqrt n) and broadcast",
    "ddp_lzss_roundtrip_check": "import side: ONE binaryFile scan of the shards, sort-merge outer join with the per-shard doc index aggregation, record-walk MapInPandas, sha re-verify join",
}


def _probe_plan_section(spark, sf: str) -> list[str]:
    """The near-dup stream's per-trigger probe plan (its .explain is awkward
    through the streaming harness): stage one batch into a fresh index,
    then build batch 1's probe exactly as process_batch does and show the
    bucket PartitionFilters that keep per-trigger I/O flat."""
    import tempfile

    from pyspark.sql import functions as F

    from dedup_gpu_stream_parallelism_spark.config import DedupConfig
    from dedup_gpu_stream_parallelism_spark.functions.signatures import sign_documents
    from dedup_gpu_stream_parallelism_spark.operators import lsh as lsh_op
    from dedup_gpu_stream_parallelism_spark.streaming.dedup_stream import NearDupStream

    cfg = DedupConfig()
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    tmp = tempfile.mkdtemp(prefix="plans_probe_")
    nds = NearDupStream(f"{tmp}/idx", f"{tmp}/out", cfg=cfg, n_buckets=8)
    nds.process_batch(docs.where("doc_id < 250"), 0)
    batch = docs.where("doc_id >= 250")
    banded = lsh_op.band_keys(sign_documents(batch, "text", cfg), cfg).withColumn(
        "bucket", F.pmod(F.col("band_key"), F.lit(8)).cast("int")
    ).localCheckpoint()
    probe_buckets = [r["bucket"] for r in banded.select("bucket").distinct().collect()]
    index = spark.read.parquet(nds._index_path()).where(
        F.col("bucket").isin(probe_buckets) & (F.col("batch_id") < F.lit(1))
    )
    matches = (
        banded.alias("n")
        .join(index.alias("o"), "band_key")
        .where(F.col("n.doc_id") != F.col("o.doc_id"))
        .select(F.col("n.doc_id").alias("doc_id"), F.col("o.doc_id").alias("matched_id"))
        .distinct()
    )
    plan = matches._jdf.queryExecution().executedPlan().toString()
    lines = [ln[:120] for ln in plan.splitlines() if ln.strip()][:30]
    for ln in plan.splitlines():
        if "PartitionFilters" in ln:
            at = ln.index("PartitionFilters")
            lines += ["", "(scan detail) " + ln[at : at + 200]]
            break
    return [
        "## stream_near_dup probe (per-trigger plan, batch twin)",
        "",
        "the foreachBatch probe: band keys of the incoming batch joined to the",
        "accumulated index with BOTH partition filters (bucket ∈ batch's buckets,",
        "batch_id < current) pruned at the scan — per-trigger I/O tracks the",
        "batch, not the history (PartitionFilters below; stream itself cannot be",
        "`.explain`ed mid-trigger, so this is the equivalent static plan).",
        "",
        "```",
        *lines,
        "```",
        "",
    ]


def main() -> None:
    import subprocess

    head = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"], capture_output=True, text=True,
        cwd=REPO,
    ).stdout.strip() or "unknown"
    spark = build_session(cpus=8, shuffle_partitions=8)
    sf = "/root/testdata/sf0.01"
    out = [
        '# Physical plan review (`.explain("formatted")`, sf0.01, local[8])',
        "",
        f"Generated at commit `{head}` — regenerate after plan-shaping changes.",
        "",
        "Checked per operator: column pruning reaches the scan (ReadSchema),",
        "filters push down (PushedFilters), aggregations combine map-side",
        "(partial HashAggregate before Exchange), Python appears only where a",
        "kernel needs it (MapInPandas), and each candidate generator pays ONE",
        "hash exchange.  Regenerate: `python scripts/dump_plans.py`.",
        "",
    ]
    for name, note in CASES.items():
        df = e.queries()[name](spark, sf)
        s = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        lines = [
            ln
            for ln in s.splitlines()
            if ln.strip().startswith(("*", "+", "Scan", "ReadSchema", "PushedFilters"))
        ]
        out += [f"## {name}", "", note, "", "```"]
        out += [ln[:120] for ln in lines[:30]]
        out += ["```", ""]
    out += _probe_plan_section(spark, sf)
    spark.stop()
    with open(os.path.join(REPO, "docs", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("docs/PLANS.md written")


if __name__ == "__main__":
    main()
