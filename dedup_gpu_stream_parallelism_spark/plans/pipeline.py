"""End-to-end near-duplicate pipeline plan with metrics + resumability.

The reference's five-stage pipeline (Fragment → FragmentRefine → Deduplicate
→ Compress → Reorder, /root/reference/src/encoder.cpp:12) re-expressed as a
DataFrame DAG:

    ingest → signatures (shingle+MinHash+SimHash+sha256, one fused UDF pass)
           → exact clusters (groupBy sha256)
           → LSH band keys → candidate pairs (repartitioned band-key join)
           → confirm (Jaccard + suffix-array substring)
           → connected components → cluster ids
           → ordered outputs + per-stage metrics

Resumability: when ``workdir`` is set, every stage materializes to parquet
and completed stages are skipped on re-run — the parquet-level stand-in for
Iceberg snapshot checkpoints (SURVEY.md §7.3).  Metrics mirror the
reference's per-stage ``stats_t`` (merge_stats/print_stats,
src/encoder.cpp:113-177): rows in/out, seconds, rows/sec per stage.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dedup_gpu_stream_parallelism_spark.config import DedupConfig
from dedup_gpu_stream_parallelism_spark.functions.signatures import sign_documents
from dedup_gpu_stream_parallelism_spark.operators import cluster as cluster_op
from dedup_gpu_stream_parallelism_spark.operators import exact as exact_op
from dedup_gpu_stream_parallelism_spark.operators import lsh as lsh_op
from dedup_gpu_stream_parallelism_spark.operators import verify as verify_op


@dataclass
class StageMetric:
    stage: str
    rows_out: int
    seconds: float
    rows_per_sec: float


@dataclass
class PipelineResult:
    signed: DataFrame
    exact_clusters: DataFrame
    candidates: DataFrame
    confirmed: DataFrame
    clusters: DataFrame
    metrics: list[StageMetric] = field(default_factory=list)

    def metrics_json(self) -> str:
        return json.dumps([asdict(m) for m in self.metrics])


def stage_lineage(workdir: str) -> dict[str, list[dict]]:
    """Per-partition lineage of a checkpointed run: for every materialized
    stage under ``workdir``, the parquet part files with their row counts
    and byte sizes — read from parquet FOOTERS only (no Spark job).

    This is the audit trail the north rule asks for alongside the stage
    metrics: which partition produced how many rows at every snapshot, so
    a resumed run can be traced file-by-file.
    """
    import pyarrow.parquet as pq

    out: dict[str, list[dict]] = {}
    if not workdir or not os.path.isdir(workdir):
        return out
    for stage in sorted(os.listdir(workdir)):
        sdir = os.path.join(workdir, stage)
        if not os.path.isdir(sdir):
            continue
        parts = []
        for fn in sorted(os.listdir(sdir)):
            if not fn.endswith(".parquet"):
                continue
            full = os.path.join(sdir, fn)
            md = pq.read_metadata(full)
            parts.append(
                {"file": fn, "rows": md.num_rows, "bytes": os.path.getsize(full)}
            )
        if parts:
            out[stage] = parts
    return out


# Bump whenever a stage's CONTENTS change without its name/schema changing
# (e.g. the round-2 fusion added CDC chunk-key rows to 01_sign_and_band):
# a workdir written by a different plan version is never resumed from.
PIPELINE_PLAN_VERSION = "2"


class _Stager:
    """Materialize-or-resume per stage (snapshot checkpoint stand-in).

    A workdir whose ``_PLAN_VERSION`` marker doesn't match
    ``PIPELINE_PLAN_VERSION`` is purged before use — resuming a stage whose
    semantics changed under the same name/schema would silently produce
    stale results."""

    def __init__(self, spark: SparkSession, workdir: str | None):
        self.spark = spark
        self.workdir = workdir
        self.metrics: list[StageMetric] = []
        if workdir:
            import shutil

            os.makedirs(workdir, exist_ok=True)
            marker = os.path.join(workdir, "_PLAN_VERSION")
            stale = (
                not os.path.exists(marker)
                or open(marker).read().strip() != PIPELINE_PLAN_VERSION
            )
            if stale:
                # purge old-version snapshots BEFORE writing the new marker:
                # a crash mid-purge leaves no marker, so the next run purges
                # again rather than resuming from a mixed-version workdir.
                # Only stage-snapshot dirs (NN_name) are deleted — a workdir
                # shared with unrelated artifacts (or mistakenly pointed at a
                # pre-existing directory) keeps everything unrecognized.
                import re

                for e in os.listdir(workdir):
                    p = os.path.join(workdir, e)
                    if os.path.isdir(p) and re.match(r"^\d\d_", e):
                        shutil.rmtree(p)
                with open(marker, "w") as f:
                    f.write(PIPELINE_PLAN_VERSION)

    def run(self, name: str, build, cache: bool = True) -> DataFrame:
        t0 = time.monotonic()
        if self.workdir:
            path = os.path.join(self.workdir, name)
            marker = os.path.join(path, "_SUCCESS")
            if os.path.exists(marker):
                df = self.spark.read.parquet(path)
                n = df.count()
                self.metrics.append(StageMetric(name + " (resumed)", n, 0.0, 0.0))
                return df
            df = build()
            df.write.mode("overwrite").parquet(path)
            out = self.spark.read.parquet(path)
            n = out.count()
        else:
            out = build()
            if cache:
                out = out.localCheckpoint()
            n = out.count()
        dt = time.monotonic() - t0
        self.metrics.append(
            StageMetric(name, n, round(dt, 3), round(n / dt, 1) if dt else 0.0)
        )
        return out


def run_pipeline(
    docs: DataFrame,
    cfg: DedupConfig | None = None,
    id_col: str = "file_id",
    text_col: str = "content",
    workdir: str | None = None,
    pair_strategy: str = "all_pairs",
    compute_lcs: bool = True,
    materialize: str = "stages",
) -> PipelineResult:
    """Full near-dup detection + clustering over ``docs``.

    ``docs`` must carry a unique integer ``id_col`` and a string ``text_col``.
    Per-partition lineage: outputs carry ``partition_id``.

    ``materialize`` picks the execution shape (results identical):

    * ``"stages"`` (default) — every stage checkpoints (parquet under
      ``workdir``, else ``localCheckpoint``) and reports a StageMetric.
      The resumable / per-stage-attributed shape: snapshot restartability
      and accurate AQE stats per stage, at the cost of one materialize +
      one count action per stage (~10 scheduled jobs end to end).
    * ``"edges"`` — the pure-query shape: every intermediate is used
      exactly once downstream, so nothing is checkpointed and the whole
      sign → band → pair → confirm DAG executes as ONE lineage whose only
      action is the edge materialization inside ``clusters_from_pairs``.
      Same operators, same exchanges, ~3 jobs instead of ~10 — the stage
      checkpoints existed for resumability and metrics, not correctness,
      and dropping them removes no pass over the data (each stage frame
      was consumed by exactly one successor).  Requires ``workdir=None``.
    """
    cfg = cfg or DedupConfig()
    if materialize not in ("stages", "edges"):
        raise ValueError(f"unknown materialize mode {materialize!r}")
    if workdir is not None:
        materialize = "stages"  # resumability implies stage snapshots
    spark = docs.sparkSession
    stager = _Stager(spark, workdir)

    def _stage(name: str, build):
        if materialize == "stages":
            return stager.run(name, build)
        return build()

    # ``docs`` stays the raw input: ``sign_documents`` widens a narrow scan
    # itself, and the exact/confirm/cluster stages shuffle by key anyway, so
    # a round-robin here would only add an exchange to every branch.
    docs = docs.select(
        F.col(id_col).alias("doc_id").cast("bigint"), F.col(text_col).alias("text")
    )
    # signatures + banding + CDC chunk keys fused into ONE materialized
    # stage and ONE text pass: the signature UDF also emits the deduped
    # chunk keys (with_chunk_keys=True — the reference's integrated-stage
    # fusion, encoder.cpp:760-979), and ``all_candidate_keys`` projects
    # LSH bands and chunk keys into one (doc_id, band, band_key) frame
    # (16 B/row, ~5x smaller than the 128-perm signature frame).  The
    # downstream groupBy(band_key) is then the SINGLE exchange for both
    # candidate sources — previously the CDC path re-read and re-chunked
    # every document in a second UDF pass with its own exchange+distinct.
    # ``result.signed`` stays available lazily for invariant checks.
    signed = sign_documents(
        docs, text_col="text", cfg=cfg, with_chunk_keys=True
    ).withColumn("partition_id", F.spark_partition_id())
    banded = _stage(
        "01_sign_and_band", lambda: lsh_op.all_candidate_keys(signed, cfg)
    )
    exact = _stage(
        "02_exact_clusters", lambda: exact_op.exact_dup_clusters(docs, "doc_id", "text")
    )
    candidates = _stage(
        "03_candidate_pairs",
        lambda: lsh_op.candidate_pairs(banded, cfg, strategy=pair_strategy),
    )
    confirmed = _stage(
        "04_confirmed_pairs",
        lambda: verify_op.confirm_pairs(
            candidates, docs, cfg, id_col="doc_id", text_col="text",
            compute_lcs=compute_lcs,
        ),
    )
    # cluster edges = verified near-dup pairs ∪ exact-dup pairs.  Exact pairs
    # come straight from the sha256 stage so identical texts cluster even
    # when they are too short for shingling (banding excludes empty
    # signatures — see operators/lsh.py).
    exact_edges = exact.where(F.col("is_duplicate") == 1).select(
        F.col("cluster_id").alias("a_id"), F.col("doc_id").alias("b_id")
    )
    edges = (
        confirmed.where(F.col("confirmed") == 1)
        .select("a_id", "b_id")
        .unionByName(exact_edges)
    )
    clusters = _stage(
        "05_clusters",
        lambda: cluster_op.clusters_from_pairs(docs, edges, id_col="doc_id").orderBy(
            "doc_id"
        ),
    )
    return PipelineResult(
        signed=signed,
        exact_clusters=exact,
        candidates=candidates,
        confirmed=confirmed,
        clusters=clusters,
        metrics=stager.metrics,
    )
