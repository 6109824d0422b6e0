"""The workloads and their parts.  Each part drives the engine only through
its public entry points, over inputs from ``inputs.generate``, and checks
what comes back against the planted ground truth; a workload runs its parts
in turn as one operation (``Composite``).

Every part has:

* ``op(spark)`` — one timed operation, returning an ``OpResult``;
* ``check(result)`` — failures of the output against the planted truth;
* ``traced(spark, tracer)`` — the same work as ``op``, composed from each
  module's public functions in the order the entry point uses them, every
  intermediate materialized (``localCheckpoint`` + count) inside its own
  span.  It returns an ``OpResult`` whose digest must equal the untraced
  one, which catches drift between this composition and the entry point.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
from pyspark.sql import functions as F

from dedup_gpu_stream_parallelism_spark.config import DedupConfig
from dedup_gpu_stream_parallelism_spark.operators import cluster as cluster_op
from dedup_gpu_stream_parallelism_spark.operators import exact as exact_op
from dedup_gpu_stream_parallelism_spark.operators import lsh as lsh_op
from dedup_gpu_stream_parallelism_spark.operators import similarity as sim_op
from dedup_gpu_stream_parallelism_spark.operators import store as store_op
from dedup_gpu_stream_parallelism_spark.operators import verify as verify_op
from dedup_gpu_stream_parallelism_spark.functions import lzss_codec
from dedup_gpu_stream_parallelism_spark.functions.signatures import sign_documents
from dedup_gpu_stream_parallelism_spark.plans.pipeline import run_pipeline
from dedup_gpu_stream_parallelism_spark.sources import ddp_format
from dedup_gpu_stream_parallelism_spark.streaming.dedup_stream import NearDupStream

#: planted pairs a near-dup engine must cluster: exact copies and the
#: ~0.95 / ~0.85 Jaccard edit bands (the ~0.5 band is below the pinned
#: 0.7 threshold by design, and substring/boilerplate pairs are judged by
#: other rules)
RECALL_KINDS = ("exact", "near0.005", "near0.02")
#: cosine threshold for embedding clustering; planted members sit at ~0.97,
#: independent vectors far below (inputs.embedding_vectors)
EMBED_THRESHOLD = 0.9
EMBED_K = 5
#: the star strategy is what jobs/near_dup_job.py runs: all_pairs is
#: quadratic in the 20% boilerplate bucket (227 s vs 11-19 s at 5000 files)
PAIR_STRATEGY = "star"
STREAM_BUCKETS = 8
STREAM_COMPACT_EVERY = 2
#: unique payloads the traced run round-trips through the LZSS codec in
#: process (the pure-Python encoder runs at about 0.15 MB/s on a Xeon VM core)
LZSS_PAYLOADS = 400


@dataclass
class OpResult:
    seconds: float
    #: named timings and ratios, reported as medians over the run
    parts: dict[str, float]
    #: the checked output; its digest must repeat
    rows: list
    quality: float = 0.0
    extra: dict = field(default_factory=dict)
    #: facts about the output that are recorded but not checked
    notes: dict = field(default_factory=dict)

    def digest(self) -> str:
        h = hashlib.sha256()
        for r in self.rows:
            h.update(repr(r).encode())
            h.update(b"\n")
        return h.hexdigest()


def roundrobin_exchanges(df) -> int:
    """RoundRobinPartitioning exchanges in ``df``'s physical plan."""
    return df._jdf.queryExecution().executedPlan().toString().count(
        "RoundRobinPartitioning"
    )


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _docs(spark, path: str):
    return spark.read.parquet(path).select(
        F.col("file_id").cast("bigint").alias("doc_id"), F.col("content").alias("text")
    )


class NearDup:
    """Batch near-dup clustering: ``run_pipeline(materialize="edges")``."""

    name = "neardup"

    def __init__(self, inp, work: str):
        self.inp = inp
        self.work = work
        self.n = inp.meta["files"]
        self.cfg = DedupConfig()
        self.pairs = [(a, b) for a, b, k in inp.truth.pairs if k in RECALL_KINDS]
        self.exact_pairs = [(a, b) for a, b, k in inp.truth.pairs if k == "exact"]

    def _run(self, spark, path: str) -> list:
        res = run_pipeline(
            spark.read.parquet(path), self.cfg, id_col="file_id",
            text_col="content", pair_strategy=PAIR_STRATEGY, materialize="edges",
        )
        # collecting (doc_id, cluster_id) materializes every cluster row, as
        # a noop sink would, and hands the output to the check in the same run
        return [(r[0], r[1]) for r in res.clusters.collect()]

    def op(self, spark) -> OpResult:
        t0 = time.perf_counter()
        rows = self._run(spark, self.inp.meta["path"])
        dt = time.perf_counter() - t0
        return self._result(dt, rows)

    def _result(self, dt: float, rows: list) -> OpResult:
        rows = sorted(rows)
        clus = dict(rows)
        hit = sum(clus.get(a, -1) == clus.get(b, -2) for a, b in self.pairs)
        recall = hit / len(self.pairs)
        return OpResult(dt, {"neardup.wall_s": dt, "neardup.pair_recall": recall},
                        rows, quality=recall)

    def check(self, res: OpResult) -> list[str]:
        clus = dict(res.rows)
        fails = []
        if sorted(clus) != list(range(self.n)) or len(res.rows) != self.n:
            fails.append("clusters do not hold every doc exactly once")
        missed = [(a, b) for a, b in self.exact_pairs if clus.get(a) != clus.get(b)]
        if missed:
            fails.append(f"{len(missed)} planted exact pairs split, e.g. {missed[:3]}")
        return fails

    def traced(self, spark, tr) -> OpResult:
        cfg = self.cfg
        layer: dict[str, float] = {}
        t0 = time.perf_counter()
        docs = _docs(spark, self.inp.meta["path"])
        # run_pipeline widens a narrow scan before the signature UDF
        par = spark.sparkContext.defaultParallelism
        if docs.rdd.getNumPartitions() < par:
            docs = docs.repartition(par)
        rr = 0
        with tr.span("signatures") as sp:
            signed = sign_documents(
                docs, text_col="text", cfg=cfg, with_chunk_keys=True
            ).withColumn("partition_id", F.spark_partition_id())
            banded = lsh_op.all_candidate_keys(signed, cfg)
            rr += roundrobin_exchanges(banded)
            banded = banded.localCheckpoint()
            sp.counts["band_keys"] = banded.count()
        layer["signatures.docs"] = self.n
        with tr.span("exact") as sp:
            exact = exact_op.exact_dup_clusters(docs, "doc_id", "text")
            rr += roundrobin_exchanges(exact)
            exact = exact.localCheckpoint()
            sp.counts["rows"] = exact.count()
        with tr.span("lsh") as sp:
            cand = lsh_op.candidate_pairs(banded, cfg, strategy=PAIR_STRATEGY)
            rr += roundrobin_exchanges(cand)
            cand = cand.localCheckpoint()
            n_cand = sp.counts["candidates"] = cand.count()
        with tr.span("verify") as sp:
            conf = verify_op.confirm_pairs(
                cand, docs, cfg, id_col="doc_id", text_col="text", compute_lcs=True
            )
            rr += roundrobin_exchanges(conf)
            conf = conf.localCheckpoint()
            sp.counts["pairs"] = conf.count()
            n_conf = sp.counts["confirmed"] = conf.where(F.col("confirmed") == 1).count()
        edges = (
            conf.where(F.col("confirmed") == 1).select("a_id", "b_id")
            .unionByName(
                exact.where(F.col("is_duplicate") == 1).select(
                    F.col("cluster_id").alias("a_id"), F.col("doc_id").alias("b_id")
                )
            )
        )
        with tr.span("cluster") as sp:
            clusters = cluster_op.clusters_from_pairs(docs, edges, id_col="doc_id")
            rows = [(r[0], r[1]) for r in clusters.orderBy("doc_id").collect()]
        dt = time.perf_counter() - t0
        layer.update({
            "cluster.edges": edges.count(),
            "lsh.candidates": n_cand,
            "verify.confirmed_share": n_conf / n_cand if n_cand else 0.0,
            "partitioning.roundrobin_exchanges": rr,
        })
        res = self._result(dt, rows)
        res.extra["layer"] = layer
        return res


class Archive:
    """The paper's own job: chunk-level dedup store, then the ``.ddp``
    byte stream written with LZSS and read back with a per-doc sha256
    check."""

    name = "archive"

    def __init__(self, inp, work: str):
        self.inp = inp
        self.work = work
        self.n = inp.meta["files"]
        self.cfg = DedupConfig()

    def _paths(self, tag: str) -> tuple[str, str]:
        base = _fresh(os.path.join(self.work, "archive", tag))
        return os.path.join(base, "store"), os.path.join(base, "ddp")

    def _encode_store(self, docs, store_dir: str) -> int:
        manifest, store = store_op.chunk_encode_store(docs, self.cfg, persist=True)
        rr = roundrobin_exchanges(manifest) + roundrobin_exchanges(store)
        manifest.write.mode("overwrite").parquet(os.path.join(store_dir, "chunk_manifest"))
        store.write.mode("overwrite").parquet(os.path.join(store_dir, "chunk_store"))
        store_op.release_chunk_cache()
        return rr

    def _import_check(self, spark, docs, ddp_dir: str) -> list:
        # the per-doc sha256 join of ddp_format.ddp_roundtrip_check, apart
        # from its export so that export and import are timed separately
        decoded = ddp_format.import_ddp(spark, ddp_dir)
        orig = docs.select("doc_id", F.sha2(F.col("text"), 256).alias("sha256"))
        out = orig.join(decoded, "doc_id", "left").select(
            "doc_id",
            F.sha2(F.coalesce(F.col("data"), F.lit(b"")), 256).alias("got"),
            "sha256",
        )
        return [(r[0], r[1], int(r[1] == r[2])) for r in out.collect()]

    def _run(self, spark, path: str, tag: str) -> tuple[dict, list, str]:
        docs = _docs(spark, path)
        store_dir, ddp_dir = self._paths(tag)
        t0 = time.perf_counter()
        self._encode_store(docs, store_dir)
        t1 = time.perf_counter()
        ddp_format.export_ddp(docs, ddp_dir, self.cfg, compress_type="lzss")
        t2 = time.perf_counter()
        rows = self._import_check(spark, docs, ddp_dir)
        t3 = time.perf_counter()
        parts = {
            "archive.store_encode_s": t1 - t0,
            "archive.ddp_export_s": t2 - t1,
            "archive.ddp_import_s": t3 - t2,
        }
        return parts, rows, ddp_dir

    def op(self, spark) -> OpResult:
        parts, rows, ddp_dir = self._run(spark, self.inp.meta["path"], "op")
        return self._result(sum(parts.values()), parts, rows, ddp_dir)

    def _result(self, dt, parts, rows, ddp_dir) -> OpResult:
        shards = sorted(n for n in os.listdir(ddp_dir) if n.endswith(".ddp"))
        h = hashlib.sha256()
        size = 0
        for n in shards:
            with open(os.path.join(ddp_dir, n), "rb") as f:
                b = f.read()
            size += len(b)
            h.update(b)
        ratio = size / self.inp.meta["text_bytes"]
        parts = dict(parts, **{"archive.bytes_ratio": ratio})
        # the digest covers the decoded docs, not the shard bytes: export
        # range-partitions by sampled doc ids, so shard boundaries (and with
        # them per-shard fingerprint dedup) vary between exports of one input
        res = OpResult(dt, parts, sorted(rows))
        res.extra.update(shards=len(shards), ddp_bytes=size)
        res.notes["ddp_sha256"] = h.hexdigest()
        return res

    def check(self, res: OpResult) -> list[str]:
        fails = []
        if len(res.rows) != self.n:
            fails.append(f"{len(res.rows)} docs read back, {self.n} written")
        bad = [r[0] for r in res.rows if r[2] != 1]
        if bad:
            fails.append(f"{len(bad)} docs fail the sha256 round trip, e.g. {bad[:3]}")
        return fails

    def traced(self, spark, tr) -> OpResult:
        docs = _docs(spark, self.inp.meta["path"])
        store_dir, ddp_dir = self._paths("traced")
        t0 = time.perf_counter()
        with tr.span("store"):
            rr = self._encode_store(docs, store_dir)
        with tr.span("ddp_export"):
            ddp_format.export_ddp(docs, ddp_dir, self.cfg, compress_type="lzss")
        with tr.span("ddp_import"):
            rows = self._import_check(spark, docs, ddp_dir)
        dt = time.perf_counter() - t0
        walls = {s.name: s.wall_s for s in tr.spans}
        parts = {
            "archive.store_encode_s": walls["store"],
            "archive.ddp_export_s": walls["ddp_export"],
            "archive.ddp_import_s": walls["ddp_import"],
        }
        res = self._result(dt, parts, rows, ddp_dir)
        n_chunks = _parquet_rows(os.path.join(store_dir, "chunk_manifest"))
        n_unique = _parquet_rows(os.path.join(store_dir, "chunk_store"))
        layer = {
            "chunk.chunks": n_chunks,
            "store.unique_chunk_share": n_unique / n_chunks if n_chunks else 0.0,
            "store.roundrobin_exchanges": rr,
            "partitioning.roundrobin_exchanges": rr,
            "ddp.export_s": walls["ddp_export"],
            "ddp.import_s": walls["ddp_import"],
            "ddp.bytes_written": res.extra["ddp_bytes"],
            "ddp.shards": res.extra["shards"],
        }
        layer.update(lzss_round_trip(os.path.join(store_dir, "chunk_store")))
        res.extra["layer"] = layer
        return res


def _parquet_rows(d: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(d, f)).num_rows
        for f in os.listdir(d) if f.endswith(".parquet")
    )


def lzss_round_trip(store_dir: str) -> dict:
    """In-process LZSS encode then decode of up to ``LZSS_PAYLOADS`` unique
    chunk payloads of the archive (the first by sha256, so the sample is
    deterministic); raises unless every round trip is byte-exact."""
    import pyarrow.parquet as pq

    payloads = sorted(
        pq.read_table(store_dir, columns=["chunk_sha", "payload"]).to_pylist(),
        key=lambda r: r["chunk_sha"],
    )[:LZSS_PAYLOADS]
    payloads = [r["payload"].encode("utf-8") for r in payloads]
    raw = sum(len(p) for p in payloads)
    t0 = time.perf_counter()
    enc = [lzss_codec.lzss_encode(p) for p in payloads]
    t1 = time.perf_counter()
    dec = [lzss_codec.lzss_decode(e) for e in enc]
    t2 = time.perf_counter()
    bad = sum(d != p for d, p in zip(dec, payloads))
    if bad:
        raise AssertionError(f"LZSS round trip differs on {bad} of {len(payloads)} payloads")
    return {
        "lzss.encode_mb_per_s": raw / 1e6 / (t1 - t0),
        "lzss.decode_mb_per_s": raw / 1e6 / (t2 - t1),
    }


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile with at least ten samples beyond it."""
    if n < 20:
        return None
    return int(100 * (n - 10) / n)


def _ts(s: str) -> float:
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


class Stream:
    """The corpus replayed as range slices, one file per trigger, through
    ``NearDupStream(confirm=True)``: probe the band index, verify against
    the text index, insert."""

    name = "stream"

    def __init__(self, inp, work: str):
        self.inp = inp
        self.work = work
        self.n = inp.meta["files"]
        self.per = inp.meta["per_slice"]
        self.cfg = DedupConfig()
        cross = [
            (a, b, k) for a, b, k in inp.truth.pairs
            if k in RECALL_KINDS and a // self.per != b // self.per
        ]
        self.cross_pairs = [(a, b) for a, b, _ in cross]
        self.cross_exact = [(a, b) for a, b, k in cross if k == "exact"]
        self.runs = 0

    def _run(self, spark, slices: str, wrap=None) -> dict:
        self.runs += 1
        w = _fresh(os.path.join(self.work, "stream", f"run{self.runs}"))
        nds = NearDupStream(
            index_dir=os.path.join(w, "index"), out_dir=os.path.join(w, "matches"),
            cfg=self.cfg, confirm=True, n_buckets=STREAM_BUCKETS,
            compact_every=STREAM_COMPACT_EVERY,
        )
        if wrap:
            nds.process_batch = wrap(nds.process_batch)
        source = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(slices)
            # as streaming.replay does: one slice is one scan partition, so
            # spread the signature UDF before foreachBatch sees it
            .repartition(spark.sparkContext.defaultParallelism)
        )
        t0 = time.perf_counter()
        q = nds.attach(source, os.path.join(w, "checkpoint")).start()
        q.awaitTermination()
        dt = time.perf_counter() - t0
        matches = spark.read.parquet(nds.out_dir).select(
            "doc_id", "matched_id", "confirmed"
        ).collect()
        return {
            "index_dir": nds.index_dir, "run_id": q.runId, "seconds": dt,
            "progress": [p for p in q.recentProgress if p["numInputRows"] > 0],
            "matches": sorted((r[0], r[1], r[2]) for r in matches),
        }

    def op(self, spark, wrap=None) -> OpResult:
        return self._result(self._run(spark, self.inp.meta["slices_dir"], wrap))

    def _result(self, r: dict) -> OpResult:
        prog = r["progress"]
        trig = [p["durationMs"]["triggerExecution"] / 1000.0 for p in prog]
        first = _ts(prog[0]["timestamp"])
        last_commit = _ts(prog[-1]["timestamp"]) + trig[-1]
        docs = sum(p["numInputRows"] for p in prog)
        matched = {d for d, _, c in r["matches"] if c == 1}
        hit = sum(b in matched for _, b in self.cross_pairs)
        recall = hit / len(self.cross_pairs) if self.cross_pairs else 1.0
        res = OpResult(
            r["seconds"],
            {
                "stream.replay_s": r["seconds"],
                "stream.trigger_p50_s": statistics.median(trig),
                "stream.docs_per_s": docs / (last_commit - first),
                "stream.pair_recall": recall,
            },
            r["matches"], quality=recall,
        )
        res.extra.update(triggers=trig, raw=r)
        return res

    def check(self, res: OpResult) -> list[str]:
        fails = []
        confirmed = {d for d, _, c in res.rows if c == 1}
        unmatched = [(a, b) for a, b in self.cross_exact if b not in confirmed]
        if unmatched:
            fails.append(
                f"{len(unmatched)} cross-slice planted exact pairs left unmatched, "
                f"e.g. {unmatched[:3]}"
            )
        # a trigger probes only the index of earlier slices
        late = [(d, m) for d, m, _ in res.rows if m // self.per >= d // self.per]
        if late:
            fails.append(f"{len(late)} matches against a same- or later-slice doc")
        if len(res.extra["triggers"]) != self.inp.meta["slices"]:
            fails.append(f"{len(res.extra['triggers'])} triggers for "
                         f"{self.inp.meta['slices']} slices")
        return fails

    def traced(self, spark, tr) -> OpResult:
        pb_s: list[float] = []

        def wrap(fn):
            def timed(df, batch_id):
                t = time.perf_counter()
                fn(df, batch_id)
                pb_s.append(time.perf_counter() - t)
            return timed

        with tr.span("dedup_stream") as sp:
            res = self.op(spark, wrap)
        raw = res.extra["raw"]
        # the query's jobs run in its own thread, under its run id as group
        sp.groups.add(raw["run_id"])
        prog = raw["progress"]
        res.seconds = sp.wall_s
        res.extra["stream_run_id"] = raw["run_id"]
        res.extra["layer"] = {
            "neardupstream.process_batch_s": statistics.median(pb_s),
            "neardupstream.index_files": sum(
                f.endswith(".parquet")
                for _, _, fs in os.walk(raw["index_dir"]) for f in fs
            ),
            "stream.add_batch_ms": statistics.median(
                p["durationMs"]["addBatch"] for p in prog),
            "stream.commit_ms": statistics.median(
                p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)
                for p in prog),
        }
        return res


class Embed:
    """Embedding near-dup clustering and IVF top-k over seeded vectors with
    planted clusters: the only workload where ``operators/similarity.py``
    does the work."""

    name = "embed"

    def __init__(self, inp, work: str):
        self.inp = inp
        self.work = work
        vecs = inp.truth["vecs"].astype(np.float64)
        self.n = len(vecs)
        self.clusters = inp.truth["clusters"]
        unit = vecs / np.linalg.norm(vecs, axis=1)[:, None]
        sims = unit @ unit.T
        np.fill_diagonal(sims, -np.inf)
        self.exact_topk = np.argsort(-sims, axis=1)[:, :EMBED_K]
        self.ivf = sim_op.derive_ivf_params(self.n)

    def _emb(self, spark):
        return spark.read.parquet(self.inp.meta["path"])

    def _ivf(self, emb) -> list:
        return [
            (r[0], r[1], r[2])
            for r in sim_op.ivf_topk(
                emb, k=EMBED_K, n_centroids=self.ivf[0], n_probe=self.ivf[1]
            ).collect()
        ]

    def op(self, spark) -> OpResult:
        emb = self._emb(spark)
        t0 = time.perf_counter()
        cl = [(r[0], r[1]) for r in sim_op.embedding_near_dup_clusters(
            emb, EMBED_THRESHOLD).collect()]
        t1 = time.perf_counter()
        top = self._ivf(emb)
        t2 = time.perf_counter()
        return self._result(t2 - t0, {"embed.clusters_s": t1 - t0,
                                      "embed.ivf_topk_s": t2 - t1}, cl, top)

    def _result(self, dt, parts, cl, top) -> OpResult:
        got: dict[int, set] = {}
        for v, nb, _ in top:
            got.setdefault(v, set()).add(nb)
        hit = sum(len(got.get(v, set()) & set(self.exact_topk[v].tolist()))
                  for v in range(self.n))
        recall = hit / (self.n * EMBED_K)
        parts = dict(parts, **{"embed.ivf_recall": recall})
        return OpResult(dt, parts,
                        [("c",) + x for x in sorted(cl)] + [("t",) + x for x in sorted(top)],
                        quality=recall)

    def check(self, res: OpResult) -> list[str]:
        cl = {x[1]: x[2] for x in res.rows if x[0] == "c"}
        fails = []
        if len(cl) != self.n:
            fails.append(f"{len(cl)} of {self.n} vectors clustered")
        groups: dict[int, set] = {}
        for v, c in cl.items():
            groups.setdefault(c, set()).add(v)
        want = {frozenset(m) for m in self.clusters}
        got = {frozenset(g) for g in groups.values() if len(g) > 1}
        if got != want:
            fails.append(
                f"planted clusters not recovered: {len(want - got)} missing, "
                f"{len(got - want)} unexpected"
            )
        return fails

    def traced(self, spark, tr) -> OpResult:
        emb = self._emb(spark)
        t0 = time.perf_counter()
        # embedding_near_dup_clusters = the blocked exact pair kernel, then
        # connected components over the pairs
        with tr.span("similarity_pairs") as sp:
            pairs = sim_op.cosine_near_dup_pairs(emb, EMBED_THRESHOLD, strategy="blocked")
            pairs = pairs.localCheckpoint()
            n_pairs = pairs.count()
        with tr.span("similarity_cluster"):
            vids = emb.select(F.col("vec_id").alias("doc_id"))
            cl = [(r[0], r[1]) for r in cluster_op.clusters_from_pairs(
                vids, pairs, id_col="doc_id").collect()]
        t1 = time.perf_counter()
        with tr.span("similarity_ivf") as sp_ivf:
            top = self._ivf(emb)
        t2 = time.perf_counter()
        res = self._result(t2 - t0, {"embed.clusters_s": t1 - t0,
                                     "embed.ivf_topk_s": t2 - t1}, cl, top)
        res.extra["layer"] = {
            "similarity.pairs": n_pairs,
            "similarity.pairs_s": sp.wall_s,
            "similarity.ivf_s": sp_ivf.wall_s,
            "similarity.ivf_recall": res.quality,
        }
        return res


def spawn_workers(spark) -> None:
    """Start one Python worker per task slot (workers are reused by later
    UDF tasks), each importing the engine's kernels."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInPandas(_import_kernels, "id long").collect()


def _import_kernels(batches):
    import dedup_gpu_stream_parallelism_spark.functions.signatures  # noqa: F401

    yield from batches


class Composite:
    """Several parts measured as one operation: ``op`` runs each part's
    operation in turn and ``traced`` each part's traced composition.  The
    output is each part's digest; the quality is the first part's planted
    pair recall."""

    def __init__(self, name: str, parts: list):
        self.name = name
        self.parts = parts

    def _merge(self, results: list[OpResult]) -> OpResult:
        out = OpResult(sum(r.seconds for r in results), {}, [],
                       quality=results[0].quality)
        layer: dict = {}
        for p, r in zip(self.parts, results):
            out.parts.update(r.parts)
            out.parts[f"{p.name}.op_s"] = r.seconds
            out.rows += [(p.name, r.digest())]
            out.notes.update(r.notes)
            out.extra[p.name] = r
            for k, v in r.extra.get("layer", {}).items():
                layer[k] = layer.get(k, 0) + v if k.endswith("_exchanges") else v
            for k in ("triggers", "stream_run_id"):
                if k in r.extra:
                    out.extra[k] = r.extra[k]
        out.extra["layer"] = layer
        return out

    def op(self, spark) -> OpResult:
        return self._merge([p.op(spark) for p in self.parts])

    def check(self, res: OpResult) -> list[str]:
        return [f for p in self.parts for f in p.check(res.extra[p.name])]

    def traced(self, spark, tr) -> OpResult:
        return self._merge([p.traced(spark, tr) for p in self.parts])


PARTS = {w.name: w for w in (NearDup, Archive, Stream, Embed)}
WORKLOADS = {"batch": ("neardup", "archive", "embed"), "stream": ("stream",)}


def make(name: str, inputs_for, work: str):
    return Composite(name, [PARTS[p](inputs_for(p), work) for p in WORKLOADS[name]])
