"""Bounded deterministic stream replay — streaming operators under the oracle.

The reference's pipeline is a stream (SPar ``[[spar::ToStream]]``,
/root/reference/src/encoder_spar.cpp:89-315); its correctness story is that
the streamed result equals the batch result.  This module makes that
checkable by the driver's DuckDB oracle: it stages a table as ``n_batches``
single-file parquet slices with strictly ascending modification times, so
Spark's file stream source (``maxFilesPerTrigger=1`` + ``availableNow``)
replays them as deterministic doc_id-ordered micro-batches, then runs a
streaming operator to completion and returns the final table.

Determinism argument (why a first-writer-wins stream equals the batch
MIN(doc_id) oracle): batch *i* holds exactly doc_ids ``[i*per, (i+1)*per)``
and batches fire in ascending order, so the first batch in which a sha256
appears contains that group's smallest doc_id, and within a batch the
smallest doc_id is chosen — hence representative == global MIN(doc_id),
independent of executor scheduling.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dedup_gpu_stream_parallelism_spark.config import DedupConfig
from dedup_gpu_stream_parallelism_spark.session import local_frame
from dedup_gpu_stream_parallelism_spark.streaming.dedup_stream import (
    NearDupStream,
    exact_dedup_stream,
    windowed_event_stats,
)

#: batch count used by the driver replay queries AND their oracle SQL —
#: the SQL recomputes the same ranges with (COUNT(*) + N - 1) // N.
REPLAY_BATCHES = 4


class SliceStagingError(RuntimeError):
    """A replay slice did not stage as exactly one parquet file."""


def _mtime_at(slot: int) -> float:
    """Slot *i*'s staged-file mtime: firmly in the past, strictly ascending
    with i, and stable across the seconds a staging sequence takes (floor
    of the clock so slot ordering can never interleave with wall time)."""
    return float(int(time.time())) - 3600.0 + 10.0 * slot


def _stage_single_file(df: DataFrame, dst: str, mtime: float) -> None:
    """Write ``df`` as exactly one parquet file at ``dst`` with the given
    mtime — the staging ritual shared by the range slices and the sentinel
    (one writer, so a fix to it cannot desynchronize the two)."""
    stage = dst + ".staging"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    data = [f for f in os.listdir(stage) if f.endswith(".parquet")]
    os.replace(os.path.join(stage, data[0]), dst)
    shutil.rmtree(stage)
    os.utime(dst, (mtime, mtime))


def stage_range_batches(
    docs: DataFrame,
    srcdir: str,
    n_batches: int = REPLAY_BATCHES,
    id_col: str = "doc_id",
    n: int | None = None,
) -> int:
    """Write ``docs`` as ``n_batches`` single-file parquet slices of
    contiguous ``id_col`` ranges, with strictly ascending mtimes so the file
    stream source replays them oldest-first, one file per trigger.

    Returns ``per`` — the range width; slice *i* holds ids in
    ``[i*per, (i+1)*per)``.  Ids are assumed 0..n-1 (the testdata contract,
    shared with the incremental queries).  Pass ``n`` when the caller
    already knows the row count to skip the count job.  Raises
    ``SliceStagingError`` if the write split a slice over several files
    (e.g. under ``spark.sql.files.maxRecordsPerFile``).
    """
    if n is None:
        n = docs.count()
    per = max(1, -(-n // n_batches))
    os.makedirs(srcdir, exist_ok=True)
    # ONE job stages every slice (vs n_batches filter+coalesce(1) jobs each
    # rescanning the source): the slice id is a derived column — exact
    # integer DIV, so [i*per, (i+1)*per) assignment is bit-identical to the
    # old range filters — the hash repartition puts each slice value in
    # exactly one task, and the partitioned write emits exactly one file
    # per non-empty slice.  sortWithinPartitions keeps file row order
    # deterministic (ascending ids, like the filtered writes produced).
    stage = os.path.join(srcdir, "_slices.staging")
    (
        docs.withColumn("_slice", F.expr(f"CAST(`{id_col}` DIV {per} AS INT)"))
        .repartition(n_batches, "_slice")
        .sortWithinPartitions(id_col)
        .write.mode("overwrite")
        .partitionBy("_slice")
        .parquet(stage)
    )
    for i in range(n_batches):
        dst = os.path.join(srcdir, f"{i:04d}.parquet")
        sdir = os.path.join(stage, f"_slice={i}")
        files = (
            [f for f in os.listdir(sdir) if f.endswith(".parquet")]
            if os.path.isdir(sdir)
            else []
        )
        if len(files) > 1:
            raise SliceStagingError(
                f"slice {i} of {srcdir!r} staged as {len(files)} parquet "
                f"files ({sorted(files)}); the replay needs exactly one file "
                "per slice (one trigger each)"
            )
        if files:
            os.replace(os.path.join(sdir, files[0]), dst)
            os.utime(dst, (_mtime_at(i), _mtime_at(i)))
        else:
            # empty id range: still stage a schema-bearing empty file so
            # the replay fires exactly n_batches triggers
            _stage_single_file(docs.limit(0), dst, _mtime_at(i))
    shutil.rmtree(stage)
    return per


def shared_staged_docs(
    docs: DataFrame,
    sf_dir: str,
    n_batches: int = REPLAY_BATCHES,
    id_col: str = "doc_id",
) -> str:
    """Stage ``docs`` as replay slices ONCE per (dataset, projection,
    process) and return the srcdir; later callers in the same process (the
    dedup and near-dup replays read identical slices) reuse the files
    instead of re-counting and re-writing them.  The cache key folds in the
    frame's schema, so a differently-projected frame of the same dataset
    stages its own slices rather than silently reusing mismatched ones —
    but the schema can't see a FILTERED frame, so callers must pass the
    same unfiltered dataset read (both shipping callers do).  Slices are
    immutable once the ``_staged`` marker lands, so sharing cannot race:
    the marker is written only after every slice file is in place.
    Staged dirs of dead processes are swept on entry."""
    import hashlib

    digest = hashlib.md5(
        os.path.abspath(sf_dir).encode()
        + docs.schema.simpleString().encode()
    ).hexdigest()[:8]
    root = os.path.join("/tmp", "spark_graft_stream")
    _sweep_dead_pid_dirs(root)
    srcdir = os.path.join(
        root, f"staged_{id_col}_{n_batches}_{digest}_{os.getpid()}"
    )
    marker = os.path.join(srcdir, "_staged")
    if not os.path.exists(marker):
        shutil.rmtree(srcdir, ignore_errors=True)
        stage_range_batches(docs, srcdir, n_batches, id_col=id_col)
        open(marker, "w").close()
    return srcdir


def _sweep_dead_pid_dirs(root: str) -> None:
    """Remove staged/work dirs whose trailing ``_<pid>`` process is gone —
    keeps repeated sessions from accumulating slice copies under /tmp.
    Live processes (concurrent driver grading + bench runs) are left
    alone; a pid recycled onto an unrelated process at worst keeps one
    stale dir until the next sweep."""
    try:
        names = os.listdir(root)
    except FileNotFoundError:
        return
    for name in names:
        pid_part = name.rsplit("_", 1)[-1]
        if not pid_part.isdigit() or int(pid_part) == os.getpid():
            continue
        if not os.path.exists(f"/proc/{pid_part}"):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def _dense_rank_ids(
    df: DataFrame,
    sort_cols: list[str],
    out_col: str = "rid",
    n_parts: int | None = None,
) -> tuple[DataFrame, int, DataFrame]:
    """Global dense rank over ``sort_cols`` WITHOUT a single-task sort:
    ``repartitionByRange`` orders partitions globally, a per-partition
    count job yields each partition's starting offset, and a mapInPandas
    pass adds ``offset + local_index`` — two small jobs, every stage as
    wide as the cluster (the fix for the no-partition ``Window.orderBy``
    anti-pattern, which moves ALL rows through one task).  Returns
    ``(ranked_df, n_rows, parts)`` where ``parts`` is the persisted
    range-partitioned frame the ranks were computed against (the partition
    boundaries the offsets saw must be the ones the rank pass sees) —
    the CALLER must ``parts.unpersist()`` after materializing
    ``ranked_df``."""
    spark = df.sparkSession
    n_parts = n_parts or spark.sparkContext.defaultParallelism
    parts = (
        df.repartitionByRange(n_parts, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .persist()
    )
    counts = (
        parts.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .count()
        .collect()
    )  # one row per partition — bounded by cluster width, never by data
    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += row["count"]
    b_off = spark.sparkContext.broadcast(offsets)
    fields = df.columns

    def add_rid(batches):
        from pyspark import TaskContext

        at = b_off.value.get(TaskContext.get().partitionId(), 0)
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = range(at, at + len(pdf))
            at += len(pdf)
            yield pdf

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {out_col} bigint"
    ranked = parts.mapInPandas(add_rid, schema=schema).select(out_col, *fields)
    return ranked, acc, parts


def fresh_workdir(tag: str, sf_dir: str) -> str:
    """Per-(query, dataset, process) scratch dir under /tmp, wiped on entry
    so reruns never resume a finished checkpoint.  The pid component keeps
    concurrent sessions (driver grading while a bench runs) from wiping
    each other's live stream state; the path hash disambiguates datasets
    sharing a basename.  Bounded: one live copy per (tag, dataset) within
    a process; dirs of dead processes are ordinary /tmp garbage."""
    import hashlib

    digest = hashlib.md5(
        os.path.abspath(sf_dir).encode()
    ).hexdigest()[:8]
    work = os.path.join(
        "/tmp", "spark_graft_stream", f"{tag}_{digest}_{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work, exist_ok=True)
    return work


def stream_dedup_replay(
    spark: SparkSession,
    docs: DataFrame,
    workdir: str,
    n_batches: int = REPLAY_BATCHES,
    staged_src: str | None = None,
) -> DataFrame:
    """Run ``exact_dedup_stream`` over a bounded replay of ``docs`` and
    return the final (doc_id, sha256, representative_id, is_duplicate)
    table — deterministic, so the batch dedup-manifest SQL is its oracle.
    ``staged_src`` (from ``shared_staged_docs``) reuses already-staged
    slices instead of re-counting and re-writing them."""
    docs = docs.select(F.col("doc_id").cast("bigint").alias("doc_id"), "text")
    srcdir = staged_src or os.path.join(workdir, "src")
    outdir = os.path.join(workdir, "out")
    cpdir = os.path.join(workdir, "checkpoint")
    if staged_src is None:
        stage_range_batches(docs, srcdir, n_batches)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcdir)
    )
    query = (
        exact_dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", cpdir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.read.parquet(outdir).select(
        "doc_id", "sha256", "representative_id", "is_duplicate"
    )


def stream_near_dup_replay(
    spark: SparkSession,
    docs: DataFrame,
    workdir: str,
    cfg: DedupConfig | None = None,
    n_batches: int = REPLAY_BATCHES,
    n_buckets: int = 8,
    compact_every: int | None = 2,
    staged_src: str | None = None,
) -> DataFrame:
    """Run ``NearDupStream`` (probe → emit → insert, with mid-stream index
    compaction) over a bounded replay and return the final cross-batch
    match table (doc_id, matched_id).

    Deterministic: a pair (a < b) sharing an LSH band key is emitted exactly
    once — in b's batch, probing the index that already holds a — iff a and
    b land in different range batches.  The oracle recomputes exactly that
    set from the signature CTEs (``stream_matches_sql``).  ``staged_src``
    (from ``shared_staged_docs``) reuses already-staged slices.
    """
    cfg = cfg or DedupConfig()
    docs = docs.select(F.col("doc_id").cast("bigint").alias("doc_id"), "text")
    srcdir = staged_src or os.path.join(workdir, "src")
    if staged_src is None:
        stage_range_batches(docs, srcdir, n_batches)
    nds = NearDupStream(
        index_dir=os.path.join(workdir, "index"),
        out_dir=os.path.join(workdir, "matches"),
        cfg=cfg,
        confirm=False,
        n_buckets=n_buckets,
        compact_every=compact_every,
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcdir)
        # each staged slice is one file = one scan partition; spread the
        # signature UDF across the cluster before foreachBatch sees it
        .repartition(spark.sparkContext.defaultParallelism)
    )
    query = nds.attach(stream, os.path.join(workdir, "checkpoint")).start()
    query.awaitTermination()
    return spark.read.parquet(nds.out_dir).select("doc_id", "matched_id")


SENTINEL_TYPE = "__sentinel"


def stream_window_stats_replay(
    spark: SparkSession,
    events: DataFrame,
    workdir: str,
    n_batches: int = REPLAY_BATCHES,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Run the watermarked tumbling-window aggregation
    (``windowed_event_stats``, exact-int shape) over a bounded
    event-time-ordered replay and return the final closed-window table.

    Determinism: events are staged in (ts, event_id) order, so the
    watermark advances monotonically batch to batch and no real event is
    ever late — append mode then emits every real window exactly once.  A
    single SENTINEL event 4h past max(ts), staged as its own final
    micro-batch, pushes the watermark past the last real window's end so
    it closes before the stream terminates (the sentinel's own window
    never closes and is never emitted).  Result == the batch GROUP BY —
    the window-stats twin of the dedup replay oracle.
    """
    from datetime import timedelta

    ev = events.select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        "user_id",
        "value",
    )
    # replay ids in event-time order → range batches = time-ordered
    # batches.  Distributed dense rank (range partitions + offsets), NOT a
    # no-partition Window.orderBy — that would sort every event in one
    # task.  Materialize the ranked frame once; the per-slice filters then
    # scan parquet instead of re-running the rank pass four times.
    ranked, n, parts = _dense_rank_ids(ev, ["ts", "event_id"])
    rid = ranked.select("rid", "ts", "event_type", "user_id", "value")
    srcdir = os.path.join(workdir, "src")
    # stage straight off the (persisted-parts-backed) ranked frame: the old
    # intermediate ranked.parquet write + re-read bought nothing — staging
    # is now a single job either way (stage_range_batches)
    stage_range_batches(rid, srcdir, n_batches, id_col="rid", n=n)
    max_ts = parts.agg(F.max("ts")).first()[0]
    parts.unpersist()
    if not n:
        # no events → no windows; nothing for a sentinel to flush
        return local_frame(
            spark,
            [],
            "window_start_epoch bigint, event_type string, "
            "n_events bigint, sum_value_micro bigint",
        )
    # The sentinel is ONE local row — write its parquet directly with
    # pyarrow instead of scheduling a Spark job for it.  Schema is cloned
    # from slice 0 so the file is byte-compatible with the staged slices;
    # the 48 h margin makes the watermark push robust to any timestamp
    # interpretation detail (only "past every real window" matters — the
    # sentinel row itself is filtered out of the result).
    import pyarrow as pa
    import pyarrow.parquet as pq

    sch = pq.read_schema(os.path.join(srcdir, "0000.parquet"))
    # Spark reads ``ts`` as TIMESTAMP (tz-adjusted, MICROS); the INT96
    # slice schema reads back as naive ns, which pyarrow would write as
    # INT64 nanos — a physical type Spark's vectorized reader rejects.
    # Force TIMESTAMP_MICROS with isAdjustedToUTC=true.
    sch = pa.schema(
        [
            pa.field(f.name, pa.timestamp("us", tz="UTC"))
            if pa.types.is_timestamp(f.type)
            else f
            for f in sch
        ]
    )
    row = {
        "rid": [int(n)],
        "ts": [max_ts + timedelta(hours=48)],
        "event_type": [SENTINEL_TYPE],
        "user_id": [0],
        "value": [0.0],
    }
    table = pa.Table.from_pydict({f.name: row[f.name] for f in sch}, schema=sch)
    # slot n_batches = strictly newest mtime: processed as the final batch
    dst = os.path.join(srcdir, f"{n_batches:04d}.parquet")
    pq.write_table(table, dst)
    os.utime(dst, (_mtime_at(n_batches), _mtime_at(n_batches)))

    stream = (
        spark.readStream.schema(rid.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcdir)
    )
    outdir = os.path.join(workdir, "out")
    query = (
        windowed_event_stats(stream, window, watermark, exact_ints=True)
        .writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", os.path.join(workdir, "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.read.parquet(outdir).where(
        F.col("event_type") != SENTINEL_TYPE
    )
