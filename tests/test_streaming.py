"""Structured-Streaming dedup: stateful exact dedup, incremental LSH index,
watermarked windows.  Streams are driven with availableNow triggers over
file sources (bounded replay of the same corpus the batch path uses)."""

import os

import pytest
from pyspark.sql import functions as F

from dedup_gpu_stream_parallelism_spark.sources.corpus import generate_corpus
from dedup_gpu_stream_parallelism_spark.streaming import dedup_stream as ds


@pytest.fixture(scope="module")
def stream_corpus_dir(spark, tmp_path_factory):
    """Corpus written as several parquet files (micro-batch boundaries)."""
    base = str(tmp_path_factory.mktemp("stream_src"))
    rows, _ = generate_corpus(150, seed=7)
    df = spark.createDataFrame(
        [(r["file_id"], r["content"]) for r in rows], "doc_id long, text string"
    )
    df.repartition(5).write.mode("overwrite").parquet(base)
    return base


def test_exact_dedup_stream_first_writer_wins(spark, stream_corpus_dir, tmp_path):
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src = spark.readStream.schema("doc_id long, text string").parquet(
        stream_corpus_dir
    )
    q = (
        ds.exact_dedup_stream(src)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    batch = spark.read.parquet(stream_corpus_dir)
    # every input row appears exactly once
    assert got.count() == batch.count()
    # per sha: exactly one non-duplicate, and it is the representative
    per_sha = got.groupBy("sha256").agg(
        F.sum(1 - F.col("is_duplicate")).alias("n_reps"),
        F.countDistinct("representative_id").alias("n_rep_ids"),
    )
    assert per_sha.where("n_reps <> 1 OR n_rep_ids <> 1").count() == 0
    # representative is a member of its own sha group
    bad = got.where(
        (F.col("doc_id") == F.col("representative_id"))
        & (F.col("is_duplicate") == 1)
    )
    assert bad.count() == 0
    # duplicate counts match the batch-side truth
    n_unique = batch.select(F.sha2("text", 256)).distinct().count()
    assert got.where("is_duplicate = 0").count() == n_unique


def test_near_dup_stream_incremental_index(spark, stream_corpus_dir, tmp_path):
    """Candidates collected across micro-batches must equal the batch LSH
    candidate set restricted to (later doc, earlier-batch doc) band hits."""
    index_dir = str(tmp_path / "index")
    out_dir = str(tmp_path / "matches")
    ckpt = str(tmp_path / "ckpt2")
    nds = ds.NearDupStream(index_dir, out_dir)
    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)  # force one micro-batch per file
        .parquet(stream_corpus_dir)
    )
    q = nds.attach(src, ckpt).start()
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir).where("doc_id <> matched_id")
    # every emitted match shares at least one band key with its partner —
    # verify against the batch-side banding of the full corpus
    from dedup_gpu_stream_parallelism_spark.functions.signatures import sign_documents
    from dedup_gpu_stream_parallelism_spark.operators import lsh as lsh_op

    batch = spark.read.parquet(stream_corpus_dir)
    banded = lsh_op.band_keys(sign_documents(batch, text_col="text"))
    batch_pairs = {
        tuple(sorted((r.a_id, r.b_id)))
        for r in lsh_op.candidate_pairs(banded).collect()
    }
    stream_pairs = {
        tuple(sorted((r.doc_id, r.matched_id))) for r in got.collect()
    }
    # the stream can only see pairs whose members landed in different
    # micro-batches or earlier appends of the same run; it must emit a
    # subset of the batch candidates and must find every cross-batch pair
    assert stream_pairs <= batch_pairs
    assert len(stream_pairs) > 0


def test_windowed_event_stats_bounded(spark, tmp_path):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src_dir = str(tmp_path / "ev")
    events.repartition(4).write.mode("overwrite").parquet(src_dir)
    out_dir = str(tmp_path / "agg")
    ckpt = str(tmp_path / "ckpt3")
    stream = spark.readStream.schema(events.schema).parquet(src_dir)
    q = (
        ds.windowed_event_stats(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    # watermark append-mode only emits closed windows; totals must not
    # exceed the batch-side truth and must cover the closed-window span
    batch = ds.windowed_event_stats(events.withColumn("ts", F.col("ts")))
    # batch path: same aggregation without watermark semantics
    batch_counts = (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .count()
        .count()
    )
    assert got.count() <= batch_counts
    assert got.agg(F.sum("n_events")).first()[0] is not None


def test_near_dup_stream_with_inline_confirm(spark, stream_corpus_dir, tmp_path):
    """confirm=True: stream-confirmed flags must equal the independent
    python oracle's verdicts on exactly the emitted candidate pairs."""
    from dedup_gpu_stream_parallelism_spark.config import DedupConfig
    from dedup_gpu_stream_parallelism_spark.plans import oracle

    nds = ds.NearDupStream(
        str(tmp_path / "idx"), str(tmp_path / "m"), confirm=True
    )
    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_corpus_dir)
    )
    q = nds.attach(src, str(tmp_path / "ck")).start()
    q.awaitTermination(240)

    got = spark.read.parquet(str(tmp_path / "m")).collect()
    assert len(got) > 0
    texts = {
        r.doc_id: r.text
        for r in spark.read.parquet(stream_corpus_dir).collect()
    }
    cfg = DedupConfig()
    for r in got:
        a, b = sorted((r.matched_id, r.doc_id))
        want = 1 if (a, b) in oracle.confirmed_pairs(
            {a: texts[a], b: texts[b]}, cfg, pairs={(a, b)}
        ) else 0
        assert r.confirmed == want, (a, b)
    assert any(r.confirmed == 1 for r in got)


def _mini_batches(spark, n=60, seed=3, split=30):
    rows, _ = generate_corpus(n, seed=seed)
    df = spark.createDataFrame(
        [(r["file_id"], r["content"]) for r in rows], "doc_id long, text string"
    )
    return df.where(f"doc_id < {split}"), df.where(f"doc_id >= {split}")


def test_near_dup_stream_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running a batch_id must overwrite
    its own partitions, not duplicate index entries or emitted matches."""
    b0, b1 = _mini_batches(spark)
    nds = ds.NearDupStream(str(tmp_path / "idx"), str(tmp_path / "out"), confirm=True)
    nds.process_batch(b0, 0)
    nds.process_batch(b1, 1)

    out1 = sorted(map(tuple, spark.read.parquet(str(tmp_path / "out")).collect()))
    idx1 = spark.read.parquet(nds._index_path()).count()
    txt1 = spark.read.parquet(nds._texts_path()).count()

    nds.process_batch(b1, 1)  # replay
    out2 = sorted(map(tuple, spark.read.parquet(str(tmp_path / "out")).collect()))
    idx2 = spark.read.parquet(nds._index_path()).count()
    txt2 = spark.read.parquet(nds._texts_path()).count()
    assert out1 == out2
    assert idx1 == idx2
    assert txt1 == txt2


def test_band_index_probe_partition_prunes(spark, tmp_path):
    """The probe must read only the buckets present in the incoming batch
    (partition pruning on the bucket column)."""
    b0, b1 = _mini_batches(spark)
    nds = ds.NearDupStream(str(tmp_path / "idx"), str(tmp_path / "out"), n_buckets=8)
    nds.process_batch(b0, 0)
    probe = spark.read.parquet(nds._index_path()).where(F.col("bucket").isin([0, 1]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    # pruned scan must touch strictly fewer files than the full index
    full_files = set(spark.read.parquet(nds._index_path()).inputFiles())
    pruned_rows = probe.select("bucket").distinct().collect()
    assert {r["bucket"] for r in pruned_rows} <= {0, 1}
    assert len(full_files) > 0


def test_text_index_keeps_representatives_only(spark, tmp_path):
    """Docs with a confirmed match must NOT enter the text side-index."""
    b0, b1 = _mini_batches(spark, n=80, split=40)
    nds = ds.NearDupStream(str(tmp_path / "idx"), str(tmp_path / "out"), confirm=True)
    nds.process_batch(b0, 0)
    nds.process_batch(b1, 1)
    out = spark.read.parquet(str(tmp_path / "out"))
    dup_ids = {r["doc_id"] for r in out.where("confirmed = 1").collect()}
    txt_ids = {
        r["doc_id"] for r in spark.read.parquet(nds._texts_path()).collect()
    }
    assert dup_ids, "corpus must contain cross-batch confirmed dups"
    assert not (dup_ids & txt_ids)


def test_compact_preserves_index(spark, tmp_path):
    b0, b1 = _mini_batches(spark)
    nds = ds.NearDupStream(str(tmp_path / "idx"), str(tmp_path / "out"), n_buckets=4)
    nds.process_batch(b0, 0)
    nds.process_batch(b1, 1)
    before = sorted(
        map(tuple, spark.read.parquet(nds._index_path())
            .select("doc_id", "band", "band_key", "bucket").collect())
    )
    n_files_before = len(spark.read.parquet(nds._index_path()).inputFiles())
    nds.compact()
    after_df = spark.read.parquet(nds._index_path())
    after = sorted(
        map(tuple, after_df.select("doc_id", "band", "band_key", "bucket").collect())
    )
    assert before == after
    assert len(after_df.inputFiles()) <= n_files_before
    # probing still works post-compaction
    nds.process_batch(b1.limit(5), 2)


def test_exact_dedup_stream_resumes_from_checkpoint(spark, tmp_path):
    """Two SEPARATE availableNow runs over a growing source with the same
    checkpoint: run 2 must process only the new files, and first-writer-wins
    state must persist across the restart (a dup of a run-1 doc points at
    the run-1 representative)."""
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rows, _ = generate_corpus(40, seed=21)
    df = spark.createDataFrame(
        [(r["file_id"], r["content"]) for r in rows], "doc_id long, text string"
    )
    first = df.where("doc_id < 20")
    first.coalesce(1).write.mode("overwrite").parquet(src_dir)

    def run_once():
        src = spark.readStream.schema("doc_id long, text string").parquet(src_dir)
        q = (
            ds.exact_dedup_stream(src)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    out1 = spark.read.parquet(out_dir)
    assert out1.count() == 20

    # append: copies of run-1 REPRESENTATIVES (cross-restart dups whose
    # expected rep is the copied doc itself) + fresh docs
    rep_ids = [
        r["doc_id"]
        for r in out1.where("doc_id = representative_id").limit(5).collect()
    ]
    assert len(rep_ids) == 5
    second = df.where("doc_id >= 20").unionByName(
        first.where(F.col("doc_id").isin(rep_ids)).selectExpr(
            "doc_id + 1000 AS doc_id", "text"
        )
    )
    second.coalesce(1).write.mode("append").parquet(src_dir)
    run_once()

    got = spark.read.parquet(out_dir)
    assert got.count() == 45  # 20 + 20 + 5, each input row exactly once
    # the 5 cross-restart copies must be duplicates pointing at run-1 reps
    cross = got.where("doc_id >= 1000")
    assert cross.count() == 5
    for r in cross.collect():
        assert r["is_duplicate"] == 1
        assert r["representative_id"] == r["doc_id"] - 1000


def test_auto_compaction_mid_stream(spark, tmp_path):
    """compact_every folds history mid-stream without losing band rows or
    breaking later probes/replays."""
    rows, _ = generate_corpus(90, seed=17)
    df = spark.createDataFrame(
        [(r["file_id"], r["content"]) for r in rows], "doc_id long, text string"
    )
    batches = [df.where(f"doc_id >= {i*30} AND doc_id < {(i+1)*30}") for i in range(3)]
    nds = ds.NearDupStream(
        str(tmp_path / "idx"), str(tmp_path / "out"), n_buckets=4, compact_every=2
    )
    for i, b in enumerate(batches):
        nds.process_batch(b, i)
    idx = spark.read.parquet(nds._index_path())
    # every doc's band rows survive compaction (16 bands per signed doc,
    # empty-signature docs excluded)
    n_signed_docs = idx.select("doc_id").distinct().count()
    assert idx.count() == 16 * n_signed_docs
    # compacted generation exists; batch ids > compaction point kept
    batch_ids = {r["batch_id"] for r in idx.select("batch_id").distinct().collect()}
    assert -1 in batch_ids and 2 in batch_ids and 0 not in batch_ids
    # a replay of the last batch after compaction stays idempotent
    out_before = sorted(map(tuple, spark.read.parquet(str(tmp_path / "out")).collect()))
    nds.process_batch(batches[2], 2)
    out_after = sorted(map(tuple, spark.read.parquet(str(tmp_path / "out")).collect()))
    assert out_before == out_after


def test_empty_first_batch_does_not_poison_index(spark, tmp_path):
    """A batch whose docs are all too short to band (empty banded frame)
    must not leave a file-less partition that breaks the next probe."""
    empty_docs = spark.createDataFrame(
        [(1, "ab"), (2, "xy")], "doc_id long, text string"  # < shingle_k
    )
    b1, _ = _mini_batches(spark, n=40, seed=5, split=40)
    nds = ds.NearDupStream(str(tmp_path / "idx"), str(tmp_path / "out"))
    nds.process_batch(empty_docs, 0)   # bands empty
    nds.process_batch(b1, 1)           # must not crash reading the index
    nds.process_batch(b1.limit(5), 2)  # probe against real history works
    assert spark.read.parquet(nds._index_path()).count() > 0


def test_compact_crash_between_renames_recovers(spark, tmp_path):
    """Simulated crash after rename(path->trash): the next process_batch
    (or compact) must restore the index from the trash dir, not lose it."""
    import os as _os
    import shutil as _shutil

    b0, b1 = _mini_batches(spark)
    nds = ds.NearDupStream(str(tmp_path / "idx"), str(tmp_path / "out"),
                           n_buckets=4)
    nds.process_batch(b0, 0)
    before = spark.read.parquet(nds._index_path()).count()
    # crash point: index moved to trash, new generation never landed
    path = nds._index_path()
    _os.rename(path, path + ".trash")
    _shutil.rmtree(path + ".compacting", ignore_errors=True)

    nds.process_batch(b1, 1)  # recovery happens here
    idx = spark.read.parquet(nds._index_path())
    assert idx.where("batch_id = 0").count() == before
    # and a later compact() also works cleanly on the recovered index
    nds.compact()
    assert spark.read.parquet(nds._index_path()).count() >= before


def test_compact_crash_with_stranded_tmp_batches_recovers(spark, tmp_path):
    """Deeper crash window: compact(exclude_from) died AFTER moving the
    newest batch partitions trash->tmp but BEFORE rename(tmp, path) — those
    partitions then exist ONLY under .compacting.  Recovery must restore
    them into the index instead of rmtree-ing them with the tmp dir."""
    import os as _os

    b0, b1 = _mini_batches(spark)
    nds = ds.NearDupStream(str(tmp_path / "idx"), str(tmp_path / "out"),
                           n_buckets=4)
    nds.process_batch(b0, 0)
    nds.process_batch(b1, 1)
    path = nds._index_path()
    cols = ["doc_id", "band", "band_key", "bucket"]
    before = sorted(map(tuple, spark.read.parquet(path).select(*cols).collect()))
    n_batch1 = spark.read.parquet(path).where("batch_id = 1").count()
    assert n_batch1 > 0

    # replicate compact(exclude_from=1) up to the crash point
    tmp, trash = path + ".compacting", path + ".trash"
    (
        spark.read.parquet(path).where("batch_id < 1").drop("batch_id")
        .repartition(4, "bucket")
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(_os.path.join(tmp, "batch_id=-1"))
    )
    _os.rename(path, trash)
    _os.rename(_os.path.join(trash, "batch_id=1"), _os.path.join(tmp, "batch_id=1"))
    # CRASH here (before rename(tmp, path)).  A standalone compact() runs:
    nds.compact()
    after_df = spark.read.parquet(path)
    after = sorted(map(tuple, after_df.select(*cols).collect()))
    assert before == after  # batch 1's rows survived the crash


def test_dense_rank_ids_matches_global_sort(spark):
    """The distributed rank (range partitions + per-partition offsets)
    equals a global (ts, event_id) sort's row numbers — with NO Window
    operator and no single-task global Sort in the plan."""
    from datetime import datetime, timedelta

    from dedup_gpu_stream_parallelism_spark.streaming import replay

    base = datetime(2024, 3, 1)
    rows = [
        (i, base + timedelta(seconds=(i * 37) % 500), f"t{i % 3}")
        for i in range(400)
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    ranked, n, parts = replay._dense_rank_ids(ev, ["ts", "event_id"])
    try:
        got = {r.event_id: r.rid for r in ranked.collect()}
    finally:
        parts.unpersist()
    assert n == 400
    want_order = sorted(rows, key=lambda r: (r[1], r[0]))
    want = {r[0]: i for i, r in enumerate(want_order)}
    assert got == want
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # the only sorts are per-partition: "Sort [cols], false, 0" — a global
    # single-task sort would print "], true, 0"
    assert "], true, 0" not in plan


def test_window_replay_plan_has_no_global_window(spark, tmp_path):
    """stream_window_stats_replay end-to-end on a small event set: result
    equals the batch GROUP BY, and the rid assignment never routes through
    a no-partition Window (the round-3 single-task-sort anti-pattern)."""
    from datetime import datetime, timedelta

    from dedup_gpu_stream_parallelism_spark.streaming import replay

    base = datetime(2024, 5, 1)
    rows = [
        (i, base + timedelta(minutes=(i * 13) % 300), f"t{i % 2}", i % 7,
         float(i % 11))
        for i in range(120)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, "
              "user_id long, value double"
    )
    out = replay.stream_window_stats_replay(
        spark, ev, str(tmp_path / "w"), n_batches=3
    )
    got = {
        (r.window_start_epoch, r.event_type): (r.n_events, r.sum_value_micro)
        for r in out.collect()
    }
    batch = (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 1000000.0).cast("long")).alias(
                "sum_value_micro"
            ),
        )
        .select(
            F.unix_timestamp("w.start").alias("window_start_epoch"),
            "event_type", "n_events", "sum_value_micro",
        )
    )
    want = {
        (r.window_start_epoch, r.event_type): (r.n_events, r.sum_value_micro)
        for r in batch.collect()
    }
    assert got == want


def test_shared_staged_docs_stages_once(spark, tmp_path):
    """Second caller for the same (dataset, process) reuses the slices:
    marker present, file mtimes unchanged."""
    import os

    from dedup_gpu_stream_parallelism_spark.streaming import replay

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(20)], "doc_id bigint, text string"
    )
    tag_dir = str(tmp_path / "pseudo_sf")
    os.makedirs(tag_dir, exist_ok=True)
    src1 = replay.shared_staged_docs(docs, tag_dir)
    stamps1 = {
        f: os.path.getmtime(os.path.join(src1, f)) for f in os.listdir(src1)
    }
    src2 = replay.shared_staged_docs(docs, tag_dir)
    stamps2 = {
        f: os.path.getmtime(os.path.join(src2, f)) for f in os.listdir(src2)
    }
    assert src1 == src2
    assert stamps1 == stamps2
    assert "_staged" in stamps1


def test_stage_range_batches_rejects_multi_file_slice(spark, tmp_path):
    """A slice the write split over two files must fail loudly: the replay
    used to stage ``files[0]`` and silently drop the rest of the slice."""
    from dedup_gpu_stream_parallelism_spark.streaming import replay

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id bigint, text string"
    )
    ok = str(tmp_path / "ok")
    assert replay.stage_range_batches(docs, ok, n_batches=2) == 4
    assert sorted(os.listdir(ok)) == ["0000.parquet", "0001.parquet"]
    assert spark.read.parquet(ok).count() == 8

    key = "spark.sql.files.maxRecordsPerFile"
    spark.conf.set(key, "2")  # each 4-row slice now writes two files
    try:
        with pytest.raises(replay.SliceStagingError, match="slice 0 .* 2 parquet"):
            replay.stage_range_batches(docs, str(tmp_path / "split"), n_batches=2)
    finally:
        spark.conf.unset(key)


def test_text_history_read_is_bucket_pruned(spark, tmp_path):
    """confirm=True: the per-trigger history read must partition-prune to
    the matched ids' tbucket partitions, so text I/O per trigger tracks
    the match set instead of growing with the stream's lifetime."""
    b0, b1 = _mini_batches(spark, n=80, split=40)
    nds = ds.NearDupStream(
        str(tmp_path / "idx"), str(tmp_path / "out"), confirm=True, n_buckets=8
    )
    nds.process_batch(b0, 0)
    nds.process_batch(b1, 1)
    txt = spark.read.parquet(nds._texts_path())
    assert "tbucket" in txt.columns  # store is bucket-partitioned on disk
    probe = txt.where(F.col("tbucket").isin([0, 1]) & (F.col("batch_id") < 1))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tbucket" in plan
    got = {r["tbucket"] for r in probe.select("tbucket").distinct().collect()}
    assert got <= {0, 1}
