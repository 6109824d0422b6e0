"""Faithful ``.ddp`` typed-record byte-stream export/import.

The engine's native storage is columnar (manifest + unique-chunk store,
operators/store.py) — but the reference's on-disk contract is a byte
stream, and this module speaks it exactly, so a user of the reference can
hand files across.  Format (re-implemented from the reference's behavior,
NOT its code):

* header — little-endian ``int32 CHECKBIT=123456`` then one
  ``compress_type`` byte (/root/reference/src/util.cpp:65-75,
  src/dedupdef.h:13; gzip=0, bzip2=1, none=2 per dedupdef.h:214-216);
* record — ``u8 type`` + ``u64 len`` + ``len`` payload bytes
  (write_file, src/encoder.cpp:185-198): ``TYPE_COMPRESS=1`` carries a
  unique chunk's compressed bytes, ``TYPE_FINGERPRINT=0`` carries the
  20-byte SHA-1 of a chunk whose payload appeared earlier in the stream
  (write_chunk_to_file, src/encoder.cpp:236-277);
* import hard-fails on a bad CHECKBIT (read_header, src/util.cpp:53-56)
  and on a fingerprint with no earlier payload (Decode,
  src/decoder.cpp:268-271).

Spark-first sharding: the corpus exports as N independent ``.ddp``
shards — ``repartitionByRange(doc_id)`` + ``sortWithinPartitions(doc_id,
chunk_idx)`` gives each shard a contiguous doc range in stream order, and
one Arrow-batched pass per shard writes the byte stream (dedup scope is
per-shard: each shard is a self-contained, reference-decodable stream;
the reference's single-file output is the one-shard case).  A sidecar
``_doc_index`` parquet (shard_id, doc_id, n_chunks) records how many
stream records belong to each doc so import can re-split the chunk
sequence; import joins it per-shard (no driver broadcast) and walks each
shard independently — embarrassingly parallel at any shard count.

Storage backends: shard bytes go through a pluggable ``ByteSink``
(sources/byte_sink.py) — POSIX by default, ``ArrowFsByteSink`` for
``s3://`` / ``hdfs://`` deployments; the ``_doc_index`` parquet and the
import-side binaryFile scan use Spark's own Hadoop IO and accept any
supported URI directly.
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dedup_gpu_stream_parallelism_spark.config import DedupConfig
from dedup_gpu_stream_parallelism_spark.operators.chunk import chunk_documents
from dedup_gpu_stream_parallelism_spark.session import local_frame

CHECKBIT = 123456
TYPE_FINGERPRINT = 0
TYPE_COMPRESS = 1
# compress_type header byte values (dedupdef.h:214-217)
CT_GZIP, CT_BZIP2, CT_NONE, CT_LZSS = 0, 1, 2, 3
_CT_BYTE = {"gzip": CT_GZIP, "bzip2": CT_BZIP2, "none": CT_NONE, "lzss": CT_LZSS}
SHA1_LEN = 20
# shard-size budget: bounds both the exporter's open-file stream and the
# importer's per-shard unique-chunk table, and stays far under the
# binaryFile source's 2 GiB per-file content limit
DEFAULT_SHARD_BYTES = 256 << 20


def _ct_name(ct_byte: int) -> str:
    for name, b in _CT_BYTE.items():
        if b == ct_byte:
            return name
    raise ValueError(
        f"unsupported .ddp compress_type byte {ct_byte} "
        f"(known: {sorted((v, k) for k, v in _CT_BYTE.items())})"
    )


def _codecs(compress_type: str):
    import bz2
    import zlib

    if compress_type == "gzip":
        return zlib.compress, zlib.decompress
    if compress_type == "bzip2":
        return (lambda b: bz2.compress(b, 9)), bz2.decompress
    if compress_type == "none":
        return (lambda b: b), (lambda b: b)
    if compress_type == "lzss":
        # the reference's benchmark-default codec (src/dedup.cpp:113-114)
        from dedup_gpu_stream_parallelism_spark.functions.lzss_codec import (
            lzss_decode,
            lzss_encode,
        )

        return lzss_encode, lzss_decode
    raise ValueError(f"unknown compress_type {compress_type!r}")


def pack_header(compress_type: str) -> bytes:
    return struct.pack("<i", CHECKBIT) + struct.pack("B", _CT_BYTE[compress_type])


def pack_record(rtype: int, payload: bytes) -> bytes:
    return struct.pack("<B", rtype) + struct.pack("<Q", len(payload)) + payload


# binaryFile refuses content above 2 GiB; leave rename/retry headroom
_SHARD_HARD_LIMIT = (2 << 30) - (64 << 20)


def export_ddp(
    docs: DataFrame,
    out_dir: str,
    cfg: DedupConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int | None = None,
    compress_type: str = "gzip",
    target_shard_bytes: int = DEFAULT_SHARD_BYTES,
    sink=None,
) -> DataFrame:
    """Write ``docs`` as ``shard-NNNNN.ddp`` byte streams under ``out_dir``
    plus the ``_doc_index`` sidecar; returns the doc-index DataFrame.

    ``sink`` picks the storage backend (sources/byte_sink.py):
    ``PosixByteSink`` by default (local or shared-POSIX ``out_dir``);
    pass ``ArrowFsByteSink()`` with an ``s3://`` / ``hdfs://`` ``out_dir``
    on object-store-backed clusters — the ``_doc_index`` parquet goes
    through Spark's own Hadoop writers either way.  Docs whose text is
    shorter than one chunk (empty) produce no records and no index row —
    import's caller left-joins the doc list, exactly like the columnar
    round trip.

    Memory contract: shard count derives from the corpus's text bytes and
    ``target_shard_bytes`` (NOT from cluster parallelism), records are
    appended to the open shard stream as they are packed (the format is
    strictly sequential), and each task attempt stages to a private tmp
    published by a rename — so executor memory is bounded by one Arrow
    batch regardless of corpus size, and task retries or speculative
    attempts cannot interleave half-written streams.  ``repartitionByRange``
    balances sampled ROW counts, so ``target_shard_bytes`` is an
    approximate bound under uniform doc sizes, not a guarantee under
    doc-size skew — the writer hard-fails any shard that would cross the
    binaryFile source's 2 GiB content limit instead of exporting a stream
    import would reject.  Stale ``shard-NNNNN.ddp`` files from a previous
    wider export into the same dir are removed after the index commits.
    """
    from pyspark import TaskContext

    from dedup_gpu_stream_parallelism_spark.sources.byte_sink import PosixByteSink

    cfg = cfg or DedupConfig()
    spark = docs.sparkSession
    enc, _ = _codecs(compress_type)
    header = pack_header(compress_type)
    sink = sink or PosixByteSink()
    sink.makedirs(out_dir)

    chunks = chunk_documents(
        docs, cfg, id_col=id_col, text_col=text_col, with_payload=True
    ).select("doc_id", "chunk_idx", "chunk_text")
    if n_shards is None:
        # pre-dedup text bytes upper-bound the stream (compression and
        # fingerprint records only shrink it); one cheap column-pruned agg.
        # More, smaller shards are always safe, so small corpora still
        # export cluster-wide instead of serializing on one task
        total = docs.select(
            F.sum(F.octet_length(text_col)).alias("chars")
        ).first()["chars"] or 0
        by_bytes = -(-int(total) // max(1, target_shard_bytes))
        n_shards = max(1, by_bytes, min(spark.sparkContext.defaultParallelism, 64))
    arranged = chunks.repartitionByRange(n_shards, "doc_id").sortWithinPartitions(
        "doc_id", "chunk_idx"
    )
    # captured by value so the closure ships the driver-time limit
    hard_limit = _SHARD_HARD_LIMIT

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        ctx = TaskContext.get()
        shard = ctx.partitionId() if ctx else 0
        attempt = ctx.taskAttemptId() if ctx else 0
        seen: set[bytes] = set()
        doc_ids: list[int] = []
        doc_nchunks: list[int] = []
        path = os.path.join(out_dir, f"shard-{shard:05d}.ddp")
        tmp = f"{path}.tmp-{attempt}"
        written = len(header)
        try:
            with sink.open_write(tmp) as f:
                f.write(header)
                for pdf in batches:
                    for doc_id, payload in zip(pdf["doc_id"], pdf["chunk_text"]):
                        raw = (
                            payload.encode("utf-8")
                            if isinstance(payload, str)
                            else bytes(payload)
                        )
                        sha1 = hashlib.sha1(raw).digest()
                        if sha1 in seen:
                            rec = pack_record(TYPE_FINGERPRINT, sha1)
                        else:
                            seen.add(sha1)
                            rec = pack_record(TYPE_COMPRESS, enc(raw))
                        written += len(rec)
                        if written > hard_limit:
                            raise ValueError(
                                f"shard {shard} would exceed the binaryFile "
                                f"2 GiB content limit (doc-size skew?); "
                                f"re-export with a smaller target_shard_bytes"
                            )
                        f.write(rec)
                        if not doc_ids or doc_ids[-1] != int(doc_id):
                            doc_ids.append(int(doc_id))
                            doc_nchunks.append(0)
                        doc_nchunks[-1] += 1
            # header-only shards are valid streams too (empty partition)
            sink.publish(tmp, path)
        finally:
            if sink.exists(tmp):
                sink.delete(tmp)
        yield pd.DataFrame(
            {
                "shard_id": pd.array([shard] * len(doc_ids), dtype="int32"),
                "doc_id": pd.array(doc_ids, dtype="int64"),
                "n_chunks": pd.array(doc_nchunks, dtype="int64"),
            }
        )

    index = arranged.mapInPandas(
        gen, schema="shard_id int, doc_id bigint, n_chunks bigint"
    )
    index.write.mode("overwrite").parquet(os.path.join(out_dir, "_doc_index"))
    # a previous export with MORE shards leaves stale files that would
    # shadow this one on import — drop anything past the new width
    import re as _re

    for name in sink.list_names(out_dir):
        m = _re.search(r"^shard-(\d+)\.ddp", name)
        if m and (int(m.group(1)) >= n_shards or not name.endswith(".ddp")):
            sink.delete(os.path.join(out_dir, name))
    return spark.read.parquet(os.path.join(out_dir, "_doc_index"))


def decode_stream(blob: bytes) -> list[bytes]:
    """Walk one ``.ddp`` byte stream into its chunk payload sequence:
    TYPE_COMPRESS → decompress, SHA-1, remember; TYPE_FINGERPRINT → look
    up (hard error if unknown — the decoder's referential-integrity fail,
    decoder.cpp:268-271).  Hard-fails on a bad CHECKBIT, an unknown
    compress_type byte, or a record whose payload is shorter than its
    declared length (the reference's xread aborts on short reads)."""
    import hashlib

    if len(blob) < 5:
        raise ValueError("truncated .ddp header")
    (checkbit,) = struct.unpack_from("<i", blob, 0)
    if checkbit != CHECKBIT:
        raise ValueError(f"format error: CHECKBIT {checkbit}")
    _, dec = _codecs(_ct_name(blob[4]))
    pos = 5
    table: dict[bytes, bytes] = {}
    chunks: list[bytes] = []
    while pos < len(blob):
        if pos + 9 > len(blob):
            raise ValueError("truncated .ddp record header")
        rtype = blob[pos]
        (length,) = struct.unpack_from("<Q", blob, pos + 1)
        payload = blob[pos + 9 : pos + 9 + length]
        if len(payload) != length:
            raise ValueError(
                f"truncated .ddp record: declared {length} bytes, "
                f"stream has {len(payload)}"
            )
        pos += 9 + length
        if rtype == TYPE_COMPRESS:
            raw = dec(payload)
            table[hashlib.sha1(raw).digest()] = raw
            chunks.append(raw)
        elif rtype == TYPE_FINGERPRINT:
            if payload not in table:
                raise ValueError(
                    "referential integrity violated: fingerprint "
                    "with no earlier payload"
                )
            chunks.append(table[payload])
        else:
            raise ValueError(f"unknown record type {rtype}")
    return chunks


def import_ddp(spark: SparkSession, out_dir: str, sink=None) -> DataFrame:
    """Decode every shard back to ``(doc_id, data binary)``.

    One binaryFile scan of the shards joined (on shard_id — no driver
    broadcast) with the per-shard doc index, then an independent record
    walk per shard (``decode_stream``); chunks re-split into docs by the
    index's per-doc record counts.  The join is FULL OUTER and both
    unmatched sides hard-fail: an indexed shard whose file is missing,
    or a shard file carrying records the index doesn't know, can never
    silently drop docs.

    Streams produced by the reference itself have no ``_doc_index``
    sidecar; without one, each shard decodes to a single concatenated
    payload under ``doc_id = shard_id`` — exactly the byte stream
    ``dedup -u`` would write for that file (decoder.cpp:274-276).
    ``out_dir`` may also be a single ``.ddp`` FILE (a reference
    ``dedup -c`` output, any name): it imports as one doc with id 0.

    The bulk data moves through Spark's binaryFile source (any Hadoop
    filesystem); ``sink`` only answers the layout probes (is it a file?
    is there an index?) — pass the same ``ArrowFsByteSink`` used for an
    object-store export.
    """
    from dedup_gpu_stream_parallelism_spark.sources.byte_sink import PosixByteSink

    sink = sink or PosixByteSink()
    if sink.is_file(out_dir):
        # one reference-produced stream, arbitrary filename
        single = (
            spark.read.format("binaryFile")
            .load(out_dir)
            .select(F.lit(0).cast("int").alias("shard_id"), "content")
        )
        has_index = False
        joined = single.withColumn(
            "docs",
            F.lit(None).cast("array<struct<doc_id:bigint,n_chunks:bigint>>"),
        )
        return _walk_shards(joined, has_index)
    import re as _re

    if not any(
        _re.fullmatch(r"shard-\d+\.ddp", n) for n in sink.list_names(out_dir)
    ):
        # empty corpus exported zero shards (every partition empty before
        # the UDF ran) — nothing to decode
        return local_frame(spark, [], "doc_id bigint, data binary")
    shards = (
        spark.read.format("binaryFile")
        .load(os.path.join(out_dir, "shard-*.ddp"))
        .select(
            F.regexp_extract(F.col("path"), r"shard-(\d+)\.ddp$", 1)
            .cast("int")
            .alias("shard_id"),
            "content",
        )
    )
    has_index = sink.exists(os.path.join(out_dir, "_doc_index"))
    if has_index:
        index = (
            spark.read.parquet(os.path.join(out_dir, "_doc_index"))
            .groupBy("shard_id")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("doc_id", "n_chunks"))
                ).alias("docs")
            )
        )
        joined = shards.join(index, "shard_id", "outer")
    else:
        joined = shards.withColumn(
            "docs",
            F.lit(None).cast("array<struct<doc_id:bigint,n_chunks:bigint>>"),
        )
    return _walk_shards(joined, has_index)


def _walk_shards(joined: DataFrame, has_index: bool) -> DataFrame:
    """Per-shard record walk (shared by the sharded and single-file import
    paths): decode each stream, then re-split into docs by the index's
    per-doc record counts — or emit one concatenated doc per shard when no
    index exists (the reference's own output shape)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids: list[int] = []
            out_data: list[bytes] = []
            for shard_id, blob, docs in zip(
                pdf["shard_id"], pdf["content"], pdf["docs"]
            ):
                if blob is None:
                    raise ValueError(
                        f"_doc_index references shard {shard_id} but "
                        "shard file is missing"
                    )
                chunks = decode_stream(bytes(blob))
                if docs is None:
                    if has_index and chunks:
                        raise ValueError(
                            f"shard {shard_id} carries {len(chunks)} records "
                            "but has no _doc_index rows"
                        )
                    if not has_index:
                        # reference-produced stream: one doc per shard file
                        out_ids.append(int(shard_id))
                        out_data.append(b"".join(chunks))
                    continue
                at = 0
                for d in docs:
                    n = int(d["n_chunks"])
                    out_ids.append(int(d["doc_id"]))
                    out_data.append(b"".join(chunks[at : at + n]))
                    at += n
                if at != len(chunks):
                    raise ValueError("doc index does not cover the stream")
            yield pd.DataFrame({"doc_id": out_ids, "data": out_data})

    return joined.mapInPandas(gen, schema="doc_id bigint, data binary")


def ddp_roundtrip_check(
    docs: DataFrame,
    out_dir: str,
    cfg: DedupConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    compress_type: str = "gzip",
) -> DataFrame:
    """Export → import → per-doc sha256 re-verify: (doc_id, sha256,
    sha_ok).  The byte-stream analog of ``chunk_roundtrip_check`` — docs
    too short to chunk round-trip to empty via the left join."""
    spark = docs.sparkSession
    export_ddp(
        docs, out_dir, cfg, id_col=id_col, text_col=text_col,
        compress_type=compress_type,
    )
    decoded = import_ddp(spark, out_dir)
    orig = docs.select(
        F.col(id_col).alias("doc_id"),
        F.sha2(F.col(text_col), 256).alias("sha256"),
    )
    return orig.join(decoded, "doc_id", "left").select(
        "doc_id",
        "sha256",
        (F.sha2(F.coalesce(F.col("data"), F.lit(b"")), 256) == F.col("sha256"))
        .cast("int")
        .alias("sha_ok"),
    )
