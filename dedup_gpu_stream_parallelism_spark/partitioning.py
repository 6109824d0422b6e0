"""Scale-adaptive partition widening for CPU-bound Python stages.

The signature/chunk/LPF kernels are Arrow-batched ``mapInPandas`` passes:
their parallelism is the PARTITION COUNT of their input, not its bytes.  A
byte-packed parquet scan (``spark.sql.files.maxPartitionBytes``) hands a
small corpus to ONE task — at sf0.1 the whole 580 KB documents file is a
single scan partition, so every standalone signature query ran its costliest
UDF on one core while the others sat idle (round-6 finding).

``widen_if_narrow`` repartitions ONLY when the input is narrower than the
cluster: at real 100 TB scale a corpus scan is already thousands of
partitions wide and this is a no-op (no shuffle added), while locally it
spreads the Python work across every core.  The round-robin shuffle moves
each row exactly once and the rows entering these kernels are slim
projections (id + text), so the exchange cost is bounded by one pass over
the input.

One widen per kernel, at the kernel's entry point, fed the raw input:
callers (``run_pipeline`` included) do not pre-widen.  The width probe
builds the frame's RDD, and under AQE that runs every shuffle already in
the frame as a Spark job at plan-build time — so probing a frame that
already holds an exchange executes that shuffle once more than the later
action needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def widen_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to cluster parallelism iff it has
    fewer partitions than that — a no-op on already-wide inputs.

    Pass the un-shuffled input: probing a frame that already holds an
    exchange runs that shuffle (see the module docstring)."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        return df.repartition(parallelism)
    return df
