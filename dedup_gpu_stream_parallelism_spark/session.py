"""SparkSession factory with the configs this engine relies on.

The reference sizes its pipeline explicitly (nthreads per stage, 1 queue per 4
threads — /root/reference/src/encoder.cpp:1388-1418, src/config.h:10).  The
Spark analog is shuffle-partition count + AQE; skew handling that the
reference does by round-robin queue feeding (encoder.cpp:1156) is Spark's
AQE skew-join plus our explicit band-key salting (operators/lsh.py).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def build_session(
    app_name: str = "dedup-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Width cap for shuffle-fed stages: the master keeps every pinned task
    # slot (local[cpus]), but partition counts clamp at the host's
    # measured effective-core ceiling (BENCH.md probe: ~18 real cores on
    # this guest; 32 JVM task threads + 32 python UDF workers oversubscribe
    # it and inflate Arrow-UDF stages 30-70% — the round-3 driver-bench
    # regression).  JVM-only stages lose nothing: AQE coalesces small
    # partitions below this anyway.  On a real cluster executors own their
    # cores and SPARK_GRAFT_EFFECTIVE_CORES should equal the slot count.
    effective = int(os.environ.get("SPARK_GRAFT_EFFECTIVE_CORES", "16"))
    shuffle_partitions = shuffle_partitions or max(min(cpus, effective), 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # This engine's scans feed CPU-bound pandas UDFs, so bytes/task must
        # target seconds of UDF work, not HDFS-block amortization: at the
        # default 128 MB a 100 MB corpus becomes ONE scan task and the
        # repartition's map side serializes on a single core.  16 MB ≈ 15 s
        # of signature work per task.  (On a 1000-executor cluster reading
        # 100 TB, raise toward 128 MB — the scan is then wide enough anyway.)
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Sequence[tuple], schema: str | StructType
) -> DataFrame:
    """The one way the engine turns driver-side rows into a DataFrame.

    The rows travel as one Arrow table and plan as a ``LocalTableScan``:
    no Python task runs when the frame is consumed.  ``createDataFrame`` on
    a Python list instead plans a ``Scan ExistingRDD`` over a PythonRDD that
    costs one Python task per default-parallelism slot even for zero rows.
    The frame's schema is ``schema`` itself, as with a list.
    """
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
