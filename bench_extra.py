#!/usr/bin/env python
"""Subset-timing prober (bench.py stays frozen).

Times any named queries() entries through the noop sink in one warm
session: `python bench_extra.py <query> [query ...]`.  Reads the same
settings as bench.py: ``local[$SPARK_GRAFT_CPUS]`` (default 8) over
``$SPARK_GRAFT_SF_DIR`` (default bench.DEFAULT_SF_DIR).
"""
import json, os, sys, time
REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)
os.chdir(REPO)
import __spark_entry__ as entry_mod
from bench import DEFAULT_SF_DIR
from dedup_gpu_stream_parallelism_spark.session import build_session

names = sys.argv[1:]
spark = build_session("qtime", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
sf = DEFAULT_SF_DIR
qs = entry_mod.queries()
spark.range(1000).selectExpr("sum(id)").collect()
spark.range(10_000).repartition(spark.sparkContext.defaultParallelism).mapInPandas(
    lambda it: it, schema="id long").write.format("noop").mode("overwrite").save()
out = {}
for name in names:
    t0 = time.monotonic()
    df = qs[name](spark, sf)
    df.write.format("noop").mode("overwrite").save()
    out[name] = round(time.monotonic() - t0, 3)
print(json.dumps(out))
spark.stop()
