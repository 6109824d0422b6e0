"""PySpark-native near-duplicate detection + clustering engine.

From-scratch re-expression of the capabilities of
larcc-group/dedup-gpu-stream-parallelism (PARSEC dedup + GPU LZSS stream
parallelism) as an idiomatic Spark pipeline:

    chunk/shingle -> fingerprint (sha256 / MinHash / SimHash)
                  -> LSH candidate pairs (groupBy band keys)
                  -> suffix-array exact-substring confirm
                  -> connected components -> cluster ids

See SURVEY.md for the capability mapping and file:line citations into the
reference.
"""

from dedup_gpu_stream_parallelism_spark import zipimport_guard
from dedup_gpu_stream_parallelism_spark.config import DEFAULT_CONFIG, DedupConfig

# A worker unpickling any engine UDF imports this package; from its next
# task on, the per-task import-cache reset stops re-parsing unchanged zips.
if zipimport_guard.in_pyspark_worker():
    zipimport_guard.install()


def run_pipeline(*args, **kwargs):
    """Lazy re-export of plans.pipeline.run_pipeline (keeps bare-config
    imports pyspark-free)."""
    from dedup_gpu_stream_parallelism_spark.plans.pipeline import run_pipeline as rp

    return rp(*args, **kwargs)


def build_session(*args, **kwargs):
    """Lazy re-export of session.build_session."""
    from dedup_gpu_stream_parallelism_spark.session import build_session as bs

    return bs(*args, **kwargs)


__all__ = ["DEFAULT_CONFIG", "DedupConfig", "run_pipeline", "build_session"]
__version__ = "0.1.0"
