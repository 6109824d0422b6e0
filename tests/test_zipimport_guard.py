"""The stat-guarded zipimport cache reset (zipimport_guard.py): unchanged
archives are not re-parsed on ``importlib.invalidate_caches()``, rewritten
ones are, and a live PySpark worker runs with the guard installed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from dedup_gpu_stream_parallelism_spark import zipimport_guard as guard

needs_eager_reset = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the guard is a no-op on Python >= 3.13"
)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A temp zip of modules on sys.path, the guard installed for this test
    only, and a per-archive count of directory reads."""
    archive = str(tmp_path / "mods.zip")

    def write(**modules: str) -> None:
        with zipfile.ZipFile(archive, "w") as z:
            for name, src in modules.items():
                z.writestr(f"{name}.py", src)

    write(zg_mod_a="VALUE = 'a'\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(guard, "_stamps", {})
    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield archive, write, lambda: reads.count(archive)
    for name in ("zg_mod_a", "zg_mod_b"):
        sys.modules.pop(name, None)


@needs_eager_reset
def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, _write, n_reads = zip_on_path
    assert importlib.import_module("zg_mod_a").VALUE == "a"
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)

    base = n_reads()  # the importer's own first read
    importlib.invalidate_caches()  # stock method: re-parses the archive
    assert n_reads() == base + 1
    assert guard.install()
    importlib.invalidate_caches()  # first guarded call records the stamp
    assert n_reads() == base + 2
    for _ in range(3):
        importlib.invalidate_caches()
    assert n_reads() == base + 2


@needs_eager_reset
def test_rewritten_archive_is_reread_and_new_module_imports(zip_on_path):
    archive, write, n_reads = zip_on_path
    assert importlib.import_module("zg_mod_a").VALUE == "a"
    assert guard.install()
    importlib.invalidate_caches()
    before = n_reads()

    write(zg_mod_a="VALUE = 'a'\n", zg_mod_b="VALUE = 'b'\n")
    importlib.invalidate_caches()
    assert n_reads() == before + 1
    assert importlib.import_module("zg_mod_b").VALUE == "b"
    importlib.invalidate_caches()
    assert n_reads() == before + 1


def test_installer_is_a_no_op_from_python_3_13(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert guard.install() is False
    assert zipimport.zipimporter.invalidate_caches is stock


def test_driver_process_is_not_a_worker():
    assert not guard.in_pyspark_worker()
    assert zipimport.zipimporter.invalidate_caches is not guard.guarded_invalidate_caches


@needs_eager_reset
def test_live_worker_runs_with_the_guard(spark):
    """Every mapInPandas task sees the guarded method installed; tasks on a
    reused worker find archives already stamped, i.e. the per-task reset
    in ``setup_spark_files`` went through the guard."""

    def probe(batches):
        import zipimport as zi

        from dedup_gpu_stream_parallelism_spark import zipimport_guard as g

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "guarded": [zi.zipimporter.invalidate_caches is g.guarded_invalidate_caches]
                    * len(pdf),
                    "stamped": [len(g._stamps)] * len(pdf),
                }
            )

    n = 4 * spark.sparkContext.defaultParallelism
    rows = (
        spark.range(0, n, numPartitions=n)
        .mapInPandas(probe, "guarded boolean, stamped int")
        .collect()
    )
    assert len(rows) == n
    assert all(r.guarded for r in rows)
    assert any(r.stamped > 0 for r in rows)
