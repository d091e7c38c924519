"""core.pyworker: a Python task does not re-read every zip archive the
worker imported from (`pyspark.zip`) before its function runs."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest
from pyspark.taskcontext import TaskContext

from ai_service_ocr_grading_handler_spark.core import pyworker

MOD = "pyworker_probe_mod"


def _write_zip(path, source: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{MOD}.py", source)


def _count_reads(monkeypatch) -> list[str]:
    """Record every central-directory read from now until test teardown."""
    reads: list[str] = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read(p))
    return reads


@pytest.fixture
def stock(monkeypatch):
    """The stock importer method and no task context, restored afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    yield zipimport.zipimporter.invalidate_caches
    TaskContext._setTaskContext(None)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding MOD (v = 1), imported once."""
    z = tmp_path / "probe.zip"
    _write_zip(z, "v = 1\n")
    monkeypatch.syspath_prepend(str(z))
    assert importlib.import_module(MOD).v == 1
    yield z
    sys.modules.pop(MOD, None)
    sys.path_importer_cache.pop(str(z), None)


def test_install_is_noop_outside_a_task_and_on_313(stock, monkeypatch):
    assert TaskContext.get() is None
    assert not pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is stock
    TaskContext._getOrCreate()
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_install_twice_wraps_once(stock):
    TaskContext._getOrCreate()
    assert pyworker.install()
    wrapped = zipimport.zipimporter.invalidate_caches
    assert pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert wrapped.__wrapped__ is stock


def test_unchanged_archive_is_not_reread(stock, archive, monkeypatch):
    TaskContext._getOrCreate()
    assert pyworker.install()
    importlib.invalidate_caches()  # each importer's first call reads and stamps
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(stock, archive, monkeypatch):
    TaskContext._getOrCreate()
    assert pyworker.install()
    importlib.invalidate_caches()
    _write_zip(archive, "v = 22  # a different size\n")
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert str(archive) in reads
    sys.modules.pop(MOD)
    assert importlib.import_module(MOD).v == 22


def test_second_task_in_a_worker_does_not_reread_zips(spark):
    """Run the same mapInArrow job twice. A worker that already ran the
    probe imported this package (which installs the stamped method) and
    went through a task start since, so by its next task every importer is
    stamped: `importlib.invalidate_caches()` reads no zip directory. The
    stock method re-reads pyspark.zip once per importer on every call."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        import ai_service_ocr_grading_handler_spark  # noqa: F401

        seen = getattr(zipimport, "_probe_seen", False)
        zipimport._probe_seen = True
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"seen": [seen], "reads": [len(reads)], "zips": [zips]})

    n = 4 * spark.sparkContext.defaultParallelism
    job = spark.range(0, n, 1, n).mapInArrow(probe, "seen boolean, reads bigint, zips bigint")
    job.collect()
    rows = job.collect()
    again = [r for r in rows if r.seen]
    assert again, rows
    assert all(r.zips > 0 for r in rows), rows
    assert [r.reads for r in again] == [0] * len(again), rows
