"""The Python worker daemon (seqtables_spark/worker_daemon.py): its
stat guard on zipimporter.invalidate_caches, in-process, and the
session conf that runs every Python task under it."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from seqtables_spark import worker_daemon

LAZY_RELOAD = hasattr(zipimport.zipimporter, "_get_files")
MODULE = "stguard_probe_mod"


def _write_zip(path, body: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{MODULE}.py", body)


@pytest.fixture
def zip_reads(monkeypatch):
    """Count zipimport._read_directory calls per archive, and restore
    the stock invalidate_caches after the test."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    reads: list[str] = []
    stock = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    yield reads
    sys.modules.pop(MODULE, None)


@pytest.mark.skipif(LAZY_RELOAD, reason="zipimporter reloads lazily here")
def test_guard_rereads_an_archive_only_when_it_changed(tmp_path, monkeypatch, zip_reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(MODULE).VALUE == 1
    importer = sys.path_importer_cache[archive]

    assert worker_daemon.install_guard()
    assert worker_daemon.install_guard()  # a second install is a no-op
    importlib.invalidate_caches()  # first call records the archive's stamp
    before = zip_reads.count(archive)
    for _ in range(10):
        importlib.invalidate_caches()
    assert zip_reads.count(archive) == before
    assert importer._files is zipimport._zip_directory_cache[archive]

    # a new body: the stamp moves (size and mtime), one re-read
    _write_zip(archive, "VALUE = 2  # rewritten\n")
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    for _ in range(3):
        importlib.invalidate_caches()
    assert zip_reads.count(archive) == before + 1
    sys.modules.pop(MODULE)
    assert importlib.import_module(MODULE).VALUE == 2

    # a deleted archive takes the stock path: cache entry and files go
    os.remove(archive)
    importlib.invalidate_caches()
    assert zip_reads.count(archive) == before + 2
    assert archive not in zipimport._zip_directory_cache
    assert importer._files == {}


def test_guard_installs_only_where_reload_is_eager(zip_reads):
    assert worker_daemon.install_guard() is (not LAZY_RELOAD)


def test_session_runs_python_tasks_under_the_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "seqtables_spark.worker_daemon"
    root = os.path.dirname(os.path.dirname(os.path.abspath(worker_daemon.__file__)))
    assert conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)[0] == root

    def probe(batches):
        import importlib as il
        import zipimport as zi

        import pyarrow as pa

        reads = [0]
        stock = zi._read_directory

        def counted(archive):
            reads[0] += 1
            return stock(archive)

        zi._read_directory = counted
        try:
            for _ in range(10):
                il.invalidate_caches()
        finally:
            zi._read_directory = stock
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "lazy": [hasattr(zi.zipimporter, "_get_files")],
            "guard": [getattr(zi.zipimporter.invalidate_caches, "_stat_guarded", False)],
            "reads": [reads[0]],
        })

    (row,) = spark.range(1, numPartitions=1).mapInArrow(
        probe, "lazy boolean, guard boolean, reads long"
    ).collect()
    assert row.guard is (not row.lazy)
    assert row.reads == 0
