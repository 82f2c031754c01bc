"""The lazy zip-directory invalidation backport (``pprl_spark._zipcache``):
imports from a zip still see a rewritten archive, each archive's table is
read at most once per invalidation, and nothing changes on the driver."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from pprl_spark import _zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ invalidates zip caches lazily itself"
)


@pytest.fixture
def backport(monkeypatch):
    """The backport installed as in a Spark worker; the class is restored
    afterwards."""
    monkeypatch.setenv("PYTHON_WORKER_FACTORY_SECRET", "test")
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
    monkeypatch.setattr(cls, "_files", None, raising=False)
    assert _zipcache.install()
    return cls


@pytest.fixture
def read_counter(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(name, source)


def test_zip_backport_sees_archive_rewritten_in_place(backport, tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_first.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    # a scratch importer cache, so no importer of this archive outlives the test
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    for name in ("zc_first", "zc_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zc_first").X == 1
    with pytest.raises(ImportError):
        importlib.import_module("zc_second")

    _write_zip(archive, {"zc_first.py": "X = 1\n", "zc_second.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zc_second").Y == 2


def test_zip_backport_missing_archive_gives_empty_table(backport, tmp_path):
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, {"zc_gone.py": "Z = 3\n"})
    importer = zipimport.zipimporter(archive)
    assert "zc_gone.py" in importer._files
    os.remove(archive)
    importer.invalidate_caches()
    assert importer._files == {}
    assert importer.find_spec("zc_gone") is None


def test_zip_backport_reads_each_archive_once_after_invalidation(backport, read_counter, tmp_path):
    archive = str(tmp_path / "pkgs.zip")
    _write_zip(archive, {f"pkg{i}/mod.py": "" for i in range(8)})
    importers = [zipimport.zipimporter(os.path.join(archive, f"pkg{i}")) for i in range(8)]
    read_counter.clear()

    for importer in importers:
        importer.invalidate_caches()
    assert read_counter == []

    for importer in importers:
        assert importer.find_spec("mod") is not None
    assert read_counter == [archive]


def test_zip_backport_is_idempotent(backport):
    patched = (backport.invalidate_caches, backport.__dict__["_files"])
    assert _zipcache.install()
    assert (backport.invalidate_caches, backport.__dict__["_files"]) == patched


def test_zip_backport_is_a_no_op_on_the_driver(monkeypatch):
    monkeypatch.delenv("PYTHON_WORKER_FACTORY_SECRET", raising=False)
    monkeypatch.delenv("PYTHON_UNIX_DOMAIN_ENABLED", raising=False)
    before = dict(vars(zipimport.zipimporter))
    assert not _zipcache.install()
    assert dict(vars(zipimport.zipimporter)) == before
    assert "_files" not in vars(zipimport.zipimporter)


def test_zip_backport_spares_later_worker_tasks_the_directory_reads(spark):
    """Each task imports pprl_spark (as unpickling a library UDF does),
    then counts the zip-directory reads of its own invalidate_caches()."""

    def probe(_):
        import importlib as imp
        import os as _os
        import sys as _sys
        import zipimport as zi

        had_package = "pprl_spark" in _sys.modules
        import pprl_spark  # noqa: F401

        zips = sum(isinstance(f, zi.zipimporter) for f in _sys.path_importer_cache.values())
        reads = []
        real = zi._read_directory
        zi._read_directory = lambda archive: reads.append(archive) or real(archive)
        try:
            imp.invalidate_caches()
        finally:
            zi._read_directory = real
        yield _os.getpid(), had_package, zips, len(reads)

    rdd = spark.sparkContext.parallelize(range(4), 4)
    first = rdd.mapPartitions(probe).collect()
    second = rdd.mapPartitions(probe).collect()
    if not any(zips for _, _, zips, _ in first + second):
        pytest.skip("workers import pyspark from a directory, not from pyspark.zip")
    seen = {pid for pid, *_ in first}
    later = [row for row in second if row[0] in seen]
    assert later, "no worker process ran a task in both jobs"
    for pid, had_package, zips, reads in later:
        assert had_package and zips > 0
        assert reads == 0
