"""The zip-directory stat guard (ezmsg_sigproc_spark/zipguard.py): an
unchanged archive is not re-read on every ``importlib.invalidate_caches()``,
a changed or missing one is, and Spark's per-task invalidation still makes
archives shipped later importable."""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from ezmsg_sigproc_spark import zipguard

guarded = pytest.mark.skipif(sys.version_info >= (3, 13),
                             reason="zipimport is lazy from Python 3.13")


def _write_zip(path, modules: dict[str, str]):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path with one imported module; yields (path, importer,
    directory reads of this archive, a fresh module name)."""
    stem = f"zg_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / f"{stem}.zip")
    _write_zip(path, {f"{stem}_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    importlib.import_module(f"{stem}_a")
    monkeypatch.delitem(sys.modules, f"{stem}_a")
    reads = []
    eager_read = zipimport._read_directory

    def counting_read(archive):
        if archive == path:
            reads.append(archive)
        return eager_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield path, sys.path_importer_cache[path], reads, f"{stem}_b"


@guarded
def test_installed_on_package_import():
    assert zipimport.zipimporter.invalidate_caches is zipguard._guarded_invalidate


@guarded
def test_unchanged_archive_is_read_once(archive):
    path, importer, reads, _ = archive
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [path]
    assert importer._files is zipimport._zip_directory_cache[path]
    assert "VALUE" not in importer._files  # a directory, not module contents


@guarded
def test_rewritten_archive_is_reread_and_new_module_importable(archive, monkeypatch):
    path, importer, reads, new_mod = archive
    importlib.invalidate_caches()
    _write_zip(path, {new_mod: "VALUE = 2\n"})
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert len(reads) == 2
    monkeypatch.delitem(sys.modules, new_mod, raising=False)
    assert importlib.import_module(new_mod).VALUE == 2
    importlib.invalidate_caches()
    assert len(reads) == 2


@guarded
def test_missing_archive_is_reread_as_before(archive):
    path, importer, reads, _ = archive
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert path not in zipimport._zip_directory_cache


def test_noop_from_python_313(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipguard._eager_invalidate)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    zipguard.install()
    assert zipimport.zipimporter.invalidate_caches is zipguard._eager_invalidate


def test_add_py_file_after_workers_started_is_importable(spark, tmp_path):
    """Spark workers re-run importlib.invalidate_caches() per task so that
    archives added with addPyFile become importable; the guard installed in
    those workers must not hide an archive shipped after they started."""
    sc = spark.sparkContext

    def guard_state(_):
        import zipimport as zi

        from ezmsg_sigproc_spark import zipguard as zg

        yield zi.zipimporter.invalidate_caches is zg._guarded_invalidate

    installed = sc.parallelize(range(8), 8).mapPartitions(guard_state).collect()
    assert installed == [sys.version_info < (3, 13)] * 8

    mod = f"late_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / f"{mod}.zip")
    _write_zip(path, {mod: "VALUE = 42\n"})
    sc.addPyFile(path)

    def load_late(_):
        yield importlib.import_module(mod).VALUE

    assert sc.parallelize(range(8), 8).mapPartitions(load_late).collect() == [42] * 8
