"""The stat-keyed zip-directory cache of ``gorilla_stream_spark._worker``."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from gorilla_stream_spark import _worker

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython >= 3.13 re-reads zip archives lazily"
)


def _write_zip(path, extra: dict[str, str] | None = None) -> None:
    files = {
        "zpkg/__init__.py": "NAME = 'zpkg'\n",
        "zpkg/sub/__init__.py": "",
        "zpkg/sub/mod.py": "VALUE = 42\n",
        **(extra or {}),
    }
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture
def zpkg(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding a package and a subpackage, both
    imported, plus a log of the archives ``zipimport._read_directory`` reads."""
    archive = str(tmp_path / "zpkg.zip")
    _write_zip(archive)
    reads: list[str] = []
    read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.syspath_prepend(archive)
    import zpkg.sub.mod

    assert zpkg.NAME == "zpkg" and zpkg.sub.mod.VALUE == 42
    reads.clear()  # count from here, not the import's own read
    yield archive, reads
    for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)
    _worker._stamps.pop(archive, None)


def _importers(archive):
    return [
        v
        for k, v in sys.path_importer_cache.items()
        if k.startswith(archive) and isinstance(v, zipimport.zipimporter)
    ]


@needs_patch
def test_installed_on_package_import():
    assert _worker.installed()


@needs_patch
def test_unchanged_zip_is_not_reread(zpkg):
    archive, reads = zpkg
    assert len(_importers(archive)) >= 2  # the archive root and zpkg/
    importlib.invalidate_caches()
    # the first call after import reads once for the archive and stamps it;
    # the other importers of the same archive re-use that read
    assert reads.count(archive) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 1
    files = zipimport._zip_directory_cache[archive]
    assert all(imp._files is files for imp in _importers(archive))


@needs_patch
def test_rewritten_zip_is_reread(zpkg):
    archive, reads = zpkg
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        import zpkg.new  # noqa: F401
    _write_zip(archive, {"zpkg/new.py": "FRESH = True\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    import zpkg.new

    assert zpkg.new.FRESH is True


def test_deleted_zip_behaves_like_stock(zpkg):
    archive, _ = zpkg
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()  # must not raise
    assert archive not in zipimport._zip_directory_cache
    assert archive not in _worker._stamps
    assert all(imp._files == {} for imp in _importers(archive))


@needs_patch
def test_double_install_is_noop():
    method = zipimport.zipimporter.invalidate_caches
    assert _worker.install() is False
    assert zipimport.zipimporter.invalidate_caches is method
    assert method.__wrapped__ is not method and not hasattr(method.__wrapped__, "stat_keyed")


def test_nothing_patched_on_313(monkeypatch):
    stock = getattr(
        zipimport.zipimporter.invalidate_caches,
        "__wrapped__",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert _worker.install() is False
    assert zipimport.zipimporter.invalidate_caches is stock
    assert not _worker.installed()


def test_hook_installed_in_spark_worker(spark):
    def report(batches):
        import sys
        import zipimport

        import pyarrow as pa

        import gorilla_stream_spark.engine  # noqa: F401

        for _ in batches:
            pass
        method = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict(
            {
                "installed": [getattr(method, "stat_keyed", False)],
                "old_python": [sys.version_info < (3, 13)],
            }
        )

    rows = spark.range(0, 2, 1, 2).mapInArrow(report, "installed boolean, old_python boolean")
    got = rows.collect()
    assert len(got) == 2
    assert all(r.installed == r.old_python for r in got)
