"""The stat-checked ``zipimporter.invalidate_caches``: an unchanged
archive is not re-read, a rewritten one is, CPython >= 3.13 keeps its
own method, and Spark's Python workers run with it installed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from publicationsretriever_spark import _zipdir


@pytest.fixture()
def zip_path(tmp_path, monkeypatch):
    """A one-module archive on sys.path; reads of it are counted in
    ``reads`` (the archive's ``_read_directory`` calls)."""
    path = tmp_path / "pkgs.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zd_first/__init__.py", "X = 1\n")
    monkeypatch.syspath_prepend(str(path))
    monkeypatch.setattr(_zipdir, "_reads", {})
    reads = []
    original = zipimport._read_directory

    def counting(archive):
        if archive == str(path):
            reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, reads
    for name in ("zd_first", "zd_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(path), None)
    sys.path_importer_cache.pop(str(path / "zd_first"), None)
    zipimport._zip_directory_cache.pop(str(path), None)


def _importer(path):
    return sys.path_importer_cache[str(path)]


def test_installed_on_import():
    assert sys.version_info >= (3, 13) or (
        zipimport.zipimporter.invalidate_caches is _zipdir._invalidate_caches
    )


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="CPython's lazy method")
def test_unchanged_archive_is_not_reread(zip_path):
    path, reads = zip_path
    import zd_first  # noqa: F401

    assert zd_first.X == 1
    reads.clear()  # the importer's own first read
    importlib.invalidate_caches()
    # the first invalidation reads once for every importer of the archive
    assert len(reads) == 1
    files = _importer(path)._files
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert _importer(path)._files is files


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="CPython's lazy method")
def test_rewritten_archive_is_reread(zip_path):
    path, reads = zip_path
    import zd_first  # noqa: F401

    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        import zd_second  # noqa: F401
    reads.clear()
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zd_first/__init__.py", "X = 1\n")
        z.writestr("zd_second.py", "Y = 2\n")
    importlib.invalidate_caches()
    assert len(reads) == 1
    import zd_second

    assert zd_second.Y == 2


def test_install_is_version_gated_and_idempotent(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _zipdir._original
    )
    assert _zipdir.install((3, 13, 0)) is False
    assert zipimport.zipimporter.invalidate_caches is _zipdir._original
    assert _zipdir.install((3, 11, 7)) is True
    assert _zipdir.install((3, 12, 1)) is True
    assert zipimport.zipimporter.invalidate_caches is _zipdir._invalidate_caches


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="CPython's lazy method")
def test_python_worker_runs_with_it_installed(spark):
    def probe(batches):
        import zipimport as zi

        import pandas as pd

        import publicationsretriever_spark  # noqa: F401

        for _ in batches:
            pass
        yield pd.DataFrame({"installed": [
            hasattr(zi.zipimporter.invalidate_caches, "__wrapped__")
        ]})

    rows = (
        spark.range(4).repartition(2)
        .mapInPandas(probe, schema="installed boolean").collect()
    )
    assert rows and all(r.installed for r in rows)
