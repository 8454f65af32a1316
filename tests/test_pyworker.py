"""Stat-keyed zipimport invalidation (``rspl_spark.pyworker``), no Spark:
an unchanged archive is not re-read on ``importlib.invalidate_caches()``,
a changed one is read once for all its importers."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from rspl_spark.pyworker import MARKER, prepare_worker

PKG = "rspl_zpkg"
EAGER = not hasattr(zipimport.zipimporter, "_get_files")


def _write_zip(path, extra: bool = False) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{PKG}/__init__.py", "")
        z.writestr(f"{PKG}/sub/__init__.py", "X = 1\n")
        if extra:
            z.writestr(f"{PKG}/extra.py", "Y = 2\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding a package and a subpackage, both imported from it
    (two zipimporters); ``_read_directory`` calls counted in ``reads``.
    The original ``invalidate_caches`` is restored afterwards."""
    original = zipimport.zipimporter.invalidate_caches
    path = str(tmp_path / "pkgs.zip")
    _write_zip(path)
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(path)
    importlib.import_module(f"{PKG}.sub")
    importers = [f for p, f in sys.path_importer_cache.items() if p.startswith(path)]
    assert sum(isinstance(f, zipimport.zipimporter) for f in importers) == 2
    del reads[:]
    try:
        yield path, reads
    finally:
        zipimport.zipimporter.invalidate_caches = original
        for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[name]
        for p in [p for p in sys.path_importer_cache if p.startswith(path)]:
            del sys.path_importer_cache[p]
        zipimport._zip_directory_cache.pop(path, None)


@pytest.mark.skipif(not EAGER, reason="zipimport invalidates lazily here")
def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    assert reads.count(path) == 2  # eager: one read per importer

    prepare_worker()  # reads each cached archive once, to stamp it
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(path) == 0


@pytest.mark.skipif(not EAGER, reason="zipimport invalidates lazily here")
def test_changed_archive_is_read_once_for_all_importers(archive):
    path, reads = archive
    prepare_worker()
    _write_zip(path, extra=True)  # one more module: the size changes
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    assert importlib.import_module(f"{PKG}.extra").Y == 2


@pytest.mark.skipif(not EAGER, reason="zipimport invalidates lazily here")
def test_installs_once(archive):
    prepare_worker()
    installed = zipimport.zipimporter.invalidate_caches
    assert getattr(installed, MARKER)
    prepare_worker()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_lazy_zipimport_installs_nothing(archive, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "_get_files", lambda self: {}, raising=False)
    original = zipimport.zipimporter.invalidate_caches
    prepare_worker()
    assert zipimport.zipimporter.invalidate_caches is original
