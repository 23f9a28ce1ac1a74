"""The worker daemon's stat-guarded zip directory cache, driven in-process
on a throwaway archive (no Spark)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from finiextestingide_spark import _worker_daemon

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the daemon installs no guard on CPython >= 3.13"
)


def _write_zip(path, **modules: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


@pytest.fixture
def guarded(monkeypatch, tmp_path):
    """A zip on sys.path with the guard installed; all undone afterwards."""
    archive = str(tmp_path / "guard.zip")
    _write_zip(archive, zipguard_mod="VALUE = 1\n")
    monkeypatch.setattr(_worker_daemon, "_read", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _worker_daemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("zipguard_mod", "zipguard_new"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def test_import_does_not_patch():
    assert zipimport.zipimporter.invalidate_caches is _worker_daemon._reread


def test_unchanged_archive_is_not_reread(guarded):
    assert importlib.import_module("zipguard_mod").VALUE == 1
    importer = sys.path_importer_cache[guarded]
    assert isinstance(importer, zipimport.zipimporter)
    importlib.invalidate_caches()  # first sight: reads once and records the stat
    files = importer._files
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert importer._files is files


def test_rewritten_archive_is_reread(guarded):
    assert importlib.import_module("zipguard_mod").VALUE == 1
    importlib.invalidate_caches()
    _write_zip(guarded, zipguard_new="VALUE = 3\n", zipguard_mod="VALUE = 22\n")
    del sys.modules["zipguard_mod"]
    importlib.invalidate_caches()
    assert importlib.import_module("zipguard_new").VALUE == 3  # only in the new directory
    assert importlib.import_module("zipguard_mod").VALUE == 22
