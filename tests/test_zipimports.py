"""Stable zip importers: an unchanged archive is never re-read by
``importlib.invalidate_caches()``, a rewritten one is re-read once."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from pdfmef_spark.functions import zipimports


_MODULES = {"zi_mod_a.py": "X = 1\n", "zi_pkg/__init__.py": "", "zi_pkg/sub.py": "Y = 2\n"}


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip with a module and a package on sys.path, both imported, and
    a counter of ``zipimport._read_directory`` calls. Import state is
    restored afterwards so the subclass does not outlive the test."""
    archive = tmp_path / "mods.zip"
    _write_zip(archive, _MODULES)
    monkeypatch.setattr(sys, "path", [str(archive)] + sys.path)
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    # other zip importers stay out: the install converts them in place
    monkeypatch.setattr(sys, "path_importer_cache", {
        k: f for k, f in sys.path_importer_cache.items()
        if not isinstance(f, zipimport.zipimporter)
    })
    monkeypatch.setattr(zipimports, "_READ_AT", {})
    names = ("zi_mod_a", "zi_mod_b", "zi_pkg", "zi_pkg.sub")
    for name in names:
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module("zi_mod_a")
    importlib.import_module("zi_pkg.sub")

    reads = []
    orig = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return orig(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in names:
        sys.modules.pop(name, None)
    zipimport._zip_directory_cache.pop(str(archive), None)


def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    # the stock importers (one for the archive root, one for zi_pkg)
    # each re-read the archive on every invalidation
    importlib.invalidate_caches()
    assert len(reads) == 2

    zipimports.install_stable_zip_importers()
    ours = [
        f for k, f in sys.path_importer_cache.items() if k.startswith(str(archive))
    ]
    assert len(ours) == 2
    assert all(type(f) is zipimports.StableZipImporter for f in ours)
    assert zipimports.StableZipImporter in sys.path_hooks
    assert zipimport.zipimporter not in sys.path_hooks

    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    # modules loaded before the install still resolve through the
    # importer, now the subclass
    assert type(sys.modules["zi_mod_a"].__loader__) is zipimports.StableZipImporter


def test_rewritten_archive_is_reread_once(zip_on_path):
    archive, reads = zip_on_path
    zipimports.install_stable_zip_importers()
    before = archive.stat()
    _write_zip(archive, {**_MODULES, "zi_mod_b.py": "Z = 3\n"})
    # same mtime, as on a filesystem with coarse timestamps: the size
    # alone must give the rewrite away
    os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns))
    assert archive.stat().st_size != before.st_size

    reads.clear()
    importlib.invalidate_caches()
    # both importers of the archive share the one re-read directory
    assert reads == [str(archive)]
    assert importlib.import_module("zi_mod_b").Z == 3

    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    # same size, later mtime: the mtime gives this rewrite away
    before = archive.stat()
    _write_zip(archive, {**_MODULES, "zi_mod_b.py": "Z = 4\n"})
    os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    assert archive.stat().st_size == before.st_size
    importlib.invalidate_caches()
    assert reads == [str(archive)]


def test_second_install_is_noop(zip_on_path):
    _, reads = zip_on_path
    zipimports.install_stable_zip_importers()
    hooks = list(sys.path_hooks)
    reads.clear()
    zipimports.install_stable_zip_importers()
    assert reads == []
    assert sys.path_hooks == hooks
    assert sys.path_hooks.count(zipimports.StableZipImporter) == 1
