"""Zip importers that re-read an archive only when it changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, reused worker or not (``setup_spark_files``,
``pyspark/worker_util.py:124-143``). On Python 3.11
``zipimport.zipimporter.invalidate_caches`` re-reads the whole central
directory of its archive, and a worker holds one importer per zip path
entry and per package directory it imported from one. After an Arrow
UDF task that is 16 importers: 12 over ``pyspark.zip`` (1,328 entries),
2 over Spark's core jar, which is on the worker's path (5,359 entries),
and 2 over py4j's zip. Re-reading them was about 0.25 s of every Python
task before any engine code ran, against 0.28 s of extract plus
relation work for all 1,500 pages of a benchmark build.

:func:`install_stable_zip_importers` is called first thing in every
engine Arrow/pandas UDF body. It runs once per process; later calls
return at once.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) the archive had when its
# directory in zipimport._zip_directory_cache was last read. Process-wide,
# like that cache: every importer of an archive shares one directory
_READ_AT: dict[str, tuple[int, int] | None] = {}


def _signature(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StableZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches()`` re-reads the archive
    only when its ``(st_mtime_ns, st_size)`` changed since the last read.

    A new or rewritten archive is still seen. Importers of one archive
    share its directory through ``zipimport._zip_directory_cache``, so a
    change is read once, not once per importer.
    """

    def invalidate_caches(self):
        sig = _signature(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if sig is not None and files is not None and _READ_AT.get(self.archive) == sig:
            self._files = files
            return
        # signature taken before the read: a rewrite during the read
        # shows as a changed signature next time
        super().invalidate_caches()
        _READ_AT[self.archive] = sig


def install_stable_zip_importers() -> None:
    """Make this process's zip importers :class:`StableZipImporter`.

    Replaces ``zipimport.zipimporter`` in ``sys.path_hooks`` and turns
    every plain zipimporter cached in ``sys.path_importer_cache`` into
    the subclass, in place, so modules already loaded through it keep
    their loader. Each archive is read once here, so the signature
    recorded for it matches the directory the importers hold.
    """
    if StableZipImporter in sys.path_hooks:
        return
    sys.path_hooks[:] = [
        StableZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    for finder in list(sys.path_importer_cache.values()):
        if type(finder) is zipimport.zipimporter:
            finder.__class__ = StableZipImporter
            finder.invalidate_caches()
