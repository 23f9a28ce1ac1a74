"""Python worker daemon for sessions built by ``session.build_session``.

Run as ``python -m finiextestingide_spark._worker_daemon`` (Spark's
``spark.python.daemon.module``). On CPython < 3.13 it swaps
``zipimport.zipimporter.invalidate_caches`` for a version that re-reads an
archive only when its ``(st_mtime_ns, st_size)`` differs from the read this
process last made, reads each archive once in the daemon so every forked
worker inherits it, then serves workers through ``pyspark.daemon.manager``.
Importing the module patches nothing.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
#: archive path -> ((st_mtime_ns, st_size) taken before the read, the directory
#: read); process-wide, like zipimport's own directory cache it sits beside
_read: dict[str, tuple[tuple[int, int] | None, dict]] = {}


def invalidate_caches(importer: zipimport.zipimporter) -> None:
    """Re-read ``importer``'s archive only if it changed since the last read."""
    try:
        st = os.stat(importer.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    last_key, files = _read.get(importer.archive, (None, None))
    if key is not None and key == last_key:
        importer._files = files
        return
    _reread(importer)
    _read[importer.archive] = (key, importer._files)


if __name__ == "__main__":
    if sys.version_info < (3, 13):  # 3.13's zipimporter invalidates lazily
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()
