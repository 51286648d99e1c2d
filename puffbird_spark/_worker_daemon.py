"""Python worker daemon: ``pyspark.daemon`` with a zip-import cache that
re-reads an archive only when it changed.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython before 3.13 each
``zipimporter.invalidate_caches`` eagerly re-reads its archive's whole
directory, and a worker holds one zipimporter per package directory of
``pyspark.zip`` (16 of them over 1,328 entries), so every task spent
about a second re-reading an archive that never changes. :func:`install`
makes each importer re-read only when the archive's ``(st_mtime_ns,
st_size, st_ino)`` differs from what it saw at its last read. CPython
3.13 made the invalidation lazy, so there it changes nothing.

``get_spark`` points ``spark.python.daemon.module`` here; Spark starts it
as ``python -m puffbird_spark._worker_daemon <worker module>`` and the
forked workers inherit the patched importer.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives;
    the patched method carries ``skips_unchanged = True``."""
    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(reread, "skips_unchanged", False):
        return

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is not None and stamp == getattr(self, "_read_stamp", None):
            return
        # stamp before reading: a rewrite during the read re-reads next time
        self._read_stamp = stamp
        reread(self)

    invalidate_caches.skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import importlib

    install()
    # stamp the daemon's importers once, so forked workers start clean
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
