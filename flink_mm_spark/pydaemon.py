"""PySpark worker daemon for engine sessions: per-task setup without
re-reading zip archives.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
EVERY task (``pyspark.worker_util.setup_spark_files``). Before CPython
3.12 (gh-103200 made the invalidation lazy) that makes every
``zipimporter`` on the worker's path re-read its archive's whole central
directory: the importers for pyspark.zip, its package dirs and the
spark-core jar cost 140-230 ms per task, where a typical engine kernel
runs for 2-8 ms. A driver loop (k-means, DA-MDS) pays that on every task
of every iteration.

This module wraps ``zipimporter.invalidate_caches`` so that an importer
re-reads its archive only when the archive's ``(st_mtime_ns, st_size)``
differs from the stamp taken at its last re-read. A changed or missing
archive still goes through the original re-read, so ``addPyFile`` and
rewritten archives behave exactly as before. It then runs PySpark's own
daemon. ``session.get_spark`` selects it with ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive unless it is unchanged since this importer last
    re-read it. The stamp is taken BEFORE the re-read, so a write racing
    the read shows up as a changed stamp on the next call."""
    stamp = _stamp(self.archive)
    if stamp is not None and stamp == getattr(self, "_read_stamp", None):
        return
    _reread(self)
    self._read_stamp = stamp


if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # stamp every importer the daemon's imports created, so each forked
    # worker starts with them and skips even its first task's re-read
    importlib.invalidate_caches()
    daemon.manager()
