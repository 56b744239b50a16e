"""PySpark's worker daemon, with zip archives re-read only when they change.

Every Python UDF task calls ``importlib.invalidate_caches()`` (PySpark's
``setup_spark_files``). Before CPython 3.13 that makes every
``zipimporter`` on ``sys.path_importer_cache`` re-read its archive's whole
central directory, eagerly: ~14-16 reads of the 3.5 MB ``pyspark.zip``
that leads the PYTHONPATH Spark gives every worker, 0.15-0.29 s of CPU
per task whatever its size. Here a re-read happens only when the archive's
``(st_ino, st_size, st_mtime_ns)`` differs from the last read's; otherwise
the importer rebinds to zipimport's cached directory. ``session.get_spark``
names this module as ``spark.python.daemon.module``, so every forked worker
inherits the guard. Run as ``python -m dedupe_trees_spark.worker_daemon``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def guarded(invalidate):
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""

    def invalidate_caches(self):
        # stat before reading: a change during the read leaves an old stamp
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
            self._files = files
            return
        invalidate(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            _stamps[self.archive] = stamp

    return invalidate_caches


if __name__ == "__main__":
    # CPython >= 3.13 defers the re-read to the importer's next lookup
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = guarded(zipimport.zipimporter.invalidate_caches)
    from pyspark import daemon

    importlib.invalidate_caches()  # one stamped read per archive, before the fork
    daemon.manager()
