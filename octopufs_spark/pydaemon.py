"""PySpark worker daemon that resets the import cache without re-reading
unchanged zip archives.

Every Python task calls ``importlib.invalidate_caches()`` while it sets
up its Spark files (``pyspark/worker_util.py``, ``setup_spark_files``).
Before CPython 3.13 that makes each ``zipimporter`` re-read its whole
archive directory; workers import PySpark from ``pyspark.zip`` (about
1,300 entries, 16 importers), which costs about 0.22 CPU-s per task
whatever the task does. This daemon's workers re-read an archive only
when its ``(st_mtime_ns, st_size)`` differs from what that importer
last read, or when it cannot be stat-ed. On 3.13+, where the reset is
lazy upstream, it runs the stock ``pyspark.daemon``.

Selected by ``spark.python.daemon.module`` (see ``session.DEFAULT_CONF``).
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    # the stamp is per importer: a shared per-archive one would let one
    # importer's reload hide a change from the others
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    from pyspark import daemon

    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
        # forked workers inherit these stamps, so their first task skips
        # the re-read too
        for importer in list(sys.path_importer_cache.values()):
            if isinstance(importer, zipimport.zipimporter):
                importer._read_stamp = _stamp(importer.archive)
    daemon.manager()
