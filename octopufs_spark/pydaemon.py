"""PySpark worker daemon that resets the import cache without re-reading
unchanged zip archives, and whose workers' collections skip the heap
they inherit.

Every Python task calls ``importlib.invalidate_caches()`` while it sets
up its Spark files (``pyspark/worker_util.py``, ``setup_spark_files``).
Before CPython 3.13 that makes each ``zipimporter`` re-read its whole
archive directory; workers import PySpark from ``pyspark.zip`` (about
1,300 entries, 16 importers), which costs about 0.22 CPU-s per task
whatever the task does. This daemon's workers re-read an archive only
when its ``(st_mtime_ns, st_size)`` differs from what that importer
last read, or when it cannot be stat-ed. On 3.13+, where the reset is
lazy upstream, it leaves the reset to the stock ``pyspark.daemon``.

Its second job is on both branches. A reused worker runs a full
``gc.collect()`` after every task (``pyspark/daemon.py``), and a full
collection walks every tracked object, including the whole heap the
worker inherited from the daemon, mostly the PySpark modules it
imported. The daemon calls ``gc.freeze()`` once, after its imports and
just before it starts forking, which moves that heap into CPython's
permanent generation; collections skip it, so a worker's walks only
what it allocated after the fork. What a task allocates is collected
as before. On a 4-CPU x86 VM (CPython 3.11, Spark 4.1, ``local[4]``,
worker CPU per pid from ``/proc``) a trivial 4-task job cost 120–130
ms of worker CPU before and 10 ms after, and a 4-task copy of 80 files
of 2–6 KB 130–180 ms before and 50–80 ms after. The freeze is in the
daemon, never in a worker after a task: there it would make whatever a
task left reachable permanent, and a cycle among those objects could
never be freed.

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
    import gc

    from pyspark import daemon

    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
        # forked workers inherit these stamps, so their first task skips
        # the re-read too
        for importer in list(sys.path_importer_cache.values()):
            if isinstance(importer, zipimport.zipimporter):
                importer._read_stamp = _stamp(importer.archive)
    # everything alive now is the heap every forked worker inherits:
    # move it to the permanent generation, which collections skip, so
    # a reused worker's gc.collect() between tasks walks only what it
    # allocated itself
    gc.freeze()
    daemon.manager()
