"""Distributed file copy: byte-copies on the cluster, small batches on
the driver.

Rebuild of the reference's DistributedExecution (reference:
fs/DistributedExecution.scala:42-84): one file per task by default so
task sizes are uniform (the reference defeats default chunking with a
custom round-robin partitioner, :51-60 — ``sc.parallelize(pairs, n)``
round-robins a Python list the same way), the filesystem handle is
opened once per partition (:64-66), results are collected and the
failed subset re-run through the shared ``core.retry_failed`` (at most
5 attempts, :72-83). A batch in which every pair failed aborts the
copy at once instead of retrying, as the reference's loop does.

A batch whose sources total less than ``DRIVER_COPY_BYTES`` copies on
a small driver thread pool instead: a Spark job of Python tasks has a
fixed cost that a few hundred KB do not need. Spark draws the same
line for its own file listing — ``InMemoryFileIndex`` lists on the
driver below ``spark.sql.sources.parallelPartitionDiscovery.threshold``
paths and launches a job above it. Both paths run one per-pair body,
:func:`_copy_pair`, so the copy contract lives in one place.

Python workers have no py4j bridge to Hadoop FileSystems, so the
per-task copy uses pyarrow.fs resolved from the URI inside the task
(SURVEY.md §7 hard-part 1). The reference recommends disabling
speculation for copy jobs (README.md:25); copies here are
overwrite-idempotent, which makes duplicate speculative tasks safe.

Paths follow the contract in the ``fs.core`` docstring: taken as
written, never percent-decoded, each resolved on its own filesystem.

A copy task's fixed cost is PySpark's, not the copy's: each Python task
resets the import cache, which before CPython 3.13 re-read
``pyspark.zip`` at about 0.22 CPU-s per task, and a reused worker runs
a full garbage collection after each task, which walked the whole heap
it inherited from the daemon. The library's worker daemon
(``octopufs_spark.pydaemon``, set by ``session.get_spark``) skips the
re-read for unchanged zips and freezes its heap before it forks, so
the collection walks only what the worker allocated: a 4-task copy of
80 files of 2–6 KB went from 130–180 ms of worker CPU to 50–80 ms on
a 4-CPU x86 VM.
"""

from __future__ import annotations

import os
import posixpath

from pyspark.sql import SparkSession

from octopufs_spark.fs.core import (
    Resolve,
    copy_bytes,
    list_tree,
    rebase_paths,
    resolver,
    retry_failed,
)
from octopufs_spark.fs.local import _run_threaded
from octopufs_spark.fs.model import FsOperationResult, Paths

# A batch whose sources total fewer bytes than this copies on the driver.
# The crossover on a 4-CPU x86 VM (SCALE.md, "copies on the driver or in
# a Spark job") lies between 64 and 256 MiB; this sits at its low end,
# because on a real cluster the driver's one NIC and disk are the limit
# while the executors' bandwidth adds up: 64 MiB is under a second at
# 100 MB/s, about what a cluster takes to schedule a job, and any larger
# batch still goes to the cluster.
DRIVER_COPY_BYTES = 64 * 1024 * 1024
# The driver pool: a few streams hide per-file latency; the bytes, not
# the thread count, bound a driver copy.
DRIVER_COPY_WORKERS = 16


def _same_file(src_fs, sp: str, trg_fs, dp: str) -> bool:
    """Whether the target is the source under another spelling: an
    existing local target by inode (``//``, ``/./``, a symlinked dir), a
    ``mock://`` path normalized (it maps one-to-one onto local dirs); on
    an object store ``a//b`` is another key."""
    if src_fs.type_name != trg_fs.type_name:
        return False
    if trg_fs.type_name == "local":
        return os.path.exists(dp) and os.path.samefile(sp, dp)
    if trg_fs.type_name.startswith("py::mock"):
        return posixpath.normpath(sp) == posixpath.normpath(dp)
    return sp == dp


def _copy_pair(resolve: Resolve, src: str, dst: str) -> bool:
    """Copy one (src, dst) pair; True on success. The pair resolves
    inside its own ``try``, so a path that cannot be resolved, a
    missing source or a self-copy fails only this pair."""
    try:
        src_fs, sp = resolve(src)
        trg_fs, dp = resolve(dst)
        if _same_file(src_fs, sp, trg_fs, dp):
            # self-copy would truncate the source on open-for-write
            raise ValueError(f"source and target are the same file: {src}")
        trg_fs.create_dir(dp.rsplit("/", 1)[0], recursive=True)
        copy_bytes(src_fs, sp, trg_fs, dp)
        return True
    except Exception:
        return False


def _copy_partition(pairs):
    """Executor-side: copy each (src, dst) pair through one
    ``core.resolver`` per task, so a task may mix filesystems and each
    scheme and authority opens once."""
    resolve = resolver()
    for src, dst in pairs:
        yield (src, _copy_pair(resolve, src, dst))


def _fits_on_driver(pairs: list[tuple[str, str]], resolve: Resolve) -> bool:
    """Whether the sources of ``pairs`` total fewer than
    ``DRIVER_COPY_BYTES``. The stats run on the driver pool, a chunk at
    a time, and stop once the total reaches the limit. A source that
    cannot be resolved or is missing counts as 0 bytes: its copy fails
    its own pair on either path."""

    def size(pair: tuple[str, str]) -> int:
        try:
            fs, path = resolve(pair[0])
            return fs.get_file_info(path).size or 0
        except Exception:
            return 0

    total, step = 0, DRIVER_COPY_WORKERS * 8
    for i in range(0, len(pairs), step):
        total += sum(_run_threaded(size, pairs[i : i + step], DRIVER_COPY_WORKERS))
        if total >= DRIVER_COPY_BYTES:
            return False
    return True


def copy_files(
    spark: SparkSession, paths: list[Paths], task_count: int = -1
) -> list[FsOperationResult]:
    """Copy explicit (source, target) pairs
    (reference: copyFiles, fs/DistributedExecution.scala:42-84).

    Each batch — the first, then each retry of its failed subset —
    picks its path by the total bytes of its sources. Below
    ``DRIVER_COPY_BYTES`` the pairs copy on a driver pool of at most
    ``DRIVER_COPY_WORKERS`` threads (never more than there are pairs),
    which launches no Spark job; the threads share one resolver, and a
    head two threads open at once is opened twice, which is harmless.
    Otherwise one Spark job copies them in ``task_count`` tasks (-1:
    one task per file); ``task_count`` names Spark tasks only and has
    no effect on the driver path. A batch in which every pair failed
    raises at once; failed pairs retry through ``core.retry_failed``."""
    if not paths:
        return []
    sc = spark.sparkContext

    def copy_batch(batch: list[Paths]) -> list[FsOperationResult]:
        pairs = [(p.source_path, p.target_path) for p in batch]
        resolve = resolver()
        if _fits_on_driver(pairs, resolve):
            raw = _run_threaded(
                lambda pair: (pair[0], _copy_pair(resolve, *pair)), pairs, DRIVER_COPY_WORKERS
            )
        else:
            n = len(batch) if task_count == -1 else task_count
            raw = sc.parallelize(pairs, max(1, n)).mapPartitions(_copy_partition).collect()
        if not any(ok for _, ok in raw):
            raise RuntimeError(f"distributed copy failed for {len(batch)}/{len(batch)} files")
        return [FsOperationResult(path, ok) for path, ok in raw]

    return retry_failed(copy_batch, paths, "distributed copy")


def copy_folder(
    spark: SparkSession, src_uri: str, trg_uri: str, task_count: int = -1
) -> list[FsOperationResult]:
    """Recursive folder copy through :func:`copy_files` (files only —
    empty dirs are not recreated, matching the documented caveat)
    (reference: copyFolder, fs/DistributedExecution.scala:22-30)."""
    files = [e.path for e in list_tree(src_uri) if not e.is_dir]
    return copy_files(spark, rebase_paths(files, src_uri, trg_uri), task_count)
