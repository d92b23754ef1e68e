"""Distributed file copy, and the one rule for where a batch of bytes
moves: on the cluster, or on the driver when it is small.

Rebuild of the reference's DistributedExecution (reference:
fs/DistributedExecution.scala:42-84): one file per task by default so
task sizes are uniform (the reference defeats default chunking with a
custom round-robin partitioner, :51-60 — ``sc.parallelize(pairs, n)``
round-robins a Python list the same way), the filesystem handle is
opened once per partition (:64-66), results are collected and the
failed subset re-run through the shared ``core.retry_failed`` (at most
5 attempts, :72-83). A batch in which every pair failed aborts the
copy at once instead of retrying, as the reference's loop does.

A batch of less than ``DRIVER_COPY_BYTES`` runs on a small driver
thread pool instead: a Spark job of Python tasks has a fixed cost that a
few hundred KB do not need. Spark draws the same line for its own file
listing — ``InMemoryFileIndex`` lists on the driver below
``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths and
launches a job above it. :func:`map_partitions` holds that rule for
every byte-moving batch of the storage toolkit: copies here, and
``compact``'s rewrites of small files. Each caller hands it one
per-partition body, which runs in the driver's threads or in Spark's
tasks alike, so a copy's contract (:func:`_copy_pair`) and a rewrite's
live in one place each.

A driver batch whose every path is local (no scheme, or ``file:``)
runs on the calling thread (:func:`driver_workers`): a local call has
no round trip for threads to hide, and threads moving small files
contend for the GIL. A batch with any object-store path, ``mock://``
included, keeps the pool of ``DRIVER_COPY_WORKERS``; the reference
sizes its pools for ADLS's HTTP latency (README.md:10-16). A by-hand
probe on a 4-CPU x86 VM (process-tree CPU / wall ms, medians; SCALE.md,
"Driver batches on one thread"): ``copy_folder`` of 80 files of 2–6 KB
50 / 34 on 16 threads against 10 / 13 on one, their compaction 50 / 29
against 20 / 20, a compaction of 60 files of 1 MiB 130 / 47 against
120 / 123. CPU is never higher on one thread; wall time grows on
byte-heavy local batches, up to 2.6× here. An object store mounted
through FUSE is reached by a local path, so it loses the pool.

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
    is_local,
    list_tree,
    rebase_paths,
    resolver,
    retry_failed,
)
from octopufs_spark.fs.local import _run_threaded
from octopufs_spark.fs.model import FsOperationResult, Paths

# A batch of fewer bytes than this runs on the driver: copies, and
# compaction's rewrites. The copy crossover on a 4-CPU x86 VM (SCALE.md,
# "Copies on the driver or in a Spark job") lies between 64 and 256 MiB;
# this sits at its low end, because on a real cluster the driver's one
# NIC and disk are the limit while the executors' bandwidth adds up:
# 64 MiB is under a second at 100 MB/s, about what a cluster takes to
# schedule a job, and any larger batch still goes to the cluster.
DRIVER_COPY_BYTES = 64 * 1024 * 1024
# The driver pool: a few streams hide per-file latency; the bytes, not
# the thread count, bound a driver batch.
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
    """Copy each (src, dst) pair of one partition — a Spark task or a
    driver thread — through one ``core.resolver``, so a partition may
    mix filesystems and each scheme and authority opens once."""
    resolve = resolver()
    for src, dst in pairs:
        yield (src, _copy_pair(resolve, src, dst))


def driver_workers(paths, pool: int = DRIVER_COPY_WORKERS) -> int:
    """The driver pool's size for a batch touching ``paths``: one — the
    calling thread — when every path is on the local filesystem, else
    ``pool``."""
    return 1 if all(is_local(p) for p in paths) else pool


def map_partitions(
    spark: SparkSession, batch: list, total_bytes: int, body, partitions: int, workers: int
) -> list:
    """``body`` over ``batch`` in partitions, and its results in batch
    order: on the driver when the batch moves fewer than
    ``DRIVER_COPY_BYTES``, in one Spark job otherwise.

    ``body`` maps one partition's items to an iterator of results, as
    ``RDD.mapPartitions`` takes it. On the driver, the batch is cut into
    at most ``workers`` (see :func:`driver_workers`) contiguous
    partitions, each run by a thread of ``fs.local._run_threaded``,
    whose threads exit before this returns; one worker runs the whole
    batch on the calling thread. ``partitions`` names Spark tasks only.
    In Spark, the batch is ``sc.parallelize(batch, partitions)``."""
    if total_bytes < DRIVER_COPY_BYTES:
        n = min(workers, len(batch))
        parts = [batch[i * len(batch) // n : (i + 1) * len(batch) // n] for i in range(n)]
        return [r for part in _run_threaded(lambda p: list(body(p)), parts, n) for r in part]
    return spark.sparkContext.parallelize(batch, max(1, partitions)).mapPartitions(body).collect()


def _source_bytes(pairs: list[tuple[str, str]], workers: int) -> int:
    """The total size of the sources of ``pairs``, or any figure of at
    least ``DRIVER_COPY_BYTES`` once it is reached. The stats run on
    ``workers`` driver threads (:func:`driver_workers`), a chunk at a
    time, through one resolver. A source that cannot be resolved or is
    missing counts as 0 bytes: its copy fails its own pair on either
    path."""
    resolve = resolver()

    def size(pair: tuple[str, str]) -> int:
        try:
            fs, path = resolve(pair[0])
            return fs.get_file_info(path).size or 0
        except Exception:
            return 0

    total, step = 0, DRIVER_COPY_WORKERS * 8
    for i in range(0, len(pairs), step):
        total += sum(_run_threaded(size, pairs[i : i + step], workers))
        if total >= DRIVER_COPY_BYTES:
            break
    return total


def copy_files(
    spark: SparkSession, paths: list[Paths], task_count: int = -1
) -> list[FsOperationResult]:
    """Copy explicit (source, target) pairs
    (reference: copyFiles, fs/DistributedExecution.scala:42-84).

    Each batch — the first, then each retry of its failed subset — runs
    through :func:`map_partitions` by the total bytes of its sources:
    on the driver pool below ``DRIVER_COPY_BYTES``, which launches no
    Spark job, otherwise as one Spark job of ``task_count`` tasks (-1:
    one task per file); ``task_count`` has no effect on the driver path.
    Each partition copies through one resolver. A batch in which every
    pair failed raises at once; failed pairs retry through
    ``core.retry_failed``."""
    if not paths:
        return []

    def copy_batch(batch: list[Paths]) -> list[FsOperationResult]:
        pairs = [(p.source_path, p.target_path) for p in batch]
        n = len(batch) if task_count == -1 else task_count
        workers = driver_workers(path for pair in pairs for path in pair)
        total = _source_bytes(pairs, workers)
        raw = map_partitions(spark, pairs, total, _copy_partition, n, workers)
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
