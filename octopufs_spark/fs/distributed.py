"""Distributed file copy: fan byte-copies out to executors.

Rebuild of the reference's DistributedExecution (reference:
fs/DistributedExecution.scala:42-84): one file per task by default so
task sizes are uniform (the reference defeats default chunking with a
custom round-robin partitioner, :51-60 — ``sc.parallelize(pairs, n)``
round-robins a Python list the same way), the filesystem handle is
opened once per partition (:64-66), results are collected and the
failed subset re-run through the shared ``core.retry_failed`` (at most
5 attempts, :72-83). A batch in which every pair failed aborts the
copy at once instead of retrying, as the reference's loop does.

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

from pyspark.sql import SparkSession

from octopufs_spark.fs.core import copy_bytes, list_tree, rebase_paths, resolver, retry_failed
from octopufs_spark.fs.model import FsOperationResult, Paths


def _copy_partition(pairs):
    """Executor-side: copy each (src, dst) pair. Each pair resolves
    inside its own ``try`` through one ``core.resolver`` per task, so
    a task may mix filesystems, each scheme and authority opens once,
    and a path that cannot be resolved fails only its own pair."""
    resolve = resolver()
    for src, dst in pairs:
        try:
            src_fs, sp = resolve(src)
            trg_fs, dp = resolve(dst)
            if sp == dp and src_fs.type_name == trg_fs.type_name:
                # self-copy would truncate the source on open-for-write
                raise ValueError(f"source and target are the same file: {src}")
            trg_fs.create_dir(dp.rsplit("/", 1)[0], recursive=True)
            copy_bytes(src_fs, sp, trg_fs, dp)
            yield (src, True)
        except Exception:
            yield (src, False)


def copy_files(
    spark: SparkSession, paths: list[Paths], task_count: int = -1
) -> list[FsOperationResult]:
    """Distributed copy of explicit (source, target) pairs
    (reference: copyFiles, fs/DistributedExecution.scala:42-84)."""
    if not paths:
        return []
    sc = spark.sparkContext

    def copy_batch(batch: list[Paths]) -> list[FsOperationResult]:
        n = len(batch) if task_count == -1 else task_count
        pairs = [(p.source_path, p.target_path) for p in batch]
        raw = sc.parallelize(pairs, max(1, n)).mapPartitions(_copy_partition).collect()
        if not any(ok for _, ok in raw):
            raise RuntimeError(f"distributed copy failed for {len(batch)}/{len(batch)} files")
        return [FsOperationResult(path, ok) for path, ok in raw]

    return retry_failed(copy_batch, paths, "distributed copy")


def copy_folder(
    spark: SparkSession, src_uri: str, trg_uri: str, task_count: int = -1
) -> list[FsOperationResult]:
    """Recursive distributed folder copy (files only — empty dirs are
    not recreated, matching the documented caveat)
    (reference: copyFolder, fs/DistributedExecution.scala:22-30)."""
    files = [e.path for e in list_tree(src_uri) if not e.is_dir]
    return copy_files(spark, rebase_paths(files, src_uri, trg_uri), task_count)
