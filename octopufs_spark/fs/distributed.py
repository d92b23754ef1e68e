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

A copy task's fixed cost is PySpark's, not the copy's: each Python task
resets the import cache, which before CPython 3.13 re-read
``pyspark.zip`` at about 0.22 CPU-s per task. The library's worker
daemon (``octopufs_spark.pydaemon``, set by ``session.get_spark``)
skips that re-read for unchanged zips.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from octopufs_spark.fs.core import list_tree, retry_failed
from octopufs_spark.fs.model import FsOperationResult, Paths


def _copy_partition(pairs):
    """Executor-side: copy each (src, dst) pair; FS resolved once.

    Resolution goes through ``core.get_filesystem`` (not raw
    ``pafs.FileSystem.from_uri``) so scheme dispatch — including the
    in-process ``mock://`` object-store stand-in — behaves identically
    in executor tasks and on the driver."""
    from octopufs_spark.fs.core import get_filesystem

    pairs = list(pairs)
    if not pairs:
        return
    src_fs, _ = get_filesystem(pairs[0][0])
    trg_fs, _ = get_filesystem(pairs[0][1])

    def rel(fs_uri: str) -> str:
        return get_filesystem(fs_uri)[1]

    for src, dst in pairs:
        try:
            sp, dp = rel(src), rel(dst)
            if sp == dp and src_fs.type_name == trg_fs.type_name:
                # self-copy would truncate the source on open-for-write
                raise ValueError(f"source and target are the same file: {src}")
            parent = dp.rsplit("/", 1)[0]
            trg_fs.create_dir(parent, recursive=True)
            with src_fs.open_input_stream(sp) as r, trg_fs.open_output_stream(dp) as w:
                while True:
                    chunk = r.read(8 * 1024 * 1024)
                    if not chunk:
                        break
                    w.write(chunk)
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
    elements = list_tree(src_uri)
    src_prefix = src_uri.rstrip("/")
    trg_prefix = trg_uri.rstrip("/")

    def to_uri(path: str) -> str:
        # list_tree returns fs-relative paths; rebuild full URIs by
        # swapping the relative source prefix.
        from octopufs_spark.fs.core import get_filesystem

        _, src_rel = get_filesystem(src_prefix)
        return src_prefix + path[len(src_rel):]

    pairs = [
        Paths(to_uri(e.path), to_uri(e.path).replace(src_prefix, trg_prefix, 1))
        for e in elements
        if not e.is_dir
    ]
    return copy_files(spark, pairs, task_count)
