"""Small-file compaction (reference: Coalesce.scala).

Reads a parquet folder, coalesces to a partition count derived from the
median file size vs a target (reference: figureOutNumberOfPartition,
Coalesce.scala:19-31), writes to a ``_temp`` sibling and swaps folders.
Per-leaf-partition compaction fans concurrent Spark jobs from driver
threads (reference: 10-thread pool, Coalesce.scala:13-15) — the Spark
scheduler interleaves them.

Scale note: compaction is the antidote to the many-small-files problem
that kills 100 TB scans; the median heuristic avoids rewriting folders
that are already well-sized.
"""

from __future__ import annotations

import logging
from concurrent.futures import Future, ThreadPoolExecutor, wait

from pyarrow import fs as pafs
from pyspark.sql import SparkSession

from octopufs_spark.fs.core import get_filesystem, list_tree

log = logging.getLogger(__name__)

DEFAULT_TARGET_MB = 100  # reference: Coalesce.scala:95
DEFAULT_THREADS = 10  # reference: Coalesce.scala:13


def figure_out_number_of_partitions(
    folder_uri: str, requested_mb: int, tolerance: float = 0.0
) -> int:
    """Target partition count, or -1 to skip (folder already compact)
    (reference: figureOutNumberOfPartition, Coalesce.scala:19-31).

    Mirrors the reference heuristic: only the folder's *immediate*
    data files count (nested subfolder files belong to other leaves),
    and fewer than 2 files means nothing to compact. Median is the
    upper median (sorted[n/2]), as in the reference. Names starting
    with ``_`` or ``.`` (``_SUCCESS``, ``.crc`` checksums) are not data,
    as in Spark's file index: counting them would make the tiny
    checksums the median of a compacted folder, which would then be
    rewritten on every run.
    """
    fs, folder = get_filesystem(folder_uri)
    infos = fs.get_file_info(pafs.FileSelector(folder, recursive=False, allow_not_found=True))
    sizes = sorted(
        i.size
        for i in infos
        if i.type == pafs.FileType.File and not i.base_name.startswith(("_", "."))
    )
    if len(sizes) < 2:
        return -1
    target_bytes = requested_mb * 1024 * 1024
    median = sizes[len(sizes) // 2]
    if median < target_bytes * (1 - tolerance):
        return max(1, int(sum(sizes) / target_bytes))
    return -1


def do_auto_coalesce(
    spark: SparkSession, source_uri: str, requested_size_mb: int = DEFAULT_TARGET_MB
) -> bool:
    """Compact one folder: read → coalesce(n) → write _temp → swap
    (reference: doAutoCoalesce, Coalesce.scala:33-46). Returns True if
    a rewrite happened."""
    n = figure_out_number_of_partitions(source_uri, requested_size_mb)
    if n == -1:
        return False
    tmp_uri = source_uri.rstrip("/") + "_temp"
    try:
        df = spark.read.parquet(source_uri)
    except Exception as e:  # empty folder — tolerated (reference: :42-45)
        log.info("skipping %s: %s", source_uri, e)
        return False
    df.coalesce(n).write.mode("overwrite").parquet(tmp_uri)
    _replace_folder(source_uri, tmp_uri)
    return True


def get_lowest_folders(top_uri: str) -> list[str]:
    """Leaf directories (no subdirectories) of a tree
    (reference: getLowestFoldersPaths, Coalesce.scala:48-62)."""
    fs, root = get_filesystem(top_uri)
    elements = list_tree(top_uri)
    dirs = [e.path for e in elements if e.is_dir]
    parents = {d.rsplit("/", 1)[0] for d in dirs}
    leaves = [d for d in dirs if d not in parents]
    if not dirs:
        leaves = [root]
    scheme = top_uri[: len(top_uri) - len(root)] if top_uri.endswith(root) else ""
    return [scheme + leaf for leaf in leaves]


def do_partition_coalesce(
    spark: SparkSession,
    top_uri: str,
    requested_file_size_mb: int = DEFAULT_TARGET_MB,
    pool: ThreadPoolExecutor | None = None,
) -> list[Future]:
    """Fire per-leaf compaction jobs concurrently
    (reference: doPartitionCoalesce, Coalesce.scala:85-93)."""
    own_pool = pool or ThreadPoolExecutor(max_workers=DEFAULT_THREADS)
    futures = [
        own_pool.submit(do_auto_coalesce, spark, leaf, requested_file_size_mb)
        for leaf in get_lowest_folders(top_uri)
    ]
    if pool is None:
        # queued work still runs; the threads exit once it is done
        own_pool.shutdown(wait=False)
    return futures


def do_it_all(
    spark: SparkSession, top_uris: list[str], requested_file_size_mb: int = DEFAULT_TARGET_MB
) -> int:
    """Compact every leaf folder under the given roots; await all
    (reference: doItAll, Coalesce.scala:95-97). Returns #rewritten."""
    with ThreadPoolExecutor(max_workers=DEFAULT_THREADS) as pool:
        futures = []
        for top in top_uris:
            futures.extend(do_partition_coalesce(spark, top, requested_file_size_mb, pool))
        wait(futures)
        return sum(1 for f in futures if f.result())


def _replace_folder(old_uri: str, replacement_uri: str) -> None:
    """Delete old, rename replacement into place
    (reference: replaceFolder, Coalesce.scala:77-82)."""
    fs, old = get_filesystem(old_uri)
    _, repl = get_filesystem(replacement_uri)
    if fs.get_file_info(old).type != pafs.FileType.NotFound:
        fs.delete_dir(old)
    fs.move(repl, old)
