"""Small-file compaction (reference: Coalesce.scala).

The driver plans every leaf folder from one listing per root. A leaf
is rewritten when its upper-median data file is below the target size,
into as many files as its bytes fill targets (reference:
figureOutNumberOfPartition, Coalesce.scala:19-31). Its files are split
into that many groups of whole files, balanced by bytes, and the groups
of all leaves run as one batch through ``fs.distributed.map_partitions``
— not the reference's one read→coalesce→write job per folder from a
10-thread pool (Coalesce.scala:13-15, 85-97). A batch of at least
``DRIVER_COPY_BYTES`` of input (by the sizes the listing returned) runs
as ONE Spark job, one task per group, the pattern of the reference's
distributed copy (DistributedExecution.scala:42-84); a smaller one runs
on the driver — on the calling thread when its leaves are local, else
on the driver's copy pool — and launches no job. Either way a group
streams its files' row groups through pyarrow into one file in the
leaf's ``_temp`` sibling; the driver swaps a leaf in once all its groups
succeeded with one schema (reference: replaceFolder,
Coalesce.scala:77-82). Failed groups rerun through
``fs.core.retry_failed``.

On the driver path the rewrites' memory is the driver's: a group
buffers decoded row groups up to ``ROW_GROUP_BYTES`` before it flushes
them, so the driver holds the decoded form of at most one batch of
fewer than ``DRIVER_COPY_BYTES`` encoded bytes, spread over its
threads, plus the writers' buffers: a batch just under the limit grew
the driver's RSS by 96–241 MiB on a 4-CPU x86 VM (SCALE.md,
"Compaction on the driver or in a Spark job").

What the rewrite keeps of Spark's writer: the first file's key-value
metadata (Spark's row metadata is the schema Spark reads back, e.g.
TIMESTAMP_NTZ), the session's ``spark.sql.parquet.compression.codec``, INT96 timestamps
where the source has them, 128 MiB row groups and a ``_SUCCESS``
marker. One physical change: pyarrow 16 writes every decimal as
FIXED_LEN_BYTE_ARRAY where Spark writes precision <= 18 as INT32/INT64;
Spark, Hive and pyarrow read both.

A leaf is left as it is when its files differ in schema (Spark's
non-merging read would keep one file's columns and drop the others'),
in the Spark key-value entries that change how Spark reads them (row
schema, legacy-calendar flags; the output keeps only the first file's),
or when a file mixes INT96 with INT64 timestamps (pyarrow's INT96
switch applies to a whole file, so an NTZ column would turn INT96).
``do_auto_coalesce`` also leaves a folder with subfolders as it is: the
swap replaces the whole folder.

Scale note: compaction is the antidote to the many-small-files problem
that kills 100 TB scans; the median heuristic avoids rewriting folders
that are already well-sized.
"""

from __future__ import annotations

import heapq
import logging
import uuid
from collections import defaultdict
from functools import partial

import pyarrow as pa
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import SparkSession

from octopufs_spark.fs.core import get_filesystem, list_tree, retry_failed, to_uri
from octopufs_spark.fs.distributed import driver_workers, map_partitions
from octopufs_spark.fs.local import DEFAULT_WORKERS, _run_threaded
from octopufs_spark.fs.model import FsElement, FsOperationResult

log = logging.getLogger(__name__)

DEFAULT_TARGET_MB = 100  # reference: Coalesce.scala:95
ROW_GROUP_BYTES = 128 * 1024 * 1024  # Parquet's default block size, which Spark writes
_CODECS = {"uncompressed": "none"}  # Spark codec names that pyarrow spells differently


def _is_data(name: str) -> bool:
    """Names starting with ``_`` or ``.`` (``_SUCCESS``, ``.crc``
    checksums) are not data, as in Spark's file index: counting them
    would make the tiny checksums the median of a compacted folder,
    which would then be rewritten on every run."""
    return not name.startswith(("_", "."))


def _partitions(sizes: list[int], requested_mb: int, tolerance: float = 0.0) -> int:
    """Output file count for data files of ``sizes``, or -1 to skip.
    Fewer than 2 files means nothing to compact; the median is the
    upper median (sorted[n/2]), as in the reference."""
    if len(sizes) < 2:
        return -1
    target_bytes = requested_mb * 1024 * 1024
    if sorted(sizes)[len(sizes) // 2] < target_bytes * (1 - tolerance):
        return max(1, int(sum(sizes) / target_bytes))
    return -1


def _data_files(folder_uri: str) -> tuple[list[FsElement], bool]:
    """A folder's immediate data files, and whether it has subfolders
    (their files belong to other leaves)."""
    fs, folder = get_filesystem(folder_uri)
    infos = fs.get_file_info(pafs.FileSelector(folder, recursive=False, allow_not_found=True))
    files = [
        FsElement(i.path, False, i.size)
        for i in infos
        if i.type == pafs.FileType.File and _is_data(i.base_name)
    ]
    return files, any(i.type == pafs.FileType.Directory for i in infos)


def figure_out_number_of_partitions(
    folder_uri: str, requested_mb: int, tolerance: float = 0.0
) -> int:
    """Target partition count, or -1 to skip (folder already compact)
    (reference: figureOutNumberOfPartition, Coalesce.scala:19-31).
    Only the folder's immediate data files count."""
    files, _ = _data_files(folder_uri)
    return _partitions([f.byte_size for f in files], requested_mb, tolerance)


def _leaf_files(top_uri: str) -> dict[str, list[FsElement]]:
    """Each leaf directory of a tree (as a URI) with its data files,
    from one listing. A leaf's ``_temp`` sibling is a crashed run's
    leftover, not a leaf."""
    _, root = get_filesystem(top_uri)
    elements = list_tree(top_uri)
    dirs = {e.path for e in elements if e.is_dir}
    parents = {d.rsplit("/", 1)[0] for d in dirs}
    leaves = [
        d for d in dirs if d not in parents and not (d.endswith("_temp") and d[:-5] in dirs)
    ]
    if not dirs:
        leaves = [root]
    files = defaultdict(list)
    for e in elements:
        parent, name = e.path.rsplit("/", 1)
        if not e.is_dir and _is_data(name):
            files[parent].append(e)
    return {to_uri(top_uri, leaf): files[leaf] for leaf in sorted(leaves)}


def get_lowest_folders(top_uri: str) -> list[str]:
    """Leaf directories (no subdirectories) of a tree
    (reference: getLowestFoldersPaths, Coalesce.scala:48-62)."""
    return list(_leaf_files(top_uri))


def _balanced(files: list[FsElement], n: int) -> list[list[FsElement]]:
    """``files`` in at most ``n`` groups of whole files, balanced by
    bytes: largest first, each into the lightest group. Each group keeps
    name order, so the rows keep theirs."""
    groups: list[list[FsElement]] = [[] for _ in range(min(n, len(files)))]
    loads = [(0, i) for i in range(len(groups))]
    for f in sorted(files, key=lambda f: f.byte_size, reverse=True):
        load, i = heapq.heappop(loads)
        groups[i].append(f)
        heapq.heappush(loads, (load + f.byte_size, i))
    return [sorted(g, key=lambda f: f.path) for g in groups]


def _spark_meta(pf: pq.ParquetFile) -> tuple:
    """The key-value entries Spark reads a file by: its row schema
    (CHAR/VARCHAR, NTZ), the legacy-calendar flags, and whether a writer
    before Spark 3.0 (read with the legacy calendar) wrote it. Arrow's
    schema equality ignores them all."""
    meta = pf.metadata.metadata or {}
    version = meta.get(b"org.apache.spark.version")
    entries = sorted(
        (k, v)
        for k, v in meta.items()
        if k.startswith(b"org.apache.spark.") and k != b"org.apache.spark.version"
    )
    # a string comparison, as Spark's own rebase rule makes it
    return tuple(entries), None if version is None else version < b"3.0.0"


def _fingerprint(pf: pq.ParquetFile):
    """(Arrow schema, timestamps are INT96, Spark's entries) of a file,
    or None when it mixes INT96 with INT64 timestamps."""
    columns = [pf.schema.column(i) for i in range(len(pf.schema))]
    int96 = [
        c.physical_type == "INT96"
        for c in columns
        if c.physical_type == "INT96" or c.logical_type.type == "TIMESTAMP"
    ]
    if any(int96) and not all(int96):
        return None
    return pf.schema_arrow, any(int96), _spark_meta(pf)


def _flush(writer: pq.ParquetWriter, tables: list[pa.Table]) -> None:
    table = pa.concat_tables(tables)
    tables.clear()
    if table.num_rows:
        writer.write_table(table, row_group_size=table.num_rows)


def _rewrite(fs: pafs.FileSystem, out: str, paths: list[str], codec: str):
    """Stream the row groups of ``paths``, in order, into one file at
    ``out``, one row group per ROW_GROUP_BYTES read. Returns the files'
    fingerprint, or None when they differ (the output is then partial)."""
    fingerprint, writer = None, None
    buffered, size = [], 0
    try:
        for path in paths:
            with fs.open_input_file(path) as f:
                # INT96 as micros, Spark's precision: ns overflows past 2262
                pf = pq.ParquetFile(f, coerce_int96_timestamp_unit="us")
                if writer is None:
                    fingerprint = _fingerprint(pf)
                    if fingerprint is None:
                        return None
                    writer = pq.ParquetWriter(
                        out,
                        pf.schema_arrow,  # keeps the key-value metadata
                        filesystem=fs,
                        compression=codec,
                        use_deprecated_int96_timestamps=fingerprint[1],
                    )
                elif _fingerprint(pf) != fingerprint:
                    return None
                for i in range(pf.num_row_groups):
                    # a partition holds one slot: no decode threads of its own
                    buffered.append(pf.read_row_group(i, use_threads=False))
                    size += buffered[-1].nbytes
                    if size >= ROW_GROUP_BYTES:
                        _flush(writer, buffered)
                        size = 0
        if buffered:
            _flush(writer, buffered)
    finally:
        if writer is not None:
            writer.close()
    return fingerprint


def _rewrite_groups(codec: str, groups):
    """Rewrite each (leaf URI, output, inputs) group of one partition —
    a Spark task or a driver thread. Yields (output, ok, fingerprint);
    ok is False on an I/O error."""
    for leaf, out, paths in groups:
        try:
            fs, _ = get_filesystem(leaf)  # core's dispatch, so mock:// works in tasks
            yield out, True, _rewrite(fs, out, paths, codec)
        except Exception:
            log.warning("rewrite of %s failed", out, exc_info=True)
            yield out, False, None


def _prepare_temp(leaf: str) -> None:
    """An empty ``{leaf}_temp``; a crashed run may have left files in it."""
    fs, temp = get_filesystem(leaf + "_temp")
    fs.create_dir(temp, recursive=True)
    fs.delete_dir_contents(temp)


def _compact(spark: SparkSession, leaves: dict[str, list[FsElement]], requested_mb: int) -> int:
    """Rewrite every leaf that needs it in one batch of
    ``fs.distributed.map_partitions`` (on the driver, or one Spark job),
    then swap each leaf whose groups all succeeded with one fingerprint.
    Returns the number of leaves swapped; raises naming the leaves whose
    groups still failed after the retries. Folder preparation and swaps
    are per-leaf metadata calls, fanned out on driver threads like
    ``fs.local``'s moves; when every leaf is local, they and the driver
    path's rewrites run on the calling thread
    (``fs.distributed.driver_workers``)."""
    run = uuid.uuid4().hex
    tasks, outputs = [], {}  # outputs: leaf -> its groups' output paths
    sizes = {}  # output -> its group's input bytes, as listed
    for leaf, files in leaves.items():
        n = _partitions([f.byte_size for f in files], requested_mb)
        if n == -1:
            continue
        _, temp = get_filesystem(leaf + "_temp")
        groups = _balanced(files, n)
        outputs[leaf] = [f"{temp}/part-{i:05d}-{run}.parquet" for i in range(len(groups))]
        for out, g in zip(outputs[leaf], groups):
            tasks.append((leaf, out, [f.path for f in g]))
            sizes[out] = sum(f.byte_size for f in g)
    if not tasks:
        return 0
    # local leaves run on the calling thread: there is no latency to hide
    meta_workers = driver_workers(outputs, DEFAULT_WORKERS)
    rewrite_workers = driver_workers(outputs)
    _run_threaded(_prepare_temp, list(outputs), meta_workers)

    codec = spark.conf.get("spark.sql.parquet.compression.codec", "snappy").lower()
    rewrite = partial(_rewrite_groups, _CODECS.get(codec, codec))
    fingerprints = {}

    def run_batch(batch):
        total = sum(sizes[out] for _, out, _ in batch)
        raw = map_partitions(spark, batch, total, rewrite, len(batch), rewrite_workers)
        fingerprints.update((out, fp) for out, ok, fp in raw if ok)
        return [FsOperationResult(out, ok) for out, ok, _ in raw]

    error = None
    try:
        retry_failed(run_batch, tasks, "compaction")
    except Exception as e:  # clean up every leaf before raising
        error = e

    def finish(leaf: str) -> str:
        """Swap the leaf in, or drop its ``_temp``; returns which."""
        fs, path = get_filesystem(leaf)
        temp = path + "_temp"
        outs = outputs[leaf]
        if any(out not in fingerprints for out in outs):
            fs.delete_dir(temp)
            return "failed"
        first = fingerprints[outs[0]]
        if first is None or any(fingerprints[out] != first for out in outs):
            log.warning(
                "leaving %s as it is: its files differ in schema or Spark metadata, "
                "or mix INT96 with INT64 timestamps",
                leaf,
            )
            fs.delete_dir(temp)
            return "skipped"
        with fs.open_output_stream(f"{temp}/_SUCCESS"):
            pass
        # delete old, rename replacement into place (reference:
        # replaceFolder, Coalesce.scala:77-82)
        if fs.get_file_info(path).type != pafs.FileType.NotFound:
            fs.delete_dir(path)
        fs.move(temp, path)
        return "rewritten"

    outcome = dict(zip(outputs, _run_threaded(finish, list(outputs), meta_workers)))
    if error is not None:
        failed = [leaf for leaf, how in outcome.items() if how == "failed"]
        raise RuntimeError(f"compaction failed for {', '.join(failed)}") from error
    return sum(how == "rewritten" for how in outcome.values())


def do_auto_coalesce(
    spark: SparkSession, source_uri: str, requested_size_mb: int = DEFAULT_TARGET_MB
) -> bool:
    """Compact one folder's immediate data files
    (reference: doAutoCoalesce, Coalesce.scala:33-46). Returns True if
    a rewrite happened. A folder with subfolders is left as it is: the
    swap replaces the whole folder, so it would delete them."""
    source_uri = source_uri.rstrip("/")
    files, subfolders = _data_files(source_uri)
    if subfolders:
        log.warning("leaving %s as it is: it has subfolders; compact its leaves instead", source_uri)
        return False
    return _compact(spark, {source_uri: files}, requested_size_mb) == 1


def do_partition_coalesce(
    spark: SparkSession, top_uri: str, requested_file_size_mb: int = DEFAULT_TARGET_MB
) -> int:
    """Compact every leaf folder of a tree in one batch
    (reference: doPartitionCoalesce, Coalesce.scala:85-93). Returns
    #rewritten."""
    return _compact(spark, _leaf_files(top_uri), requested_file_size_mb)


def do_it_all(
    spark: SparkSession, top_uris: list[str], requested_file_size_mb: int = DEFAULT_TARGET_MB
) -> int:
    """Compact every leaf folder under the given roots in one batch
    (reference: doItAll, Coalesce.scala:95-97). Returns #rewritten."""
    leaves: dict[str, list[FsElement]] = {}
    for top in top_uris:
        leaves.update(_leaf_files(top))
    return _compact(spark, leaves, requested_file_size_mb)

