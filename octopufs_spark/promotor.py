"""Table/partition promotion: file-level copy/move between tables.

Rebuild of the reference's Promotor (reference: Promotor.scala), which
promotes data between Hive tables by copying/renaming the underlying
files and refreshing the metastore — preserving target-folder ACLs by
never touching the target folder node itself. Each operation also has
a pure-SQL analog (INSERT [OVERWRITE] ... noted per function) for when
byte-identity of files is not required; the file-level path exists
because at 100 TB a metadata rename or a 1-file-per-task byte copy is
far cheaper than a full read→shuffle→write.

An op fetches each table's catalog entry once and hands it to every
``catalog`` helper it calls (``meta``), rather than letting each helper
fetch it again over py4j.

Each partition op ends with one ``catalog.refresh_metadata`` per table
it touched, naming the partition directories it created and the ones it
removed, so the catalog syncs only those partitions: a copy or move
adds the target directories it wrote and drops the deleted ones it did
not write again, the source of a move drops what left it, and a delete
drops what it deleted. The partitions an op did not touch are left as
the catalog has them, drift included; a full
``catalog.refresh_metadata(spark, table)`` repairs every partition.
The whole-table ops and the SQL analogs run that full repair.
"""

from __future__ import annotations

import logging

from pyarrow import fs as pafs
from pyspark.sql import SparkSession

from octopufs_spark import catalog
from octopufs_spark.fs.core import does_move_look_safe, get_filesystem, rebase_paths
from octopufs_spark.fs.distributed import copy_files
from octopufs_spark.fs.local import delete_folder, delete_paths, move_folder_content, move_paths
from octopufs_spark.fs.model import FsOperationResult, Paths
from octopufs_spark.fs.safety import SafetyFuse

log = logging.getLogger(__name__)


def _entries(spark: SparkSession, *tables: str) -> list:
    """Each table's catalog entry, fetched once for an op."""
    return [catalog.catalog_table(spark, t) for t in tables]


def _paths_for_table_copy(
    spark: SparkSession, src_table: str, trg_table: str, src_meta, trg_meta
) -> list[Paths]:
    """Zip source files with prefix-rewritten target paths
    (reference: Assistant.getTablesPathsList, Assistant.scala:12-24)."""
    return rebase_paths(
        catalog.get_list_of_table_files(spark, src_table),
        catalog.get_table_location(spark, src_table, src_meta),
        catalog.get_table_location(spark, trg_table, trg_meta),
    )


def copy_files_between_tables(
    spark: SparkSession, src_table: str, trg_table: str, task_count: int = -1
) -> list[FsOperationResult]:
    """Append-copy all source-table files into the target table's
    folder (reference: copyFilesBetweenTables, Promotor.scala:114-126).
    SQL analog: INSERT INTO trg SELECT * FROM src."""
    src_meta, trg_meta = _entries(spark, src_table, trg_table)
    catalog.validate_compatibility(spark, src_table, trg_table, src_meta, trg_meta)
    pairs = _paths_for_table_copy(spark, src_table, trg_table, src_meta, trg_meta)
    results = copy_files(spark, pairs, task_count)
    catalog.refresh_metadata(spark, trg_table)
    return results


def copy_overwrite_table(
    spark: SparkSession, src_table: str, trg_table: str, task_count: int = -1
) -> list[FsOperationResult]:
    """Replace target-table content with source's files; target folder
    node (and its permissions) preserved (reference: copyOverwriteTable,
    Promotor.scala:93-100). SQL analog: INSERT OVERWRITE TABLE."""
    src_meta, trg_meta = _entries(spark, src_table, trg_table)
    catalog.validate_compatibility(spark, src_table, trg_table, src_meta, trg_meta)
    trg_loc = catalog.get_table_location(spark, trg_table, trg_meta)
    delete_folder(trg_loc, delete_content_only=True)
    pairs = _paths_for_table_copy(spark, src_table, trg_table, src_meta, trg_meta)
    results = copy_files(spark, pairs, task_count)
    catalog.refresh_metadata(spark, trg_table)
    return results


def copy_table_partitions(
    spark: SparkSession,
    src_table: str,
    trg_table: str,
    match_strings: list[str],
    task_count: int = -1,
) -> list[FsOperationResult]:
    """Append-copy the files of substring-matched partitions
    (reference: copyTablePartitions, Promotor.scala:278-298). SQL
    analog: INSERT INTO trg SELECT * FROM src WHERE part IN (...)."""
    src_meta, trg_meta = _entries(spark, src_table, trg_table)
    return _copy_partitions(spark, src_table, trg_table, match_strings, task_count, src_meta, trg_meta)


def _copy_partitions(
    spark: SparkSession,
    src_table: str,
    trg_table: str,
    match_strings: list[str],
    task_count: int,
    src_meta,
    trg_meta,
    deleted: list[str] = (),
) -> list[FsOperationResult]:
    """:func:`copy_table_partitions` with both tables' entries in hand;
    ``deleted`` names the target partition directories the op removed
    before the copy."""
    catalog.validate_compatibility(spark, src_table, trg_table, src_meta, trg_meta)
    parts = catalog.filter_partitions(spark, src_table, match_strings, src_meta)
    if not parts:
        raise ValueError(f"no partitions of {src_table} match {match_strings}")
    src_loc = catalog.get_table_location(spark, src_table, src_meta)
    trg_loc = catalog.get_table_location(spark, trg_table, trg_meta)
    files = {part: [f.path for f in catalog.get_files_only_of_folders([part])] for part in parts}
    pairs = rebase_paths([f for part in parts for f in files[part]], src_loc, trg_loc)
    results = copy_files(spark, pairs, task_count)
    # a copy writes only the partition directories that hold files
    added = [p.target_path for p in rebase_paths([p for p in parts if files[p]], src_loc, trg_loc)]
    catalog.refresh_metadata(spark, trg_table, added=added, dropped=deleted, meta=trg_meta)
    return results


def copy_overwrite_partitions(
    spark: SparkSession,
    src_table: str,
    trg_table: str,
    match_strings: list[str],
    task_count: int = -1,
) -> list[FsOperationResult]:
    """Partition exchange: delete matching target partitions, then copy
    (reference: copyOverwritePartitions, Promotor.scala:259-264). SQL
    analog: dynamic-partition INSERT OVERWRITE (the engine default
    partitionOverwriteMode=dynamic exists for exactly this)."""
    src_meta, trg_meta = _entries(spark, src_table, trg_table)
    deleted = _delete_partitions(spark, trg_table, match_strings, trg_meta)
    return _copy_partitions(
        spark, src_table, trg_table, match_strings, task_count, src_meta, trg_meta, deleted
    )


def _delete_partitions(
    spark: SparkSession, table: str, match_strings: list[str], meta=None
) -> list[str]:
    """Delete the substring-matched partition folders of ``table`` and
    return them; the caller refreshes the table once, after its last
    file-level step."""
    parts = catalog.filter_partitions(spark, table, match_strings, meta)
    if parts:
        delete_paths(parts)
    return parts


def delete_table_partitions(
    spark: SparkSession, table: str, match_strings: list[str], must_match: bool = True
) -> None:
    """Delete substring-matched partition folders + refresh
    (reference: deleteTablePartitions, Promotor.scala:309-316)."""
    (meta,) = _entries(spark, table)
    deleted = _delete_partitions(spark, table, match_strings, meta)
    if not deleted and must_match:
        raise ValueError(f"no partitions of {table} match {match_strings}")
    catalog.refresh_metadata(spark, table, dropped=deleted, meta=meta)


def move_table_partitions(
    spark: SparkSession, src_table: str, trg_table: str, match_strings: list[str]
) -> list[FsOperationResult]:
    """Metadata-only partition move: delete overlapping target
    partitions, rename source partition dirs into the target, refresh
    both (reference: moveTablePartitions, Promotor.scala:346-367).
    Driver-threaded — renames need no cluster."""
    src_meta, trg_meta = _entries(spark, src_table, trg_table)
    catalog.validate_compatibility(spark, src_table, trg_table, src_meta, trg_meta)
    parts = catalog.filter_partitions(spark, src_table, match_strings, src_meta)
    if not parts:
        raise ValueError(f"no partitions of {src_table} match {match_strings}")
    src_loc = catalog.get_table_location(spark, src_table, src_meta)
    trg_loc = catalog.get_table_location(spark, trg_table, trg_meta)
    deleted = _delete_partitions(spark, trg_table, match_strings, trg_meta)
    results = move_folders(spark, parts, src_loc, trg_loc)
    added = [p.target_path for p in rebase_paths(parts, src_loc, trg_loc)]
    catalog.refresh_metadata(spark, src_table, dropped=parts, meta=src_meta)
    catalog.refresh_metadata(spark, trg_table, added=added, dropped=deleted, meta=trg_meta)
    return results


def move_folders(
    spark: SparkSession, folders: list[str], src_root: str, trg_root: str
) -> list[FsOperationResult]:
    """Safety-checked folder renames inside a SafetyFuse transaction
    (reference: moveFolders, Promotor.scala:204-245)."""
    pairs = rebase_paths(folders, src_root, trg_root)
    for p in pairs:
        if not does_move_look_safe(p.source_path, p.target_path):
            raise RuntimeError(f"unsafe move {p.source_path} -> {p.target_path}")
    fuse = SafetyFuse(trg_root)
    if not fuse.is_in_progress():
        fuse.start_transaction()
        delete_paths(
            [p.target_path for p in pairs if _exists(p.target_path)]
        )
    results = move_paths(pairs)
    fuse.end_transaction()
    return results


def move_files_between_tables(
    spark: SparkSession, src_table: str, trg_table: str
) -> list[FsOperationResult]:
    """Move source-table content into target (target emptied first)
    (reference: moveFilesBetweenTables, Promotor.scala:393-401)."""
    src_meta, trg_meta = _entries(spark, src_table, trg_table)
    catalog.validate_compatibility(spark, src_table, trg_table, src_meta, trg_meta)
    src_loc = catalog.get_table_location(spark, src_table, src_meta)
    trg_loc = catalog.get_table_location(spark, trg_table, trg_meta)
    results = move_folder_content(src_loc, trg_loc, keep_source_folder=True)
    catalog.refresh_metadata(spark, src_table)
    catalog.refresh_metadata(spark, trg_table)
    return results


def copy_selected_subfolders_content(
    spark: SparkSession,
    src_uri: str,
    trg_uri: str,
    match_strings: list[str],
    task_count: int = -1,
    overwrite: bool = False,
) -> list[FsOperationResult]:
    """Non-Hive variant of partition copy: substring-filtered
    subfolders, recursive file list, distributed copy; with
    ``overwrite`` the matching target subfolders are deleted first
    (reference: copySelectedSubFoldersContent /
    copyOverwriteSelectedSubfoldersContent, Promotor.scala:138-182)."""
    subs = catalog.filter_paths(catalog.get_subfolder_paths(src_uri), match_strings)
    if overwrite:
        trg_subs = [p.target_path for p in rebase_paths(subs, src_uri, trg_uri)]
        delete_paths([t for t in trg_subs if _exists(t)])
    files = [f.path for f in catalog.get_files_only_of_folders(subs)]
    return copy_files(spark, rebase_paths(files, src_uri, trg_uri), task_count)


def move_selected_subfolders(
    spark: SparkSession, src_uri: str, trg_uri: str, match_strings: list[str]
) -> list[FsOperationResult]:
    """Substring-filtered subfolder move (reference:
    moveSelectedSubFolders, Promotor.scala:195-202)."""
    subs = catalog.filter_paths(catalog.get_subfolder_paths(src_uri), match_strings)
    return move_folders(spark, subs, src_uri, trg_uri)


def insert_into_table(spark: SparkSession, src_table: str, trg_table: str) -> None:
    """Pure-SQL analog of copy_files_between_tables: append rows
    relationally instead of byte-copying files. Use when file identity
    doesn't matter — Catalyst plans the scan+write, AQE sizes the
    output tasks."""
    catalog.validate_compatibility(spark, src_table, trg_table)
    spark.sql(f"INSERT INTO TABLE {trg_table} SELECT * FROM {src_table}")
    catalog.refresh_metadata(spark, trg_table)


def insert_overwrite_table(spark: SparkSession, src_table: str, trg_table: str) -> None:
    """Pure-SQL analog of copy_overwrite_table: INSERT OVERWRITE."""
    catalog.validate_compatibility(spark, src_table, trg_table)
    spark.sql(f"INSERT OVERWRITE TABLE {trg_table} SELECT * FROM {src_table}")
    catalog.refresh_metadata(spark, trg_table)


def insert_overwrite_partitions(
    spark: SparkSession, src_table: str, trg_table: str, predicate: str
) -> None:
    """Pure-SQL analog of copy_overwrite_partitions: dynamic-partition
    INSERT OVERWRITE replaces exactly the partitions the predicate
    selects (session default partitionOverwriteMode=dynamic — the
    reference's own tests configure precisely this,
    reference: src/test/scala/TestUtils.scala:64-65)."""
    catalog.validate_compatibility(spark, src_table, trg_table)
    spark.sql(
        f"INSERT OVERWRITE TABLE {trg_table} SELECT * FROM {src_table} WHERE {predicate}"
    )
    catalog.refresh_metadata(spark, trg_table)


def _exists(uri: str) -> bool:
    fs, p = get_filesystem(uri)
    return fs.get_file_info(p).type != pafs.FileType.NotFound
