"""Table/partition promotion: file-level copy/move between tables.

Rebuild of the reference's Promotor (reference: Promotor.scala), which
promotes data between Hive tables by copying/renaming the underlying
files and refreshing the metastore — preserving target-folder ACLs by
never touching the target folder node itself. Each operation also has
a pure-SQL analog (INSERT [OVERWRITE] ... noted per function) for when
byte-identity of files is not required; the file-level path exists
because at 100 TB a metadata rename or a 1-file-per-task byte copy is
far cheaper than a full read→shuffle→write.
"""

from __future__ import annotations

import logging

from pyspark.sql import SparkSession

from octopufs_spark import catalog
from octopufs_spark.fs.core import does_move_look_safe
from octopufs_spark.fs.distributed import copy_files
from octopufs_spark.fs.local import delete_folder, delete_paths, move_folder_content, move_paths
from octopufs_spark.fs.model import FsOperationResult, Paths
from octopufs_spark.fs.safety import SafetyFuse

log = logging.getLogger(__name__)


def _rewrite_prefix(file_uri: str, src_loc: str, trg_loc: str) -> str:
    """Swap a file's location prefix, robust to URI scheme spelling
    (catalog says ``file:/x`` while inputFiles says ``file:///x``) —
    compared at filesystem-path level, never by raw string replace."""
    from octopufs_spark.fs.core import get_filesystem

    _, f_rel = get_filesystem(file_uri)
    _, s_rel = get_filesystem(src_loc)
    if not f_rel.startswith(s_rel.rstrip("/") + "/"):
        raise ValueError(f"{file_uri} is not under {src_loc}")
    return trg_loc.rstrip("/") + f_rel[len(s_rel.rstrip("/")):]


def _paths_for_table_copy(spark: SparkSession, src_table: str, trg_table: str) -> list[Paths]:
    """Zip source files with prefix-rewritten target paths
    (reference: Assistant.getTablesPathsList, Assistant.scala:12-24)."""
    src_loc = catalog.get_table_location(spark, src_table).rstrip("/")
    trg_loc = catalog.get_table_location(spark, trg_table).rstrip("/")
    return [
        Paths(f, _rewrite_prefix(f, src_loc, trg_loc))
        for f in catalog.get_list_of_table_files(spark, src_table)
    ]


def copy_files_between_tables(
    spark: SparkSession, src_table: str, trg_table: str, task_count: int = -1
) -> list[FsOperationResult]:
    """Append-copy all source-table files into the target table's
    folder (reference: copyFilesBetweenTables, Promotor.scala:114-126).
    SQL analog: INSERT INTO trg SELECT * FROM src."""
    catalog.validate_compatibility(spark, src_table, trg_table)
    results = copy_files(spark, _paths_for_table_copy(spark, src_table, trg_table), task_count)
    catalog.refresh_metadata(spark, trg_table)
    return results


def copy_overwrite_table(
    spark: SparkSession, src_table: str, trg_table: str, task_count: int = -1
) -> list[FsOperationResult]:
    """Replace target-table content with source's files; target folder
    node (and its permissions) preserved (reference: copyOverwriteTable,
    Promotor.scala:93-100). SQL analog: INSERT OVERWRITE TABLE."""
    catalog.validate_compatibility(spark, src_table, trg_table)
    trg_loc = catalog.get_table_location(spark, trg_table)
    delete_folder(trg_loc, delete_content_only=True)
    results = copy_files(spark, _paths_for_table_copy(spark, src_table, trg_table), task_count)
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
    catalog.validate_compatibility(spark, src_table, trg_table)
    parts = catalog.filter_partitions(spark, src_table, match_strings)
    if not parts:
        raise ValueError(f"no partitions of {src_table} match {match_strings}")
    src_loc = catalog.get_table_location(spark, src_table).rstrip("/")
    trg_loc = catalog.get_table_location(spark, trg_table).rstrip("/")
    files = catalog.get_files_only_of_folders(parts)
    scheme = src_loc[: len(src_loc) - len(_rel(src_loc))]
    pairs = [
        Paths(scheme + f.path, (scheme + f.path).replace(src_loc, trg_loc, 1)) for f in files
    ]
    results = copy_files(spark, pairs, task_count)
    catalog.refresh_metadata(spark, trg_table)
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
    _delete_partitions(spark, trg_table, match_strings)
    return copy_table_partitions(spark, src_table, trg_table, match_strings, task_count)


def _delete_partitions(spark: SparkSession, table: str, match_strings: list[str]) -> list[str]:
    """Delete the substring-matched partition folders of ``table`` and
    return them; the caller refreshes the table once, after its last
    file-level step."""
    parts = catalog.filter_partitions(spark, table, match_strings)
    if parts:
        delete_paths(parts)
    return parts


def delete_table_partitions(
    spark: SparkSession, table: str, match_strings: list[str], must_match: bool = True
) -> None:
    """Delete substring-matched partition folders + refresh
    (reference: deleteTablePartitions, Promotor.scala:309-316)."""
    if not _delete_partitions(spark, table, match_strings) and must_match:
        raise ValueError(f"no partitions of {table} match {match_strings}")
    catalog.refresh_metadata(spark, table)


def move_table_partitions(
    spark: SparkSession, src_table: str, trg_table: str, match_strings: list[str]
) -> list[FsOperationResult]:
    """Metadata-only partition move: delete overlapping target
    partitions, rename source partition dirs into the target, refresh
    both (reference: moveTablePartitions, Promotor.scala:346-367).
    Driver-threaded — renames need no cluster."""
    catalog.validate_compatibility(spark, src_table, trg_table)
    parts = catalog.filter_partitions(spark, src_table, match_strings)
    if not parts:
        raise ValueError(f"no partitions of {src_table} match {match_strings}")
    src_loc = catalog.get_table_location(spark, src_table).rstrip("/")
    trg_loc = catalog.get_table_location(spark, trg_table).rstrip("/")
    _delete_partitions(spark, trg_table, match_strings)
    results = move_folders(spark, parts, src_loc, trg_loc)
    catalog.refresh_metadata(spark, src_table)
    catalog.refresh_metadata(spark, trg_table)
    return results


def move_folders(
    spark: SparkSession, folders: list[str], src_root: str, trg_root: str
) -> list[FsOperationResult]:
    """Safety-checked folder renames inside a SafetyFuse transaction
    (reference: moveFolders, Promotor.scala:204-245)."""
    pairs = [Paths(f, f.replace(src_root.rstrip("/"), trg_root.rstrip("/"), 1)) for f in folders]
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
    catalog.validate_compatibility(spark, src_table, trg_table)
    src_loc = catalog.get_table_location(spark, src_table)
    trg_loc = catalog.get_table_location(spark, trg_table)
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
        trg_subs = [
            s.replace(src_uri.rstrip("/"), trg_uri.rstrip("/"), 1) for s in subs
        ]
        delete_paths([t for t in trg_subs if _exists(t)])
    files = catalog.get_files_only_of_folders(subs)
    src_root = src_uri.rstrip("/")
    trg_root = trg_uri.rstrip("/")
    scheme = src_root[: len(src_root) - len(_rel(src_root))]
    pairs = [
        Paths(scheme + f.path, (scheme + f.path).replace(src_root, trg_root, 1)) for f in files
    ]
    return copy_files(spark, pairs, task_count)


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
    spark.table(src_table).writeTo(trg_table).append()
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


def _rel(uri: str) -> str:
    from octopufs_spark.fs.core import get_filesystem

    return get_filesystem(uri)[1]


def _exists(uri: str) -> bool:
    from pyarrow import fs as pafs

    from octopufs_spark.fs.core import get_filesystem

    fs, p = get_filesystem(uri)
    return fs.get_file_info(p).type != pafs.FileType.NotFound
