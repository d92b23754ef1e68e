"""Metastore/catalog helpers (reference: metastore/package.scala,
TableMetadataValidator.scala).

Table locations, first-level partition paths, substring partition
filtering, refresh/repair, schema-compat validation. Location, format,
column and partition facts are read from the table's JVM CatalogTable,
as the reference does: spark.catalog.listColumns collects its result
through toLocalIterator, one Spark job per result partition, so it is
kept only for temp views, which have no CatalogTable. Fetching a
CatalogTable and walking its schema are py4j round trips, a few ms per
call, so each helper takes the entry as ``meta`` from a caller that
already holds it (``promotor`` fetches each table's once per op) and
looks it up only when it is not given.

Spark hands out locations and file lists as percent-encoded URIs
(``file:///t/my%20tbl/p=a%253Ab``). This module is the one place they
are decoded (see the path contract in ``fs.core``): every location and
file it returns is spelled as Spark prints it, ``file:/t/my tbl/p=a%3Ab``.
"""

from __future__ import annotations

import logging
from urllib.parse import unquote, urlsplit

from pyarrow import fs as pafs
from pyspark.sql import SparkSession

from octopufs_spark.fs.core import get_filesystem, list_tree, to_uri
from octopufs_spark.fs.model import FsElement

log = logging.getLogger(__name__)


def catalog_table(spark: SparkSession, table: str):
    """JVM CatalogTable for a table, or None when unavailable
    (reference works with CatalogTable directly,
    metastore/package.scala:84-86). Structured access beats parsing
    DESCRIBE FORMATTED rows, whose layout shifts across Spark versions."""
    try:
        state = spark._jsparkSession.sessionState()
        ident = state.sqlParser().parseTableIdentifier(table)
        return state.catalog().getTableMetadata(ident)
    except Exception as e:
        log.debug("CatalogTable lookup failed for %s: %s", table, e)
        return None


def _uri_to_string(uri: str) -> str:
    """Spark's ``CatalogUtils.URIToString`` (Hadoop's
    ``Path(URI).toString()``) of an encoded URI string: the scheme, the
    authority when there is one, and the decoded path."""
    parts = urlsplit(uri)
    head = f"{parts.scheme}:" if parts.scheme else ""
    if parts.netloc:
        head += f"//{unquote(parts.netloc)}"
    return head + unquote(parts.path)


def get_table_metadata(spark: SparkSession, table: str) -> dict:
    """Structured table metadata (reference: getTableMetadata,
    metastore/package.scala:84-86): location, provider, partition
    columns, table type."""
    meta = catalog_table(spark, table)
    partition_columns = [name for name, _, part in _columns(spark, table, meta) if part]
    if meta is not None:
        provider = meta.provider()
        return {
            "location": _uri_to_string(meta.location().toString()),
            "provider": provider.get() if provider.isDefined() else None,
            "partition_columns": partition_columns,
            "table_type": meta.tableType().name(),
        }
    rows = spark.sql(f"DESCRIBE FORMATTED {table}").collect()
    kv = {r.col_name.strip(): r.data_type.strip() for r in rows}
    return {
        "location": kv.get("Location"),
        "provider": kv.get("Provider"),
        "partition_columns": partition_columns,
        "table_type": kv.get("Type"),
    }


def get_table_location(spark: SparkSession, table: str, meta=None) -> str:
    """Table storage location (reference: getTableLocation,
    metastore/package.scala:70-74)."""
    if meta is None:
        meta = catalog_table(spark, table)
    if meta is not None:
        return _uri_to_string(meta.location().toString())
    rows = spark.sql(f"DESCRIBE FORMATTED {table}").collect()
    for r in rows:
        if r.col_name.strip() == "Location":
            return r.data_type.strip()
    raise ValueError(f"no location for table {table}")


def get_table_l1_partition_paths(spark: SparkSession, table: str, meta=None) -> list[str]:
    """First-level partition directories; throws on unpartitioned
    tables (reference: getTableL1PartitionsPaths,
    metastore/package.scala:41-46)."""
    if meta is None:
        meta = catalog_table(spark, table)
    if not _is_partitioned(spark, table, meta):
        raise ValueError(f"table {table} is not partitioned")
    return get_subfolder_paths(get_table_location(spark, table, meta))


def get_subfolder_paths(uri: str) -> list[str]:
    """First-level directories of a path (reference: getSubfolderPaths,
    metastore/package.scala:48-52)."""
    fs, root = get_filesystem(uri)
    infos = fs.get_file_info(pafs.FileSelector(root, recursive=False, allow_not_found=True))
    return [to_uri(uri, i.path) for i in infos if i.type == pafs.FileType.Directory]


def filter_paths(paths: list[str], likes: list[str]) -> list[str]:
    """Substring (contains) filter (reference: filterPaths,
    metastore/package.scala:54-56)."""
    return [p for p in paths if any(s in p for s in likes)]


def filter_partitions(spark: SparkSession, table: str, likes: list[str], meta=None) -> list[str]:
    """Substring-matched partition dirs (reference: filterPartitions,
    metastore/package.scala:29-31)."""
    return filter_paths(get_table_l1_partition_paths(spark, table, meta), likes)


def get_files_only_of_folders(folders: list[str]) -> list[FsElement]:
    """Recursive file listing of each folder, unioned
    (reference: getFilesOnlyOfFolders, metastore/package.scala:58-61)."""
    out: list[FsElement] = []
    for folder in folders:
        out.extend(e for e in list_tree(folder) if not e.is_dir)
    return out


def get_list_of_table_files(spark: SparkSession, table: str) -> list[str]:
    """Files of a table from the catalog's own cache
    (reference: getListOfTableFiles, metastore/package.scala:111-113)."""
    return [_uri_to_string(f) for f in spark.table(table).inputFiles()]


def refresh_metadata(spark: SparkSession, table: str) -> None:
    """Sync catalog state to the files after a file-level mutation
    (reference: refreshMetadata, metastore/package.scala:95-103, which
    refreshes the table, then recovers its partitions).

    A partitioned table is repaired with ``MSCK REPAIR TABLE ... SYNC
    PARTITIONS``: it adds a partition for each new directory and drops
    each partition whose directory is gone (``recoverPartitions`` only
    adds), then refreshes the table's file index and cached data, so no
    separate ``refreshTable`` runs. An unpartitioned table, or one the
    repair refuses (a path-based table), is refreshed with
    ``refreshTable``. Syncing only the partitions an op touched takes an
    ``ALTER TABLE ... DROP PARTITION`` and an ``ADD PARTITION``, which
    together cost more than one repair of a 4-partition table (37
    against 29 ms of CPU on a 4-CPU x86 VM); the repair lists every
    partition, though, so on a table of many partitions they may not."""
    if _is_partitioned(spark, table):
        try:
            spark.sql(f"MSCK REPAIR TABLE {table} SYNC PARTITIONS")
            return
        except Exception as e:  # path-based tables can't be repaired
            log.info("partition repair skipped for %s: %s", table, e)
    spark.catalog.refreshTable(table)


def _columns(spark: SparkSession, table: str, meta=None) -> list[tuple[str, str, bool]]:
    """(name, type, is_partition) of each column, as
    spark.catalog.listColumns reports them (CHAR/VARCHAR read as
    string), from the CatalogTable ``meta``; looked up when not given.
    listColumns itself is the fallback for temp views only."""
    if meta is None:
        meta = catalog_table(spark, table)
    if meta is None:
        return [(c.name, c.dataType, c.isPartition) for c in spark.catalog.listColumns(table)]
    parts = set(meta.partitionSchema().fieldNames())
    return [
        (f.name(), f.dataType().catalogString(), f.name() in parts)
        for f in meta.schema().fields()
    ]


def _is_partitioned(spark: SparkSession, table: str, meta=None) -> bool:
    if meta is None:
        meta = catalog_table(spark, table)
    if meta is None:  # a temp view
        return any(c.isPartition for c in spark.catalog.listColumns(table))
    return meta.partitionColumnNames().nonEmpty()


def validate_compatibility(
    spark: SparkSession, src_table: str, trg_table: str, src_meta=None, trg_meta=None
) -> None:
    """Throw unless schemas, partition columns and formats match —
    prerequisite for file-level promotion between tables
    (reference: TableMetadataValidator.validate,
    metastore/TableMetadataValidator.scala:11-30)."""
    if src_meta is None:
        src_meta = catalog_table(spark, src_table)
    if trg_meta is None:
        trg_meta = catalog_table(spark, trg_table)
    src_cols = _columns(spark, src_table, src_meta)
    trg_cols = _columns(spark, trg_table, trg_meta)
    if src_cols != trg_cols:
        raise ValueError(
            f"incompatible schemas/partitioning: {src_table}={src_cols} vs {trg_table}={trg_cols}"
        )
    src_fmt = _table_format(spark, src_table, src_meta)
    trg_fmt = _table_format(spark, trg_table, trg_meta)
    if src_fmt != trg_fmt:
        raise ValueError(f"incompatible formats: {src_fmt} vs {trg_fmt}")


def _table_format(spark: SparkSession, table: str, meta) -> dict[str, str]:
    if meta is not None:
        provider = meta.provider()
        storage = meta.storage()
        fmt = {"Provider": provider.get() if provider.isDefined() else None}
        for key, opt in (
            ("InputFormat", storage.inputFormat()),
            ("OutputFormat", storage.outputFormat()),
            ("Serde Library", storage.serde()),
        ):
            fmt[key] = opt.get() if opt.isDefined() else None
        return fmt
    rows = spark.sql(f"DESCRIBE FORMATTED {table}").collect()
    keys = {"Provider", "InputFormat", "OutputFormat", "Serde Library"}
    return {r.col_name.strip(): r.data_type.strip() for r in rows if r.col_name.strip() in keys}
