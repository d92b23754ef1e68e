"""Metastore/catalog helpers (reference: metastore/package.scala,
TableMetadataValidator.scala).

Table locations, first-level partition paths, substring partition
filtering, refresh/recover, schema-compat validation. Location, format,
column and partition facts are read from the table's JVM CatalogTable,
as the reference does: spark.catalog.listColumns collects its result
through toLocalIterator, one Spark job per result partition, so it is
kept only for temp views, which have no CatalogTable.
"""

from __future__ import annotations

import logging

from pyarrow import fs as pafs
from pyspark.sql import SparkSession

from octopufs_spark.fs.core import get_filesystem, list_tree
from octopufs_spark.fs.model import FsElement

log = logging.getLogger(__name__)


def _catalog_table(spark: SparkSession, table: str):
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


def get_table_metadata(spark: SparkSession, table: str) -> dict:
    """Structured table metadata (reference: getTableMetadata,
    metastore/package.scala:84-86): location, provider, partition
    columns, table type."""
    meta = _catalog_table(spark, table)
    partition_columns = [name for name, _, part in _columns(spark, table, meta) if part]
    if meta is not None:
        provider = meta.provider()
        return {
            "location": meta.location().toString(),
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


def get_table_location(spark: SparkSession, table: str) -> str:
    """Table storage location (reference: getTableLocation,
    metastore/package.scala:70-74)."""
    meta = _catalog_table(spark, table)
    if meta is not None:
        return meta.location().toString()
    rows = spark.sql(f"DESCRIBE FORMATTED {table}").collect()
    for r in rows:
        if r.col_name.strip() == "Location":
            return r.data_type.strip()
    raise ValueError(f"no location for table {table}")


def get_table_l1_partition_paths(spark: SparkSession, table: str) -> list[str]:
    """First-level partition directories; throws on unpartitioned
    tables (reference: getTableL1PartitionsPaths,
    metastore/package.scala:41-46)."""
    if not _is_partitioned(spark, table):
        raise ValueError(f"table {table} is not partitioned")
    return get_subfolder_paths(get_table_location(spark, table))


def get_subfolder_paths(uri: str) -> list[str]:
    """First-level directories of a path (reference: getSubfolderPaths,
    metastore/package.scala:48-52)."""
    fs, root = get_filesystem(uri)
    infos = fs.get_file_info(pafs.FileSelector(root, recursive=False, allow_not_found=True))
    scheme = uri[: len(uri) - len(root)] if uri.endswith(root) else ""
    return [scheme + i.path for i in infos if i.type == pafs.FileType.Directory]


def filter_paths(paths: list[str], likes: list[str]) -> list[str]:
    """Substring (contains) filter (reference: filterPaths,
    metastore/package.scala:54-56)."""
    return [p for p in paths if any(s in p for s in likes)]


def filter_partitions(spark: SparkSession, table: str, likes: list[str]) -> list[str]:
    """Substring-matched partition dirs (reference: filterPartitions,
    metastore/package.scala:29-31)."""
    return filter_paths(get_table_l1_partition_paths(spark, table), likes)


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
    return list(spark.table(table).inputFiles())


def refresh_metadata(spark: SparkSession, table: str) -> None:
    """Refresh catalog state after file-level mutation; recover
    partitions for partitioned tables (reference: refreshMetadata,
    metastore/package.scala:95-103)."""
    spark.catalog.refreshTable(table)
    if _is_partitioned(spark, table):
        try:
            spark.catalog.recoverPartitions(table)
        except Exception as e:  # path-based tables can't recover
            log.info("recoverPartitions skipped for %s: %s", table, e)


def _columns(spark: SparkSession, table: str, meta=None) -> list[tuple[str, str, bool]]:
    """(name, type, is_partition) of each column, as
    spark.catalog.listColumns reports them (CHAR/VARCHAR read as
    string), from the CatalogTable ``meta``; looked up when not given.
    listColumns itself is the fallback for temp views only."""
    if meta is None:
        meta = _catalog_table(spark, table)
    if meta is None:
        return [(c.name, c.dataType, c.isPartition) for c in spark.catalog.listColumns(table)]
    parts = set(meta.partitionSchema().fieldNames())
    return [
        (f.name(), f.dataType().catalogString(), f.name() in parts)
        for f in meta.schema().fields()
    ]


def _is_partitioned(spark: SparkSession, table: str) -> bool:
    return any(part for _, _, part in _columns(spark, table))


def validate_compatibility(spark: SparkSession, src_table: str, trg_table: str) -> None:
    """Throw unless schemas, partition columns and formats match —
    prerequisite for file-level promotion between tables
    (reference: TableMetadataValidator.validate,
    metastore/TableMetadataValidator.scala:11-30)."""
    src_meta = _catalog_table(spark, src_table)
    trg_meta = _catalog_table(spark, trg_table)
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
