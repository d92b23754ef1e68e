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
import time
from urllib.parse import unquote, urlsplit

from pyarrow import fs as pafs
from pyspark.sql import SparkSession

from octopufs_spark.fs.core import get_filesystem, list_tree, to_uri
from octopufs_spark.fs.model import FsElement
from octopufs_spark.manifest_log import _hive_unescape

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


def refresh_metadata(
    spark: SparkSession,
    table: str,
    added: list[str] | None = None,
    dropped: list[str] | None = None,
    meta=None,
) -> None:
    """Sync catalog state to the files after a file-level mutation
    (reference: refreshMetadata, metastore/package.scala:95-103, which
    refreshes the table, then recovers its partitions).

    ``added`` and ``dropped`` are the first-level partition directories
    an op created and the ones it removed, spelled as this module
    returns them. With either given, a partitioned table syncs only
    those partitions through the session catalog (:func:`_sync_partitions`):
    no SQL statement runs and no untouched partition is listed, so the
    cost follows the op, not the table: 3.5 ms of process-tree CPU per
    call on a 4-CPU x86 VM, at 4 partitions as at 400 (SCALE.md,
    "Catalog sync"). A partition op therefore no longer heals drift in
    the partitions it did not touch (a directory written or removed
    behind the catalog's back); a full ``refresh_metadata(spark,
    table)`` does. If the targeted sync fails, it is logged and the
    full repair runs.

    With neither given — whole-table ops, the SQL analogs, user calls —
    a partitioned table is repaired with ``MSCK REPAIR TABLE ... SYNC
    PARTITIONS``: it adds a partition for each new directory and drops
    each partition whose directory is gone (``recoverPartitions`` only
    adds), then refreshes the table's file index and cached data. It
    lists every partition directory: 18–27 ms of CPU at 4 partitions,
    114–128 ms and a Spark job at 40, 175–185 ms and a job at 400 (it gathers the
    partitions' file stats in a job above
    ``spark.rdd.parallelListingThreshold``, 10 paths). An unpartitioned
    table, or one the repair refuses (a path-based table), is refreshed
    with ``refreshTable``.
    ``meta`` is the table's CatalogTable when the caller holds it."""
    if meta is None:
        meta = catalog_table(spark, table)
    partitioned = _is_partitioned(spark, table, meta)
    if partitioned and meta is not None and (added is not None or dropped is not None):
        try:
            _sync_partitions(spark, table, meta, added or [], dropped or [])
            return
        except Exception as e:
            log.warning("partition sync of %s failed, repairing the table: %s", table, e)
    if partitioned:
        try:
            spark.sql(f"MSCK REPAIR TABLE {table} SYNC PARTITIONS")
            return
        except Exception as e:  # path-based tables can't be repaired
            log.info("partition repair skipped for %s: %s", table, e)
    spark.catalog.refreshTable(table)


class _Jvm:
    """The JVM classes the partition sync calls, looked up once per
    gateway: each ``spark._jvm.a.b.C`` walk is a py4j round trip per
    name segment, about 0.9 ms."""

    _cached: tuple | None = None

    def __init__(self, jvm):
        self.some = jvm.scala.Some
        self.none = jvm.scala.Option.empty()
        self.utils = jvm.org.apache.spark.api.python.PythonUtils
        self.partition = jvm.org.apache.spark.sql.catalyst.catalog.CatalogTablePartition
        self.to_uri = jvm.org.apache.spark.sql.catalyst.catalog.CatalogUtils.stringToURI
        self.qualified = jvm.org.apache.spark.sql.catalyst.QualifiedTableName
        self.as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava

    @classmethod
    def of(cls, spark: SparkSession) -> _Jvm:
        jvm = spark._jvm
        if cls._cached is None or cls._cached[0] is not jvm:
            cls._cached = (jvm, cls(jvm))
        return cls._cached[1]


def partition_spec(rel: str, columns: list[str]) -> dict[str, str] | None:
    """The partition spec of a directory ``rel`` (``p=a%3Ab`` or
    ``p=1/q=x y``, relative to the table) for the leading ``columns`` it
    names, as the catalog keys it: each value Hive-unescaped
    (``manifest_log._hive_unescape``), the null sentinel
    ``__HIVE_DEFAULT_PARTITION__`` kept as written, as Spark's writers
    and its repair register it. None when ``rel`` is not a partition
    directory of these columns (a ``_temporary`` staging dir, another
    column), which the repair skips too."""
    segments = rel.strip("/").split("/")
    if len(segments) != len(columns):
        return None
    spec = {}
    for segment, column in zip(segments, columns):
        key, eq, value = segment.partition("=")
        if not eq or not value or _hive_unescape(key).lower() != column.lower():
            return None
        spec[column] = _hive_unescape(value)
    return spec


def _leaf_partitions(folder: str, columns: list[str]) -> list[tuple[str, dict[str, str]]]:
    """(directory, spec) of each partition under the first-level
    partition directory ``folder``: the folder itself on a table of one
    partition column, else its leaves ``len(columns) - 1`` levels down,
    listed one level at a time, directories only."""
    dirs = [folder.rstrip("/")]
    base = dirs[0].rsplit("/", 1)[0]
    for _ in columns[1:]:
        dirs = [sub for d in dirs for sub in get_subfolder_paths(d)]
    leaves = [(d, partition_spec(d[len(base) + 1 :], columns)) for d in dirs]
    return [(d, spec) for d, spec in leaves if spec is not None]


def _sync_partitions(
    spark: SparkSession, table: str, meta, added: list[str], dropped: list[str]
) -> None:
    """Drop the partitions of the ``dropped`` directories and register
    those of the ``added`` ones through the JVM ``SessionCatalog``, then
    refresh the table: with ``spark.catalog.refreshTable`` when the
    session's ``CacheManager`` holds a plan, as it re-caches cached data;
    else by refreshing the cached relation's file index and invalidating
    it in the session catalog, which skips that call's analysis of a
    fresh read (see :func:`refresh_metadata`). A directory in both lists
    (deleted, then written again) is synced as an add.

    On a table of more than one partition column a directory is a
    first-level value: a drop takes every catalog partition under it
    (``listPartitionNames`` with the partial spec), and an add lists
    only that directory's leaves, and also drops the catalog's
    partitions under it whose leaves are gone. Each added partition's
    location is its directory."""
    jvm = _Jvm.of(spark)
    jcatalog = spark._jsparkSession.sessionState().catalog()
    ident = meta.identifier()
    columns = list(meta.partitionSchema().fieldNames())

    def dir_spec(folder: str) -> dict[str, str] | None:
        return partition_spec(folder.rstrip("/").rsplit("/", 1)[1], columns[:1])

    def catalog_specs(first: dict[str, str]) -> list[dict[str, str]]:
        names = jcatalog.listPartitionNames(ident, jvm.some(jvm.utils.toScalaMap(first)))
        return [s for s in (partition_spec(n, columns) for n in jvm.as_java(names)) if s]

    drops, creates = [], []
    for folder in (d for d in dropped if d not in added):  # an add re-syncs its own
        first = dir_spec(folder)
        if first is not None:
            drops += [first] if len(columns) == 1 else catalog_specs(first)
    for folder in added:
        first = dir_spec(folder)
        if first is None:
            continue
        leaves = _leaf_partitions(folder, columns)
        if len(columns) > 1:
            kept = [spec for _, spec in leaves]
            drops += [s for s in catalog_specs(first) if s not in kept]
        creates += leaves
    if drops:
        specs = [jvm.utils.toScalaMap(s) for s in drops]
        jcatalog.dropPartitions(ident, jvm.utils.toSeq(specs), True, False, True)
    if creates:
        storage = meta.storage()
        fmt = (
            storage.inputFormat(),
            storage.outputFormat(),
            storage.serde(),
            storage.compressed(),
            storage.properties(),
        )
        now, no_params = int(time.time() * 1000), jvm.utils.toScalaMap({})
        parts = [
            jvm.partition(
                jvm.utils.toScalaMap(spec),
                storage.copy(jvm.some(jvm.to_uri(folder)), *fmt),
                no_params,
                now,
                -1,
                jvm.none,
            )
            for folder, spec in creates
        ]
        jcatalog.createPartitions(ident, jvm.utils.toSeq(parts), True)
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        spark.catalog.refreshTable(table)  # re-caches cached data of the table
        return
    # refreshTable would first analyze a fresh read of the table: 19 ms a
    # call against 5 ms in small_files' cycle (SCALE.md, "Catalog sync")
    cached = jcatalog.getCachedTable(
        jvm.qualified(ident.catalog().get(), ident.database().get(), ident.table())
    )
    if cached is not None:
        cached.refresh()  # the file index's listings
    jcatalog.refreshTable(ident)


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
