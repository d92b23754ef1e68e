"""Manifest-committed tables: atomic publish of file sets.

Directory swaps (`compact._replace_folder`, promotion) are not atomic
on object stores — a reader listing the directory mid-swap sees a
mixed or empty file set; the SafetyFuse only makes the *writer's*
rerun safe. This module adds the standard fix, the same commit model
Delta Lake / Iceberg use (a log/manifest names the live files; readers
never list the data directory): each commit writes
``_manifest/v{N}.json`` naming the table's live data files, and
readers resolve the newest version. Writers never mutate a published
manifest; data files are immutable once referenced.

The log itself lives in ``octopufs_spark.manifest_log`` (no Spark);
``ManifestTable`` adds the Spark read and stage side.

Readers: ``latest_version`` → ``read_manifest`` → exact file list →
``spark.read.schema(data_schema).parquet(*files)``, with the schema the
log recorded when the files were staged, so building the read launches
no Spark job; a snapshot without ``data_schema`` (promoted or foreign
files) infers it from a footer as Spark does. No directory listing of
data, so uncommitted/leftover files are invisible — which also makes
compaction garbage collection safe to defer (``vacuum``).
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame, SparkSession

from octopufs_spark.fs.core import copy_bytes, list_tree
from octopufs_spark.manifest_log import (
    _DROPPED_PREFIX,
    _HIVE_NULL,
    ConcurrentModificationError,  # noqa: F401 — re-exported
    Manifest,
    ManifestLog,
    SnapshotVacuumedError,
    _alias_chain,
    _evolution_dtype,
    _evolve_names,
    _hive_segments_of,
    _layout_key,
    _strip_ref_markers,
    hidden_transform_expr,
    hidden_transform_value,  # noqa: F401 — re-exported
)

# the size a staged or compacted data file aims for
TARGET_FILE_BYTES = 100 * 1024 * 1024
# plan roots whose partitioning (or per-partition order) the caller
# chose, and the narrow unary nodes that may sit above one without
# changing the written layout: coalescing sorted partitions end to end
# would leave no file sorted, or spread a range over every file
_CHOSEN_LAYOUT = {"Repartition", "RepartitionByExpression", "RebalancePartitions", "Sort"}
_NARROW = {"Project", "Filter", "SubqueryAlias"}
# plan nodes that can emit more rows or bytes than Catalyst's estimate
# (their input's size), named at the start of a ``treeString`` line
_UNSIZED = re.compile(
    r"^[\s:|+-]*(Generate|\w*EvalPythonUDTF|MapIn\w+|FlatMap\w+|MapPartitions\w*)\b", re.M
)
# the footer entry Spark writes the row schema to, and infers it from
_SPARK_ROW_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"
# the columns of every positional delete vector
_POSITIONAL_SCHEMA = "file STRING, pos BIGINT"


def _as_nullable(dt):
    """Spark's ``DataType.asNullable`` on the JSON form of a type: every
    field, array element and map value nullable. Spark reads file
    sources this way, so a recorded schema in this form is what an
    inferred read reports."""
    if not isinstance(dt, dict):
        return dt
    if dt.get("type") == "struct":
        fields = [{**f, "nullable": True, "type": _as_nullable(f["type"])} for f in dt["fields"]]
        return {**dt, "fields": fields}
    if dt.get("type") == "array":
        return {**dt, "elementType": _as_nullable(dt["elementType"]), "containsNull": True}
    if dt.get("type") == "map":
        return {
            **dt,
            "keyType": _as_nullable(dt["keyType"]),
            "valueType": _as_nullable(dt["valueType"]),
            "valueContainsNull": True,
        }
    return dt


def _reader(spark: SparkSession, schema: dict | str | None):
    """``spark.read`` given ``schema`` (a recorded schema's JSON, or a
    DDL string) when it is known: the read then plans without a
    schema-inference Spark job."""
    if schema is None:
        return spark.read
    if isinstance(schema, dict):
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(schema)
    return spark.read.schema(schema)


def _apply_evolution(df: DataFrame, events: list) -> DataFrame:
    """Apply the schema-evolution event log to one scan group (or a
    delete-vector key frame). Events replay IN ORDER; a drop renames to
    a reserved per-event sentinel instead of physically dropping, so
    (a) a later ``rename y -> x`` after ``drop x`` cannot collide, and
    (b) key-granular delete vectors whose key column was later dropped
    still anti-join (both sides carry the same sentinel). The read
    strips sentinels last. Events whose source column is absent are
    no-ops — a group written after a rename already has the new name,
    so replaying the full log converges every group to one schema."""
    from pyspark.sql import functions as _F

    for i, ev in enumerate(events):
        kind, *args = ev
        if kind == "rename" and args[0] in df.columns:
            df = df.withColumnRenamed(args[0], args[1])
        elif kind == "drop" and args[0] in df.columns:
            df = df.withColumnRenamed(args[0], f"{_DROPPED_PREFIX}{i}")
        elif kind == "add" and args[0] not in df.columns:
            # metadata-only ADD COLUMN with a default: groups written
            # before the add (or omitting the column) surface the
            # default, not NULL — Delta's default-values model
            df = df.withColumn(args[0], _F.lit(args[1]).cast(_evolution_dtype(args[2])))
    return df


def _strip_dropped(df: DataFrame) -> DataFrame:
    gone = [c for c in df.columns if c.startswith(_DROPPED_PREFIX)]
    return df.drop(*gone) if gone else df


class ManifestTable(ManifestLog):
    """A parquet table whose live file set is named by a manifest: a
    :class:`ManifestLog` plus the Spark read and stage side."""

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        merge_schema: bool = False,
        timestamp=None,
        tag: str | None = None,
        branch: str | None = None,
        check_vacuumed: bool = True,
    ) -> DataFrame:
        """Load the committed snapshot — optionally time-traveled.
        Merge-on-read delete vectors recorded in the manifest meta
        (see merge.delete_where_mor) are applied with anti-joins, so a
        MOR-deleted row is invisible even though its data file is
        untouched; each version applies exactly its own vector list,
        keeping time travel consistent. ``merge_schema=True`` unifies
        snapshots whose commits evolved the schema (added columns read
        as NULL for pre-evolution files).

        Explicit time-travel reads (``version`` given) pre-check that
        the referenced files still exist, so a snapshot that lost the
        race with ``vacuum`` raises a typed
        :class:`SnapshotVacuumedError` at plan time rather than an
        opaque parquet path error mid-query. The check is one metadata
        call per file — fine for time travel (rare, explicit); the
        latest-version hot path skips it because ``vacuum`` never
        removes the newest snapshot's files.

        ``timestamp`` (epoch seconds or datetime) is AS OF TIMESTAMP:
        resolved to the newest version committed at-or-before it via
        :meth:`version_as_of`; ``tag`` resolves a named ref created by
        :meth:`create_tag`; ``branch`` reads a branch's head snapshot.
        version/timestamp/tag/branch are mutually exclusive."""
        if sum(x is not None for x in (version, timestamp, tag, branch)) > 1:
            raise ValueError("pass at most one of version, timestamp, tag, branch")
        # explicit version/time-travel/ref reads keep EXACT file lists
        # (no directory collapse): a racing vacuum may legally delete a
        # non-head snapshot's file between the collapse's verification
        # listing and Spark's own directory listing, and a dir scan
        # would then silently return fewer rows where the exact list
        # fails loudly with file-not-found. The head read collapses —
        # vacuum never deletes files the current head references.
        at_head = version is None and timestamp is None and tag is None and branch is None
        if tag is not None:
            version = self.tag_version(tag)
        if branch is not None:
            version = self.branch_head(branch)
        if timestamp is not None:
            version = self.version_as_of(timestamp)
        m = self.read_manifest(version)
        if version is not None and check_vacuumed:
            # explicit time travel pre-checks file existence (typed
            # error instead of a mid-query parquet failure); hot-path
            # callers that KNOW the version is current (the catalog
            # reading a pin that equals the main head) pass
            # check_vacuumed=False to skip the per-file metadata calls
            self._check_not_vacuumed(m)
        if not m.files:
            raise ValueError(f"manifest v{m.version} of {self.root} lists no files")
        df = self._read_files(
            spark, m, m.files, collapse=at_head, merge_schema=merge_schema
        )
        return self._strip_hidden(df, m)

    def _read_files(
        self,
        spark: SparkSession,
        m: Manifest,
        files: list[str],
        collapse: bool = False,
        merge_schema: bool = False,
    ) -> DataFrame:
        """The rows of ``files`` (a subset of snapshot ``m``) as a reader
        of ``m`` sees them: scanned under ``m``'s schema-evolution log,
        ``m``'s delete vectors applied, dropped columns removed. Hidden
        partition columns stay — callers that surface logical rows strip
        them (:meth:`_strip_hidden`); rewrites that re-stage the layout
        keep them. ``collapse`` is for verified-head reads only (see
        :meth:`_collapse_scan_paths`)."""
        df = self._scan_files(
            spark,
            files,
            merge_schema=merge_schema,
            annotate_positions=self._has_positional_dvs(m),
            evolution=m.meta.get("schema_evolution"),
            collapse=collapse,
            schema=m.meta.get("data_schema"),
        )
        return _strip_dropped(self._apply_delete_vectors(spark, df, m))

    @staticmethod
    def _strip_hidden(df: DataFrame, m: Manifest) -> DataFrame:
        """Hidden-partition columns are a storage layout detail (the
        Iceberg model): reads surface the SOURCE column only."""
        hidden = [c for c in m.meta.get("hidden_partitions", {}) if c in df.columns]
        return df.drop(*hidden) if hidden else df

    def _annotate_positions(self, df: DataFrame) -> DataFrame:
        """Attach (_dv_file, _dv_pos) from the parquet virtual metadata
        columns. Must bind on a file-source scan DIRECTLY — after a
        union, ``_metadata`` no longer resolves."""
        from pyspark.sql import functions as _F

        return df.withColumns(
            {"_dv_file": self._rel_path_col(), "_dv_pos": _F.col("_metadata.row_index")}
        )

    def _scan_files(
        self,
        spark: SparkSession,
        rel_files: list[str],
        merge_schema: bool = False,
        annotate_positions: bool = False,
        evolution: list | None = None,
        collapse: bool = False,
        schema: dict | None = None,
    ) -> DataFrame:
        """Parquet scan over snapshot-relative files with hive partition
        columns RECOVERED. Explicit file lists disable Spark's partition
        discovery, so a ``partition_by`` table read naively loses its
        partition columns; and a single ``basePath`` at the table root
        fails with CONFLICTING_DIRECTORY_STRUCTURES because each commit
        stages under its own top-level directory. One commit's layout
        IS internally consistent, though — so files group by their
        top-level staging dir, each group scans with ``basePath`` at
        that dir (k=v segments surface as columns again), and groups
        union by name. Cost: one scan relation per contributing commit,
        bounded by log length and collapsed by compaction. A group
        missing a column another group has (pre-evolution commits)
        unions only under ``merge_schema`` (NULL-filled), else errors —
        the same contract as the flat read.

        ``schema`` is the snapshot's recorded ``data_schema``: the flat
        scan and every group read with it instead of inferring it from a
        footer (one Spark job each); partition columns are still
        discovered from the paths. ``merge_schema`` always infers."""
        has_parts = any(
            "=" in seg for f in rel_files for seg in f.split("/")[1:-1]
        )

        def reader(base: str | None = None):
            if merge_schema:
                r = spark.read.option("mergeSchema", "true")
            else:
                r = _reader(spark, schema)
            if base is not None:
                r = r.option("basePath", base)
            return r

        def finish(df: DataFrame) -> DataFrame:
            # position annotation binds on the raw file scan (before any
            # rename — _metadata resolves only there); evolution replays
            # PER GROUP so pre- and post-rename commits union under one
            # schema instead of two half-null columns
            if annotate_positions:
                df = self._annotate_positions(df)
            if evolution:
                df = _apply_evolution(df, evolution)
            return df

        # an evolution log forces the grouped path even without hive
        # segments: one flat scan would mix pre- and post-rename files
        # under a single footer-sampled schema (half the rows NULL);
        # per-staging-dir groups are schema-consistent (one commit
        # writes one dir), so the log replays per group and the union
        # converges on the logical schema
        def scan_paths(rels: list[str]) -> list[str]:
            if collapse:
                return self._collapse_scan_paths(rels)
            return [f"{self.root}/{f}" for f in rels]

        if not has_parts and not evolution:
            return finish(reader().parquet(*scan_paths(rel_files)))
        groups: dict[str, list[str]] = {}
        for f in rel_files:
            top = f.split("/", 1)[0] if "/" in f else ""
            groups.setdefault(top, []).append(f)
        dfs = [
            finish(
                reader(f"{self.root}/{top}" if top else None).parquet(
                    *scan_paths(rels)
                )
            )
            for top, rels in sorted(groups.items())
        ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=merge_schema)
        return out

    # a staging dir below this many snapshot files is passed file-by-
    # file: the verification listing would cost more than the py4j +
    # driver path-status it saves
    _DIR_COLLAPSE_MIN = 33

    def _collapse_scan_paths(self, rel_files: list[str]) -> list[str]:
        """Collapse an explicit file list to staging-DIRECTORY paths
        wherever a whole directory is live. Spark's driver pays a
        per-PATH cost on explicit file lists (py4j string transfer +
        one file status each): at 50k files that is ~30 s of plan
        build before the first task runs (tools/filecount_probe.py),
        while handing over ~50 directories plans in under a second —
        the same bottleneck class Delta solves with compacted
        checkpoints, solved here on the scan side.

        Safety: a directory substitutes for its files ONLY when its
        physically-listed live parquet set EQUALS the snapshot's
        subset (staging dirs are written once and immutable, but a
        rewrite can retire a strict subset, and time travel can
        reference one) — anything else keeps the exact file list.
        Collapse is OPT-IN (``_scan_files(collapse=True)``) and only
        the verified-head read paths (``read``/``read_pruned`` with no
        explicit version/timestamp/tag/branch) opt in: for any other
        file set — time travel, MV delta folds over one commit's
        files, MERGE/compaction source scans — a racing vacuum may
        legally delete a file between this verification listing and
        Spark's own directory listing, and a dir scan would then
        silently return fewer rows where the exact list fails loudly
        (for a rewrite path that means committing a silently-shrunken
        file set). Head-referenced files are never vacuumed, so the
        head read collapses safely — and the head read is exactly
        where the 50k-file plan-build win lives. Residual window,
        accepted and documented: "head" means head AT RESOLUTION — a
        concurrent overwrite plus a zero-retention vacuum landing
        between this verification listing and Spark's own listing can
        still shrink a head-read dir scan. That needs retention_seconds=0
        racing inside a millisecond-scale window (default retention
        makes it unreachable); closing it entirely would mean giving
        up dir collapse and re-opening the 33 s/50k-file plan builds.
        Sidecars Spark ignores (_SUCCESS, dotfiles, .crc) are ignored
        in the comparison too. One listing per candidate dir, only
        for dirs holding >= _DIR_COLLAPSE_MIN snapshot files."""
        import pyarrow.fs as pafs

        groups: dict[str, list[str]] = {}
        loose: list[str] = []
        for f in rel_files:
            if "/" in f:
                groups.setdefault(f.split("/", 1)[0], []).append(f)
            else:
                loose.append(f)
        out: list[str] = []
        for top, fs_ in sorted(groups.items()):
            # Spark reads a directory NON-recursively (hive k=v subdirs
            # are the exception, via partition discovery) — a group
            # holding files under non-hive subdirs must keep its exact
            # list or the nested files silently drop from the scan
            flat_or_hive = all(
                all("=" in seg for seg in f.split("/")[1:-1]) for f in fs_
            )
            if len(fs_) < self._DIR_COLLAPSE_MIN or not flat_or_hive:
                out.extend(f"{self.root}/{f}" for f in fs_)
                continue
            try:
                infos = self.fs.get_file_info(
                    pafs.FileSelector(f"{self.root_path}/{top}", recursive=True)
                )
            except OSError:
                out.extend(f"{self.root}/{f}" for f in fs_)
                continue
            listed = {
                i.path[len(self.root_path) + 1 :]
                for i in infos
                if i.type == pafs.FileType.File
                and i.path.endswith(".parquet")
                and not i.path.rsplit("/", 1)[-1].startswith(("_", "."))
            }
            if listed == set(fs_):
                out.append(f"{self.root}/{top}")
            else:
                out.extend(f"{self.root}/{f}" for f in fs_)
        out.extend(f"{self.root}/{f}" for f in loose)
        return out

    def _apply_delete_vectors(self, spark: SparkSession, df: DataFrame, m: Manifest) -> DataFrame:
        """Apply the snapshot's merge-on-read delete vectors to a raw
        parquet scan. Two vector kinds:

        - key-granular (``keys``): equality deletes — broadcast
          anti-join on the key columns; applies to the WHOLE snapshot
          (re-inserting a deleted key needs a compaction first).
        - positional (``type: "positional"``): the Delta
          deletion-vector model — (file, row position) pairs, scoped
          to exactly the files named at delete time. Applied via the
          parquet scan's ``_metadata.file_path``/``row_index`` virtual
          columns (no data columns touched, no key semantics): later
          appends are naturally unaffected, and a sorted/pruned scan
          keeps its shape since the anti-join is broadcast.
        """
        from pyspark.sql import functions as _F

        dvs = m.meta.get("delete_vectors", [])
        pos_dvs = [dv for dv in dvs if dv.get("type") == "positional"]
        key_dvs = [dv for dv in dvs if not dv.get("type")]
        if pos_dvs and "_dv_file" not in df.columns:
            # unioned scans carry the annotation already (attached per
            # scan — _metadata does not resolve post-union)
            df = self._annotate_positions(df)
        events = m.meta.get("schema_evolution", [])
        # a join on column names puts them first: keep the scan's order
        columns = [c for c in df.columns if c not in ("_dv_file", "_dv_pos")]
        for dv in pos_dvs + key_dvs:
            frame, on = self._vector_frame(spark, dv, events)
            df = df.join(_F.broadcast(frame), on, "left_anti")
        return df.select(*columns) if dvs else df

    def _vector_frame(
        self, spark: SparkSession, dv: dict, events: list
    ) -> tuple[DataFrame, list[str]]:
        """One delete vector as ``(frame, join columns)``: a positional
        vector as its ``(_dv_file, _dv_pos)`` pairs (matching
        :meth:`_annotate_positions`), an equality vector as its key rows
        under the snapshot's evolution ``events``. Reads anti-join the
        frame; the MV delta fold semi-joins it to find the hit rows.
        The vector is read with its known schema (positional vectors
        have one; an equality vector records its own), so only a
        vector written without a recorded schema is inferred."""
        from pyspark.sql import functions as _F

        positional = dv.get("type") == "positional"
        schema = _POSITIONAL_SCHEMA if positional else dv.get("schema")
        vec = _reader(spark, schema).parquet(f"{self.root}/{dv['path']}")
        if positional:
            return (
                vec.select(_F.col("file").alias("_dv_file"), _F.col("pos").alias("_dv_pos")),
                ["_dv_file", "_dv_pos"],
            )
        on = list(dv["keys"])
        if events:
            # a vector stores key columns as spelled AT DELETE TIME; the
            # scan has current logical names — replay the same event log
            # on both the key frame and the key-name list so later
            # renames (or even drops, via the sentinel) cannot silently
            # detach an existing vector
            vec = _apply_evolution(vec, events)
            on = _evolve_names(on, events)
        return vec, on

    def _rel_path_col(self):
        """Table-relative path of the scanned file, from the parquet
        reader's ``_metadata.file_path`` virtual column. Positional
        delete vectors store THIS rendering on the write side and
        anti-join on it at read — the two sides must agree byte-for-
        byte or every existing vector silently stops matching, which
        is why both use this single helper."""
        from pyspark.sql import functions as _F

        marker = self.root_path + "/"
        fp = _F.col("_metadata.file_path")
        return fp.substr(_F.locate(marker, fp) + len(marker), _F.length(fp))

    def register_view(
        self, spark: SparkSession, name: str, version: int | None = None
    ) -> int:
        """Expose a committed snapshot in the session catalog so
        ``spark.table(name)`` (and SQL over ``name``) resolves it —
        closing the addressing gap between Promotor-style catalog
        tables and manifest tables.

        The view pins the file list of the registered version (latest
        by default): new commits do NOT leak in mid-query, and a
        concurrent writer can't flip the snapshot under a reader.
        Re-call after a commit to advance, or pass ``version`` for a
        time-traveled registration. Returns the registered version.

        Spark's public API has no pluggable catalog-table hook short of
        a JVM DataSource V2, so the shim is a (replaceable) temp view —
        the same mechanism ``spark.read.parquet(...)`` users reach for,
        but centralized and version-aware.
        """
        m = self.read_manifest(version)
        self.read(spark, m.version).createOrReplaceTempView(name)
        return m.version

    def _stage(
        self,
        df: DataFrame,
        prefix: str,
        partition_by: list[str] | None = None,
        expectations: list[tuple[str, str]] | None = None,
        stats: bool = False,
        bloom_columns: list[str] | None = None,
    ) -> tuple[list[str], dict]:
        """The one staging step of every Spark-written commit: write
        ``df`` to a fresh ``{prefix}-{uuid}`` directory under the root
        (``errorifexists``, hive-partitioned by ``partition_by``), list
        the staged files ONCE, and check ``expectations`` on the staged
        bytes. Returns ``(files, meta)``: root-relative parquet files and
        the commit meta collected from them — ``data_schema`` (the Spark
        schema of the staged files, from one footer read on the driver),
        ``file_stats`` zone maps with ``stats``, a ``bloom_index`` over
        ``bloom_columns``. Nothing
        is published: a failure here (or in the commit after it) leaves
        invisible orphans for ``vacuum``.

        The write stages ceil(estimated bytes / ``TARGET_FILE_BYTES``)
        files (with ``partition_by``, up to that many per partition
        dir), not one per input partition, but keeps as many tasks as
        Spark would read those bytes with (:func:`_right_sized`): a
        commit of a few MiB is one file. An explicit ``repartition`` /
        ``repartitionByRange`` / ``coalesce`` / sort of ``df`` is
        respected."""
        staged = f"{prefix}-{uuid.uuid4().hex[:12]}"
        writer = _right_sized(df).write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(f"{self.root}/{staged}")
        files = self._data_files_under(staged)
        meta: dict = {}
        schema = self._footer_schema(files[0]) if files else None
        if schema is not None:
            meta["data_schema"] = schema
        if expectations:
            check_expectations(
                df.sparkSession, self, staged, expectations, meta.get("data_schema")
            )
        if stats:
            meta["file_stats"] = self.collect_file_stats(files)
        if bloom_columns:
            meta["bloom_index"] = {
                col: self.collect_bloom_index(files, col) for col in bloom_columns
            }
        return files, meta

    def _footer_schema(self, rel_file: str) -> dict | None:
        """The Spark schema of a Spark-written data file, as the JSON of
        its row-schema footer entry with every nullable flag set, or
        None for a file without that entry. This is the entry Spark's
        own inference reads."""
        import json

        import pyarrow.parquet as pq

        with self.fs.open_input_file(f"{self.root_path}/{rel_file}") as f:
            kv = pq.read_metadata(f).metadata or {}
        raw = kv.get(_SPARK_ROW_SCHEMA)
        return _as_nullable(json.loads(raw)) if raw is not None else None

    def read_pruned(
        self, spark: SparkSession, predicates: list[tuple], version: int | None = None
    ) -> DataFrame:
        """Snapshot read that opens ONLY files whose zone-map interval
        can satisfy the predicates. The caller still applies the actual
        row filter — pruning eliminates files, not rows. At 100 TB this
        is the difference between planning a scan over every file and
        over the handful a selective predicate touches."""
        # resolve the snapshot ONCE and prune against exactly it — a
        # default-version double resolution could straddle a concurrent
        # commit and pair one snapshot's file list with another's
        # vectors/evolution log (a state that is neither version)
        at_head = version is None
        if version is None:
            version = self.current_version()
            if version is None:
                raise FileNotFoundError(f"no committed manifest under {self.root}")
        m = self.read_manifest(version)
        if not m.files:
            raise ValueError(f"manifest v{m.version} of {self.root} lists no files")
        keep, _ = self.prune_plan(predicates, version)
        if not keep:
            # preserve the LOGICAL schema with an empty, zero-file-cost
            # scan (hidden partition columns stripped like any read)
            empty = self._scan_files(
                spark,
                [m.files[0]],
                evolution=m.meta.get("schema_evolution"),
                schema=m.meta.get("data_schema"),
            )
            empty = _strip_dropped(empty.limit(0))
            return self._strip_hidden(empty, m)
        return self._strip_hidden(self._read_files(spark, m, keep, collapse=at_head), m)


def _right_sized(df: DataFrame) -> DataFrame:
    """``df`` coalesced to as few partitions as its estimated bytes
    need, so a write stages that many files rather than one per input
    partition: a small append is one file. That is ceil(bytes /
    ``TARGET_FILE_BYTES``), but never fewer than the tasks Spark would
    split a read of those bytes into (one per core, each of at least
    ``spark.sql.files.openCostInBytes``, 4 MiB by default), because
    ``coalesce`` also narrows the stage that computes the frame. The
    estimate is Catalyst's plan statistics (no Spark job), and
    ``coalesce`` adds no shuffle and never raises the partition count.

    ``df`` is returned as it is when the caller chose its partitioning
    (a repartition, coalesce, rebalance or sort at the root, under
    narrow unary nodes only), when its estimate is unknown (Spark's
    ``Long.MaxValue`` default) or needs more partitions than a JVM
    ``int`` holds, and when its plan has a node whose output Catalyst
    sizes as its input's (an explode, a Python UDTF, ``mapInPandas``):
    there the estimate is no bound on the bytes written."""
    qe = df._jdf.queryExecution()
    plan = qe.optimizedPlan()
    node = plan
    while True:
        name = node.getClass().getSimpleName()
        if name in _CHOSEN_LAYOUT:
            return df
        if name not in _NARROW:
            break
        node = node.child()
    if _UNSIZED.search(plan.treeString()):
        return df
    size = int(plan.stats().sizeInBytes())
    jspark = qe.sparkSession()
    split = -(-size // jspark.sessionState().conf().filesOpenCostInBytes())
    n = max(-(-size // TARGET_FILE_BYTES), min(split, jspark.sparkContext().defaultParallelism()))
    return df if n > 2**31 - 1 else df.coalesce(max(1, n))


def check_expectations(
    spark: SparkSession,
    table: ManifestTable,
    staged: str,
    expectations: list[tuple[str, str]],
    schema: dict | None = None,
) -> None:
    """CHECK-constraint enforcement at the commit boundary (the Delta
    constraints model): violations abort BEFORE publish, so no reader
    can ever observe a snapshot breaking the contract — the staged
    files stay invisible orphans for ``vacuum``. Checked on the STAGED
    bytes (not the input plan), so what was validated is exactly what
    would publish. A commit that breaks nothing pays one scan for a
    single violating row (a filtered limit, no exchange); only when it
    finds one do all constraints count their violations, in one
    aggregate scan, for the error. A condition that evaluates to NULL
    is not a violation. ``schema`` is the staged files' data schema:
    given, the scan plans without inferring it."""
    from functools import reduce

    from pyspark.sql import functions as _F

    staged_df = _reader(spark, schema).parquet(f"{table.root}/{staged}")
    broken = [~_F.expr(cond) for _, cond in expectations]
    if not staged_df.where(reduce(lambda a, b: a | b, broken)).limit(1).collect():
        return
    checks = staged_df.agg(
        *[_F.count(_F.when(b, 1)).alias(name) for b, (name, _) in zip(broken, expectations)]
    ).collect()[0]
    violated = {name: int(checks[name]) for name, _ in expectations if checks[name]}
    raise ValueError(
        f"commit rejected: constraint violations {violated} "
        f"(staged under {staged}, unpublished)"
    )


def write_and_commit(
    df: DataFrame,
    table: ManifestTable,
    mode: str = "overwrite",
    meta: dict | None = None,
    stats: bool = False,
    partition_by: list[str] | None = None,
    bloom_columns: list[str] | None = None,
    expectations: list[tuple[str, str]] | None = None,
    hidden_partition: dict[str, tuple] | None = None,
    wap_id: str | None = None,
    branch: str | None = None,
) -> int:
    """Write ``df`` to a fresh staging directory under the table root,
    then publish it as one atomic snapshot commit. The staging dir name
    is unique per attempt, so a crashed writer leaves only invisible
    orphans for ``vacuum``. With ``stats=True`` the commit records
    per-file column min/max zone maps in the manifest meta
    (``file_stats``) so ``read_pruned`` can skip files; with
    ``bloom_columns`` it additionally records per-file Bloom filters
    over those columns (point-lookup pruning where zone maps can't
    help); with ``partition_by`` the staged write is hive-partitioned
    (the partition dirs ride along in the committed relative paths);
    with ``expectations`` ([(name, sql_condition), ...]) the commit is
    REJECTED if any staged row violates a condition — CHECK
    constraints enforced at the publish boundary.

    The commit stages ceil(estimated bytes / ``TARGET_FILE_BYTES``)
    files, or one per core when the bytes would fill that many of
    Spark's read splits, so an append of a few MiB is one file; a
    ``df`` the caller repartitioned (``repartition(k)``,
    ``repartitionByRange``) or sorted keeps its layout.

    ``hidden_partition`` ({name: (kind, src_col[, param])}) is
    Iceberg-style HIDDEN partitioning: the table is laid out by a
    TRANSFORM of a source column — ``("days", col)``, ``("month",
    col)``, ``("truncate", col, N)``, ``("bucket", col, N)`` — without
    the user ever seeing (or filtering on) the derived column. Reads
    drop it; ``prune_plan`` maps predicates on the SOURCE column to
    the transformed dir values, so ``o_orderdate >= X`` prunes month
    dirs and ``o_custkey = k`` prunes to one bucket. The frame is
    repartitioned on the transform columns first, so each dir is
    written by exactly one task (one file per partition dir —
    deterministic layout, no small-file spray).

    ``wap_id`` stages the commit as a write-audit-publish snapshot
    (Iceberg WAP): the data lands and is time-travel-readable at the
    returned version, but main readers, the table's stream, and later
    commits do NOT see it until ``table.publish_wap(wap_id=...)``
    promotes it (an audit failure instead calls ``abort_wap``).
    ``branch`` targets the commit at a named branch created by
    ``table.create_branch``: it chains off the BRANCH head (invisible
    to main like a staged snapshot) until ``table.fast_forward``
    publishes the whole branch line."""
    partition_by = list(partition_by or [])
    stored_specs: dict[str, list] | None = None
    if hidden_partition:
        dtypes = dict(df.dtypes)
        stored_specs = {}
        for name, spec in hidden_partition.items():
            entry = list(spec)
            if entry[0] == "bucket" and len(entry) == 3 and entry[1] in dtypes:
                # record the SOURCE column type so prune-side int probes
                # can verify their str() rendering matches the CAST the
                # write-side md5 hashed (exact only for integer types)
                entry.append(dtypes[entry[1]])
            stored_specs[name] = entry
        df = _with_hidden_columns(df, hidden_partition)
        partition_by += list(hidden_partition)
        meta = {**(meta or {}), "hidden_partitions": stored_specs}
    if mode == "append":
        _check_append_layout(table, stored_specs, branch)
    elif mode != "overwrite":
        raise ValueError(f"unsupported mode {mode!r}")
    files, staged_meta = table._stage(
        df, "data", partition_by, expectations, stats=stats, bloom_columns=bloom_columns
    )
    meta = {**(meta or {}), **staged_meta}
    if mode == "append":
        # the parent's zone maps / blooms carry forward at publish time
        # (_carry_skipping_meta), against the LIVE parent rather than a
        # pre-staging snapshot read; the layout check above re-runs
        # against that parent inside the commit build
        return table.commit_append(files, meta, wap_id=wap_id, branch=branch)
    if not files:
        raise ValueError(f"nothing staged for {table.root}")
    return table._commit_with_retry(files, "overwrite", meta, wap_id=wap_id, branch=branch)


def _with_hidden_columns(df: DataFrame, specs: dict) -> DataFrame:
    """``df`` plus one derived column per hidden-partition spec
    ({name: (kind, src[, param])}), repartitioned on those columns so
    each partition dir is written by exactly one task (one file per
    dir — deterministic layout, no small-file spray)."""
    for name, spec in specs.items():
        param = spec[2] if len(spec) > 2 else None
        df = df.withColumn(name, hidden_transform_expr(spec[0], spec[1], param))
    return df.repartition(*specs)


def _check_append_layout(
    table: ManifestTable, specs: dict | None, branch: str | None = None
) -> None:
    """Staging-time check that an append CONFORMS to the live hidden-
    partition layout (``specs``: the append's stored spec map, None for
    a plain append); raises ``ValueError`` before any byte is staged. A
    different transform or bucket source type under the same name
    hashes the same probe into different dirs per commit, a new hidden
    column breaks the by-name union every read performs, and a subset
    layout or a plain append lands files that source-predicate pruning
    silently skips. Adopt or change a layout via overwrite;
    :meth:`ManifestTable.commit_append` re-verifies at commit time.

    The reference is the COMMIT TARGET's head: a branch may have
    adopted another layout via overwrite, so a branch append conforms
    to the branch head; a WAP append without a branch publishes onto
    main and conforms to main."""
    ref_version = table.branch_head(branch) if branch is not None else table.current_version()
    try:
        head_hp = (
            table.read_manifest(ref_version).meta.get("hidden_partitions")
            if ref_version is not None
            else None
        ) or {}
    except FileNotFoundError:
        head_hp = {}
    if not specs:
        if head_hp:
            raise ValueError(
                f"table has a hidden-partition layout {_layout_key(head_hp)} — a "
                "plain append would land un-transformed files that source-"
                "predicate pruning silently skips; append with a conforming "
                "hidden_partition= or replace the layout via overwrite"
            )
        return
    for name, entry in specs.items():
        old = head_hp.get(name)
        if old is None:
            if head_hp or ref_version is not None:
                raise ValueError(
                    f"append introduces hidden partition {name!r} the "
                    f"table does not have — adopt a layout via overwrite"
                )
            continue
        if tuple(old[:3]) != tuple(entry[:3]):
            raise ValueError(
                f"hidden partition {name!r} spec {tuple(entry[:3])} does not "
                f"match the table's {tuple(old[:3])} — appends must conform; "
                "change the layout via overwrite"
            )
        if entry[0] == "bucket" and len(old) > 3 and len(entry) > 3 and old[3] != entry[3]:
            raise ValueError(
                f"bucket source column {entry[1]!r} is {entry[3]} here but "
                f"{old[3]} in the table — CAST renderings differ, the same "
                "key would land in different buckets per commit"
            )
    missing = set(head_hp) - set(specs)
    if missing:
        # a strict-subset layout would otherwise pass (every OWN spec
        # matched) and then always die in the commit-build re-verify
        # with a race error — refuse it here with the conformance message
        raise ValueError(
            f"append omits hidden partition(s) {sorted(missing)} the "
            "table has — appends must conform to the FULL live "
            "layout; change the layout via overwrite"
        )


def compact_and_commit(
    spark: SparkSession,
    table: ManifestTable,
    target_file_bytes: int = TARGET_FILE_BYTES,
    zorder_by: tuple[str, str] | None = None,
    stats: bool | None = None,
    prefix: str | None = None,
    partition_values: dict[str, str] | None = None,
    branch: str | None = None,
) -> int | None:
    """Atomic small-file compaction of a manifest table: rewrite the
    current snapshot into ceil(total_bytes/target) files and publish as
    one commit. Readers flip from the old file set to the new one
    atomically — the manifest-table answer to `compact.do_auto_coalesce`
    whose directory swap has a non-atomic window on object stores
    (reference: Coalesce.scala:33-46 has the same window; SafetyFuse
    only protects the writer's rerun).

    Returns the committed version, or None when there is nothing to
    do: the files would not shrink in number and, for a full rewrite,
    no merge-on-read delete vector is live. A live vector makes every
    read pay its anti-join, so a full rewrite materializes it even on a
    single-file snapshot. Old files stay until ``vacuum`` — time travel
    keeps working.

    Concurrency: the rewrite replaces the files it compacted through
    :meth:`ManifestLog.commit_rewrite` — a full rewrite is the scope
    of every file. Racing appends carry forward, and so does a racing
    delete vector while a carried file survives to keep it in force
    (the compacted rows never re-insert a key); a racing rewrite of
    the compacted files aborts.

    ``zorder_by=(c1, c2)`` re-clusters the rewrite on the Morton curve
    of the two columns (range-partition + sort on the interleaved-bit
    key, ``scale.zorder_key``) — Delta's OPTIMIZE ZORDER: every output
    file covers a small rectangle of the 2-D space, so footer/zone-map
    stats prune on BOTH columns. A zorder rewrite runs even when the
    file count would not shrink (it is a re-layout, not just a merge).

    Data-skipping metadata SURVIVES compaction: when the source
    snapshot carried ``file_stats``/``bloom_index`` (or ``stats=True``
    forces it), the rewrite recollects them for the new files —
    without this, OPTIMIZE would silently turn a pruning table into a
    scan-everything table. A racing append's carried files keep
    whatever entries the racer committed (``_carry_skipping_meta``
    merges them at publish); a stats-less racer's files just stay
    unpruned — an optimization, never a correctness filter.

    ``prefix`` scopes the rewrite to the files under one relative-path
    prefix (a hive partition dir, a stream-batch staging family) — the
    OPTIMIZE ... WHERE a 100 TB table actually runs: one partition's
    small files merge/re-cluster while the other 99.99% of the table
    is untouched metadata. Unlike the full rewrite, a partial rewrite
    RETAINS the other parent files, so merge-on-read delete vectors
    stay in force for the whole snapshot (the rewritten files simply
    no longer contain the deleted keys).

    ``partition_values`` scopes by hive PARTITION IDENTITY instead of
    path: {"bucket": "3"} matches every file whose k=v dir segments
    include bucket=3, ACROSS staging dirs — the shape appends create
    (each commit stages its own top dir, so one partition's files
    never share a path prefix). Same scoped-rewrite semantics as
    ``prefix``; combinable (both must match).

    ``branch`` runs the OPTIMIZE against a named branch's head and
    publishes it as a branch commit (Iceberg branch maintenance): a
    long-lived backfill branch keeps its small files compacted without
    touching main, the rewrite reconciling against racing commits on
    the SAME branch exactly as it would on main. A branch compaction
    removes fork-base files from the branch's view, so a later
    ``fast_forward`` is (correctly) the replace-flavored op.
    """
    m = table.read_head(branch)
    scoped = prefix is not None or partition_values is not None

    def _in_scope(f: str) -> bool:
        if prefix is not None and not f.startswith(prefix):
            return False
        if partition_values is not None:
            # segments arrive DECODED (logical values; None = hive null
            # sentinel), so user-supplied values compare directly —
            # {"k": "a:b"} matches the k=a%3Ab dir Spark wrote, and
            # {"k": None} addresses the default partition. A missing
            # segment never matches (None would alias it to null).
            segs = dict(_hive_segments_of(f))
            for k, v in partition_values.items():
                if k not in segs:
                    return False
                if segs[k] != (None if v is None else str(v)):
                    return False
        return True

    matched = [f for f in m.files if _in_scope(f)]
    if not matched:
        return None
    relayout = zorder_by is not None or (not scoped and bool(m.meta.get("delete_vectors")))
    if len(matched) < 2 and not relayout:
        return None
    import pyarrow.fs as pafs

    total = 0
    for f in matched:
        info = table.fs.get_file_info(f"{table.root_path}/{f}")
        if info.type == pafs.FileType.File:
            total += info.size or 0
    n = max(1, -(-total // target_file_bytes))  # ceil
    if n >= len(matched) and not relayout:
        return None  # files already at/above target size
    if not scoped:
        src_df = table.read(spark, version=m.version)
    else:
        # the scoped subset, partition columns recovered and the
        # snapshot's delete vectors applied (materialized for the
        # rewritten files; they stay carried for the rest of the table).
        # The evolution log replays here too: a scoped rewrite over a
        # partition whose files straddle a rename would otherwise union
        # two spellings of the same column (hard error) or anti-join
        # vectors against the wrong names — the rewrite stages LOGICAL
        # names (drops materialized), which later replays leave intact.
        src_df = table._read_files(spark, m, matched)
    if zorder_by is not None:
        from pyspark.sql import functions as _F

        from octopufs_spark.scale import zorder_key

        c1, c2 = zorder_by

        evo_events = m.meta.get("schema_evolution", [])

        def _bounds_from_zone_maps(col: str) -> tuple | None:
            # global min/max from the snapshot's own zone maps when
            # EVERY file has stats for the column — saves the pre-scan.
            # Stats recorded before a rename are keyed by the old name;
            # the alias chain resolves the logical clustering column to
            # whichever spelling each file's stats carry.
            st = m.meta.get("file_stats") or {}
            aliases = _alias_chain(col, evo_events)
            los, his = [], []
            for f in matched:
                e = st.get(f)
                a = next((a for a in aliases if e and a in e.get("min", {})), None)
                if a is None:
                    return None
                lo, hi = e["min"][a], e["max"][a]
                # zorder normalization needs numerics; stats may hold
                # canon()-stringified dates — those fall back to the scan
                if isinstance(lo, bool) or not isinstance(lo, (int, float)):
                    return None
                los.append(lo)
                his.append(hi)
            return (min(los), max(his)) if los else None

        b1, b2 = _bounds_from_zone_maps(c1), _bounds_from_zone_maps(c2)
        if b1 is not None and b2 is not None:
            b = [b1[0], b1[1], b2[0], b2[1]]
        else:
            b = src_df.agg(_F.min(c1), _F.max(c1), _F.min(c2), _F.max(c2)).collect()[0]
        if b[0] is None or b[2] is None:  # all-NULL/empty snapshot
            src_df = src_df.coalesce(n)
        else:
            key = zorder_key(_F.col(c1), _F.col(c2), b[0], b[1], b[2], b[3])
            src_df = (
                src_df.withColumn("_z", key)
                .repartitionByRange(n, "_z")
                .sortWithinPartitions("_z")
                .drop("_z")
            )
    else:
        src_df = src_df.coalesce(n)
    if partition_values is not None:
        # an all-null (hive default) partition's recovered column
        # infers as VOID, which partitionBy rejects — render it as a
        # nullable string (the dir-name form is identical either way)
        from pyspark.sql import functions as _F

        for k, dt in src_df.dtypes:
            if k in partition_values and dt == "void":
                src_df = src_df.withColumn(k, _F.col(k).cast("string"))
    # a partition-scoped rewrite keeps the hive layout: it re-stages
    # under k=v dirs so the partition identity survives (a later
    # auto_optimize pass still groups these files with their partition)
    staged_files, meta = table._stage(
        src_df,
        "compact",
        partition_by=list(partition_values) if partition_values is not None else None,
        stats=stats if stats is not None else bool(m.meta.get("file_stats")),
        bloom_columns=list(m.meta.get("bloom_index", {})),
    )
    meta["target_file_bytes"] = target_file_bytes
    if zorder_by is not None:
        meta["zorder_by"] = list(zorder_by)
    if prefix is not None:
        meta["compacted_prefix"] = prefix
    if partition_values is not None:
        meta["compacted_partition"] = dict(partition_values)
    return table.commit_rewrite(m, matched, staged_files, "compact", meta, branch=branch)


def auto_optimize(
    spark: SparkSession,
    table: ManifestTable,
    target_file_bytes: int = TARGET_FILE_BYTES,
    min_files: int = 8,
    zorder_by: tuple[str, str] | None = None,
    stats: bool | None = None,
    branch: str | None = None,
) -> dict[str, int]:
    """Table-maintenance policy: compact every hive partition whose
    live file count reached ``min_files``, one scoped commit per
    partition (the Delta OPTIMIZE loop). Grouping is by partition
    IDENTITY (k=v segments), so files of one partition spread across
    many append commits' staging dirs compact together. Unpartitioned
    snapshots compact whole. Each partition is its own commit —
    readers see progress incrementally, a conflict aborts only that
    partition's rewrite, and the commits parallelize across tables.
    Returns {partition: committed version} for the work actually done.
    ``branch`` runs the whole policy against a branch's head (each
    partition's rewrite publishing as a branch commit).
    """
    m = table.read_head(branch)
    groups: dict[tuple, list[str]] = {}
    for f in m.files:
        groups.setdefault(tuple(_hive_segments_of(f)), []).append(f)
    if set(groups) == {()}:
        v = compact_and_commit(
            spark, table, target_file_bytes, zorder_by=zorder_by, stats=stats,
            branch=branch,
        )
        return {"<table>": v} if v is not None else {}
    out: dict[str, int] = {}
    # segment values may be None (the decoded __HIVE_DEFAULT_PARTITION__
    # sentinel) — sort null partitions first rather than letting
    # None-vs-str comparison TypeError abort table maintenance
    def sort_key(key: tuple) -> tuple:
        return tuple((k, v is not None, "" if v is None else v) for k, v in key)

    for key, files in sorted(groups.items(), key=lambda kv: sort_key(kv[0])):
        if not key or len(files) < min_files:
            continue  # unpartitioned strays in a mixed layout: leave them
        v = compact_and_commit(
            spark,
            table,
            target_file_bytes,
            zorder_by=zorder_by,
            stats=stats,
            partition_values=dict(key),
            branch=branch,
        )
        if v is not None:
            out["/".join(f"{k}={val if val is not None else _HIVE_NULL}" for k, val in key)] = v
    return out


def promote_table_to_manifest(
    spark: SparkSession,
    source_table: str,
    table: ManifestTable,
    meta: dict | None = None,
) -> int:
    """Promote a catalog table into a manifest table by FILE COPY plus
    one atomic commit — promotion semantics (bytes move, nothing is
    recomputed or rewritten; reference: copyFilesBetweenTables,
    Promotor.scala:114) with reader atomicity the directory-swap
    promotor can't give. The copy fans out one file per Spark task
    (fs/distributed.py); a failed promotion leaves only an uncommitted
    staging dir for ``vacuum``.
    """
    from octopufs_spark.catalog import get_table_location
    from octopufs_spark.fs.distributed import copy_folder

    src = get_table_location(spark, source_table)
    staged = f"promote-{uuid.uuid4().hex[:12]}"
    results = copy_folder(spark, src, f"{table.root}/{staged}")
    failed = [r for r in results if not r.success]
    if failed:
        raise RuntimeError(
            f"promotion copy failed for {len(failed)} file(s), e.g. {failed[0].path}"
        )
    return table.commit_overwrite(
        staged, operation="promote", meta={"source": source_table, **(meta or {})}
    )


def clone_table(
    src: ManifestTable, dest_root: str, version: int | None = None
) -> ManifestTable:
    """Zero-copy table clone: a NEW manifest table whose v1 names the
    source snapshot's files — data files and delete-vector payloads are
    HARD LINKED on local-backed stores (one metadata op per file, no
    bytes move; at 100 TB a clone is O(files), not O(bytes)), streamed
    copies elsewhere (the stand-in for an object store's server-side
    copy). Unlike Delta's shallow clones — which break when the source
    vacuums, because the clone's log points INTO the source's
    directory — a link is an independent name on the same inode: the
    source vacuuming (or being deleted outright) never invalidates the
    clone, and neither table's writes are visible to the other. All
    snapshot metadata carries: delete vectors keep applying, zone
    maps/Blooms keep pruning, the schema-evolution log keeps replaying,
    and stream high-water marks carry so an idempotent writer resumed
    against the clone will not double-apply batches it already
    delivered to the source."""
    import os as _os

    import pyarrow.fs as pafs

    m = src.read_manifest(version)
    # a clone of a half-vacuumed snapshot would publish dangling refs
    src._check_not_vacuumed(m)
    dest = ManifestTable(dest_root)
    if dest.latest_version() is not None:
        raise FileExistsError(f"{dest_root} already has commits; clone needs a fresh root")
    rels = list(m.files)
    for dv in m.meta.get("delete_vectors", []):
        sub = dv["path"].rstrip("/")
        info = src.fs.get_file_info(f"{src.root_path}/{sub}")
        if info.type == pafs.FileType.File:
            rels.append(sub)
        else:
            rels.extend(
                el.path[len(src.root_path) + 1 :]
                for el in list_tree(f"{src.root}/{sub}")
                if not el.is_dir
            )
    linkable = isinstance(src.fs, pafs.LocalFileSystem) and isinstance(
        dest.fs, pafs.LocalFileSystem
    )
    for rel in rels:
        s = f"{src.root_path}/{rel}"
        d = f"{dest.root_path}/{rel}"
        dest.fs.create_dir(_os.path.dirname(d), recursive=True)
        try:
            if linkable:
                try:
                    _os.link(s, d)
                    continue
                except FileNotFoundError:
                    raise
                except OSError:
                    pass  # cross-device or link-less fs: fall through to copy
            copy_bytes(src.fs, s, dest.fs, d)
        except FileNotFoundError:
            # a vacuum deleted a source file between the manifest read
            # and this link/copy: fail TYPED and loud — the clone never
            # committed, so the half-linked dest is inert staging for
            # cleanup, never a live table with dangling refs
            raise SnapshotVacuumedError(src.root, m.version, [rel]) from None
    # WAP/branch markers don't travel: cloning an explicitly-named
    # staged or branch snapshot produces a NORMAL table (a staged v1
    # would leave the clone with no readable main head at all)
    meta = _strip_ref_markers(m.meta)
    dest._commit_with_retry(list(m.files), "clone", {**meta, "clone_source": src.root})
    return dest


def _max_committed_stream_batch(
    table: ManifestTable, writer_id: str, version: int | None = None
) -> int | None:
    """Highest batch id committed by ``writer_id``, or None.

    O(1): every commit carries the full per-writer high-water map
    forward (``_carry_stream_txn``, the Delta ``SetTransaction``
    model), so the answer is in its LINEAGE HEAD manifest — no parent
    walk, no O(versions) work per micro-batch, and vacuum pruning any
    amount of history cannot reset a writer's mark (the failure mode
    of walking the chain: a pruned walk answering "nothing committed"
    would let a replayed batch append its rows a second time).

    The anchor is the MAIN head (``current_version``), or an explicit
    ``version`` for branch-targeted writers — NOT ``latest_version``:
    the newest manifest may be a branch commit whose carried map is
    the branch lineage's fork-time copy, missing main marks landed
    since the fork, and a miss here means a replayed batch lands
    twice. Tables predating the txn map fall back to a parent walk
    over retained manifests; a transient read error PROPAGATES —
    failing the micro-batch (safe: checkpoint recovery retries it)
    instead of being mistaken for "nothing committed"."""
    if version is not None:
        m = table.read_manifest(version)
    else:
        m = table._main_manifest_at_or_below(table.latest_version())
        if m is None:
            return None
    if "stream_txn" in m.meta:
        return m.meta["stream_txn"].get(writer_id)
    # legacy fallback: tables whose commits predate the txn map
    while True:
        if (
            m.operation == "stream-append"
            and "batch_id" in m.meta
            and m.meta.get("writer_id", "default") == writer_id
        ):
            return m.meta["batch_id"]
        if m.parent is None:
            return None
        try:
            m = table.read_manifest(m.parent)
        except FileNotFoundError:
            return None  # chain pruned before any legacy stream commit


def manifest_stream_writer(
    stream_df: DataFrame,
    table: ManifestTable,
    writer_id: str = "default",
    expectations: list[tuple[str, str]] | None = None,
):
    """Stream sink: land every micro-batch as one atomic manifest
    append commit (``foreachBatch``), giving readers exactly-once
    VISIBLE snapshots — a plain file sink makes in-flight files
    observable; here a batch's files appear all-or-nothing.

    Exactly-once across restarts: ``(writer_id, batch_id)`` is
    recorded in the commit meta, and a replayed batch (checkpoint
    recovery re-runs the last uncommitted-to-sink batch) is detected
    by finding the writer's newest committed id ≥ the incoming one and
    skipped — the Delta ``txnAppId``/``txnVersion`` idempotent-sink
    contract, with the manifest log doubling as the transaction log.
    The contract's obligation travels WITH the checkpoint: batch ids
    restart from 0 when a query starts over with a FRESH checkpoint,
    so a fresh checkpoint must come with a fresh ``writer_id`` —
    otherwise the old incarnation's high-water mark (which every
    commit carries forward, surviving overwrites and vacuum) silently
    swallows the new stream's early batches, exactly as in Delta.
    Appends must conform to the hidden-partition layout: micro-batches
    land as plain files, so a table with a hidden layout refuses them
    (the batch fails before staging any byte) — feed such a table
    through ``write_and_commit(..., hidden_partition=...)``.
    Returns a DataStreamWriter; caller starts it with its checkpoint
    location.
    """

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        _commit_stream_batch(table, batch_df, batch_id, writer_id, expectations)

    return stream_df.writeStream.foreachBatch(commit_batch)


def _commit_stream_batch(
    table: ManifestTable,
    batch_df: DataFrame,
    batch_id: int,
    writer_id: str,
    expectations: list[tuple[str, str]] | None = None,
) -> None:
    """One micro-batch → one atomic append commit, idempotent on
    (writer_id, batch_id). The replay check runs TWICE: a cheap
    pre-check (skip before staging any bytes), and again atomically in
    the commit loop against the live parent (``txn``) — two zombie
    instances of the same writer replaying one batch can both pass the
    pre-check, and only the atomic check-and-commit (Delta's txnAppId
    model) stops the loser from landing the batch a second time. The
    loser's staged files stay uncommitted for ``vacuum``, like any
    crashed writer's. The batch is a plain append, so a table with a
    hidden-partition layout refuses it (:func:`_check_append_layout`)
    before any byte is staged."""
    committed = _max_committed_stream_batch(table, writer_id)
    if committed is not None and committed >= batch_id:
        return  # replayed batch: already committed by this writer
    _check_append_layout(table, None)
    # a violating micro-batch fails the query BEFORE publish (the Delta
    # constraints model); checkpoint recovery replays the batch once
    # the data contract is repaired
    files, meta = table._stage(batch_df, f"batch-{batch_id}", expectations=expectations)
    table.commit_append(files, meta, operation="stream-append", txn=(writer_id, batch_id))


def promote_partitions_to_manifest(
    spark: SparkSession,
    source_table: str,
    match_strings: list[str],
    table: ManifestTable,
    meta: dict | None = None,
) -> int:
    """Partition-level promotion into a manifest table: copy the files
    of substring-matched partitions of a catalog table (reference
    semantics: copyOverwritePartitions, Promotor.scala:259-277 —
    replace those partitions at the target, leave the rest untouched),
    then publish ONE commit that swaps exactly the matched partition
    prefixes. Readers never see a half-replaced partition; a failed
    copy aborts with nothing committed.

    Concurrency: the commit replaces the matched partitions' files it
    read (:meth:`ManifestLog.commit_rewrite`). A racing append carries
    forward even into a promoted partition — the promote-then-append
    order — and a racing rewrite of those files aborts.
    """
    from octopufs_spark import catalog
    from octopufs_spark.fs.distributed import copy_folder

    parts = catalog.filter_partitions(spark, source_table, match_strings)
    if not parts:
        raise ValueError(f"no partitions of {source_table} match {match_strings}")
    src_loc = catalog.get_table_location(spark, source_table).rstrip("/")
    staged = f"promote-{uuid.uuid4().hex[:12]}"
    part_names = []
    for p in parts:
        name = p.rstrip("/").rsplit("/", 1)[-1]  # e.g. year=2024
        part_names.append(name)
        results = copy_folder(spark, f"{src_loc}/{name}", f"{table.root}/{staged}/{name}")
        failed = [r for r in results if not r.success]
        if failed:
            raise RuntimeError(f"copy failed for partition {name}: {failed[0].path}")

    head = table.current_version()  # main lineage: staged WAP content is not ours to replace
    read = table.read_manifest(head) if head is not None else None
    # a file belongs to partition `year=2024` iff that path segment
    # appears in its root-relative path (staging prefixes don't
    # collide: they never contain '=')
    replaced = [f for f in (read.files if read else []) if set(f.split("/")) & set(part_names)]
    return table.commit_rewrite(
        read,
        replaced,
        table._data_files_under(staged),
        "promote-partitions",
        {"source": source_table, "partitions": part_names, **(meta or {})},
    )
