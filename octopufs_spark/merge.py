"""MERGE / upsert semantics over immutable parquet snapshots.

The reference promotes whole tables/partitions (Promotor.scala); the
natural next granularity a production pipeline needs is row-level
MERGE (CDC upsert): new rows inserted, matched rows replaced,
unmatched target rows carried forward. Spark has no MERGE INTO for
plain parquet, but the semantics decompose into one anti-join plus a
union — and with a manifest commit the rewritten snapshot publishes
atomically (readers see old or new, never a mix).

Plan shape: ONE shuffle of the target on the merge keys (the
anti-join); the source is usually a small changeset and broadcasts.
At 100 TB the win comes from partition pruning the carried-forward
side: pass ``partition_pruning_filter`` to rewrite only affected
partitions (copy-on-write at partition granularity, same model as
Delta/Iceberg COW).

A manifest MERGE stages its rewrite through ``ManifestTable._stage``:
ceil(estimated bytes / ``manifest.TARGET_FILE_BYTES``) files (with
``partition_by``, up to that many per partition dir), or one per core
once the bytes fill that many of Spark's read splits, so a merge into
a small table publishes one file, however many partitions its input
had. A repartition the caller chose is respected by ``_stage``, but the
merged frame is a union this module builds, so a repartition of
``source`` does not carry into the staged layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from octopufs_spark.manifest import ManifestTable, _as_nullable, _reader, _right_sized
from octopufs_spark.manifest_log import ConcurrentModificationError


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    deletes: DataFrame | None = None,
) -> DataFrame:
    """Relational MERGE: rows of ``source`` win on key collision,
    unmatched ``target`` rows are kept; keys present in ``deletes``
    (a key-columns-only DataFrame) are removed — the full CDC
    insert/update/delete triple.

    Columns must match; the result is ``target ANTI JOIN (source keys
    ∪ delete keys) UNION ALL source``. Broadcast of the changeset is
    left to Catalyst/AQE (changesets are small; a 100 TB target never
    re-shuffles more than once, on the merge keys).
    """
    if set(target.columns) != set(source.columns):
        raise ValueError(
            f"schema mismatch: target {sorted(target.columns)} vs "
            f"source {sorted(source.columns)}"
        )
    gone = source.select(*keys)
    if deletes is not None:
        gone = gone.unionByName(deletes.select(*keys))
    kept = target.join(gone, keys, "left_anti")
    return kept.unionByName(source)


def merge_scd2(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Slowly-changing-dimension Type 2 MERGE: history is preserved as
    validity intervals instead of overwritten.

    ``target`` rows carry [``valid_from``, ``valid_to``) with NULL
    ``valid_to`` marking the current version. ``source`` rows carry the
    business columns plus ``valid_from`` (the change time; one change
    per key per batch). Matched keys' current rows are CLOSED
    (``valid_to`` := source change time), every source row is appended
    as the new open version, and historical rows pass through
    untouched. One shuffle of the target on the merge keys; the
    changeset broadcasts.
    """
    expected = set(target.columns) - {valid_to}
    if set(source.columns) != expected:
        raise ValueError(
            f"source must have target's columns minus {valid_to!r}: "
            f"expected {sorted(expected)}, got {sorted(source.columns)}"
        )
    change_at = source.select(*keys, F.col(valid_from).alias("_change_at"))
    closed = (
        target.join(change_at, keys, "left")
        .withColumn(
            valid_to,
            F.when(
                F.col("_change_at").isNotNull() & F.col(valid_to).isNull(),
                F.col("_change_at"),
            ).otherwise(F.col(valid_to)),
        )
        .drop("_change_at")
    )
    new_open = source.withColumn(valid_to, F.lit(None).cast(dict(target.dtypes)[valid_to]))
    return closed.unionByName(new_open)


def merge_upsert_manifest(
    spark: SparkSession,
    table: ManifestTable,
    source: DataFrame,
    keys: list[str],
    deletes: DataFrame | None = None,
    expectations: list[tuple[str, str]] | None = None,
    txn: tuple[str, int] | None = None,
    partition_by: list[str] | None = None,
    branch: str | None = None,
) -> int | None:
    """MERGE a changeset into a manifest table atomically: read the
    current snapshot, apply :func:`merge_upsert`, stage the merged
    rows, publish ONE commit. Readers flip from the pre-merge to the
    post-merge snapshot in a single manifest version; a crashed merge
    leaves only an uncommitted staging dir for ``vacuum``.

    Concurrency: the merge replaces every file it read through
    :meth:`ManifestLog.commit_rewrite`, so a racing append carries
    forward and a racing rewrite of those files aborts. It may
    re-insert keys, so a racing append aborts while an equality vector
    of the merged snapshot is live (positional vectors name only the
    files the merge replaced, and do not block it).

    ``txn=(writer_id, batch_id)`` makes the merge IDEMPOTENT on that
    pair (the Delta txnAppId model): a replayed micro-batch whose id
    the table already carries is skipped — checked cheaply up front
    and again atomically in the commit loop, so two zombie instances
    of one stream cannot both land a batch. Returns None when
    skipped. This is what makes a foreachBatch MERGE sink
    exactly-once: MERGE is not naturally idempotent under replay."""
    from octopufs_spark.manifest import _max_committed_stream_batch

    if txn is not None:
        committed = _max_committed_stream_batch(
            table, txn[0], version=table.branch_head(branch) if branch else None
        )
        if committed is not None and committed >= txn[1]:
            return None  # replayed batch: already merged by this writer
    # FNF means "empty table: pure insert" ONLY for the manifest
    # resolution itself — a missing BRANCH must raise (typo'd name, not
    # an empty table), and an error reading the resolved snapshot's
    # data (vacuum racing the read) must propagate: treating it as
    # empty would skip the upsert's anti-join and publish updated keys
    # TWICE (old row in a carried file, new row in the staged rewrite).
    head = table.branch_head(branch) if branch is not None else None
    try:
        src = table.read_manifest(head) if head is not None else table.read_manifest()
    except FileNotFoundError:
        src = None  # first batch into an empty table: pure insert
        target = None
    if src is not None:
        # the freshly resolved head: vacuum never removes its files, so
        # skip the per-file existence pre-check a time-traveled read
        # pays (a CDC sink would otherwise pay it per micro-batch)
        target = table.read(spark, version=src.version, check_vacuumed=False)
    # the anti-join puts the keys first: restore the table's column
    # order, so the staged files keep the schema the table's other
    # files have (and the snapshot keeps its recorded data schema)
    merged = (
        merge_upsert(target, source, keys, deletes=deletes).select(*target.columns)
        if target is not None
        else source
    )
    # partition_by keeps the hive layout through the rewrite: without it
    # a single MERGE flattens a partitioned table (identity lost,
    # auto_optimize degrades to whole-table, pruning to zone maps).
    # CHECK constraints hold on the post-merge snapshot (the merge
    # stages a full rewrite, so this validates everything a reader
    # would see); violations leave only staged orphans for vacuum
    staged_files, staged_meta = table._stage(merged, "merge", partition_by, expectations)
    return table.commit_rewrite(
        src,
        src.files if src is not None else [],
        staged_files,
        "merge",
        {"keys": keys, **staged_meta},
        inserts=True,
        branch=branch,
        txn=txn,
    )


def manifest_merge_stream_writer(
    stream_df: DataFrame,
    table: ManifestTable,
    keys: list[str],
    writer_id: str = "merge",
    expectations: list[tuple[str, str]] | None = None,
    partition_by: list[str] | None = None,
):
    """Streaming UPSERT sink: every micro-batch MERGEs into the
    manifest table as one atomic commit (``foreachBatch``), idempotent
    on (writer_id, batch_id) — the Delta foreachBatch-MERGE pattern.
    The append-only stream sink cannot express updates; this one
    applies a CDC stream with exactly-once effects across restarts and
    zombie instances. Like Delta's MERGE, a batch must carry at most
    one row per key (compact upstream with a max_by/window if the
    source can emit several changes per key per trigger) — duplicate
    source keys pass through as duplicate rows, per merge_upsert's
    contract. The resulting table is NOT streamable through
    manifest_stream (merge commits rewrite files — the same
    restriction Delta's source has), but is a normal batch/read_pruned
    table. Caller starts the returned writer with its checkpoint."""

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert_manifest(
            batch_df.sparkSession,
            table,
            batch_df,
            keys,
            expectations=expectations,
            txn=(writer_id, batch_id),
            partition_by=partition_by,
        )

    return stream_df.writeStream.foreachBatch(commit_batch)


def consolidate_delete_vectors(spark: SparkSession, table: ManifestTable) -> int | None:
    """Maintenance: fold accumulated key-granular delete vectors into
    ONE vector per key-column set, without touching any data file.
    Every MOR delete adds a broadcast anti-join to every subsequent
    read — after k deletes a scan plans k joins; consolidation returns
    the read plan to one. Publishes a commit with the SAME file set,
    the folded vector, and a ``replaced_vector_paths`` marker so the
    publish-time carry drops exactly the consumed vectors while a
    racing delete's new vector still carries. A racing rewrite that
    materialized-and-dropped a consumed vector aborts (re-adding the
    folded copy would re-shadow keys the rewrite legitimately freed
    for re-insertion). Old vector files stay for time travel until
    ``vacuum``. Returns the committed version, or None when there is
    nothing to fold."""
    import uuid as _uuid

    m = table.read_manifest()
    key_dvs = [dv for dv in m.meta.get("delete_vectors", []) if not dv.get("type")]
    groups: dict[tuple, list[dict]] = {}
    for dv in key_dvs:
        groups.setdefault(tuple(dv["keys"]), []).append(dv)
    staged_vectors: list[dict] = []
    replaced: list[str] = []
    for keys, dvs in sorted(groups.items()):
        if len(dvs) < 2:
            continue  # singleton: nothing to fold
        # one recorded schema for all of them reads without inferring
        schema = dvs[0].get("schema")
        if any(dv.get("schema") != schema for dv in dvs):
            schema = None
        union = _reader(spark, schema).parquet(*[f"{table.root}/{dv['path']}" for dv in dvs])
        path = f"dv-consolidated-{_uuid.uuid4().hex[:12]}"
        folded = union.select(*keys).distinct()
        folded.coalesce(1).write.parquet(f"{table.root}/{path}")
        staged_vectors.append(
            {"path": path, "keys": list(keys), "schema": _as_nullable(folded.schema.jsonValue())}
        )
        replaced.extend(dv["path"] for dv in dvs)
    if not staged_vectors:
        return None

    def build(parent):
        parent_paths = {
            dv["path"] for dv in (parent.meta.get("delete_vectors", []) if parent else [])
        }
        gone = [p for p in replaced if p not in parent_paths]
        if gone:
            raise ConcurrentModificationError(
                f"delete-vector consolidation of {table.root} raced a rewrite "
                f"that materialized {len(gone)} consumed vector(s) — re-run"
            )
        return list(parent.files) if parent else []

    return table._commit_with_retry(
        build,
        "dv-consolidate",
        {
            "delete_vectors": staged_vectors,
            "replaced_vector_paths": replaced,
            "consolidated": len(replaced),
        },
    )


def delete_where_mor(
    spark: SparkSession,
    table: ManifestTable,
    delete_keys: DataFrame,
    keys: list[str],
    branch: str | None = None,
) -> int:
    """MERGE-ON-READ delete (Delta deletion-vector / Iceberg
    equality-delete model): instead of rewriting every data file that
    contains a matching row (copy-on-write — what
    ``merge_upsert_manifest`` does), stage ONLY the deleted keys as a
    tiny parquet file and commit a new version whose DATA FILE SET IS
    UNCHANGED; the read path applies the delete vectors with an
    anti-join. At 100 TB this turns a delete touching 1% of rows
    spread over every file from a full-table rewrite into a
    KB-sized commit — compaction later reconciles (a rewrite commit
    drops the vectors).

    The key-granular vector is registered in the manifest meta
    (``delete_vectors``: list of {path, keys}); vectors accumulate
    across MOR deletes and each version applies exactly the vectors
    recorded up to it (time travel stays consistent).

    The vector is the key projection as given, duplicates included:
    reads anti-join it and the MV delta fold semi-joins it, and both
    ignore a repeated key, while :func:`consolidate_delete_vectors`
    folds with ``distinct``. Deduplicating here would cost a shuffle;
    instead the projection is right-sized like a staged write
    (``manifest._right_sized``), so a small delete writes one file.

    ``spark`` is unused (the vector is written by the delete_keys
    frame's own session; no driver-side scan happens here) — kept for
    signature symmetry with :func:`delete_where_mor_positional`, which
    genuinely scans."""
    import uuid

    dv_rel = f"_dv/dv-{uuid.uuid4().hex[:12]}.parquet"
    vector = _right_sized(delete_keys.select(*keys))
    vector.write.mode("errorifexists").parquet(f"{table.root}/{dv_rel}")

    def build(parent):
        if parent is None:
            raise ValueError("MOR delete requires an existing snapshot")
        return list(parent.files)

    # contribute ONLY the new vector: file_stats/blooms/evolution/
    # hidden layout all carry from the LIVE parent at publish time
    # (_carry_* helpers). Copying this snapshot's meta wholesale would
    # let a racing full rewrite's retired metadata resurface — the
    # carry helpers give meta entries precedence, so a stale copy of
    # hidden_partitions or untrimmed stats would override the truth.
    # the vector records its schema, so reads plan it without inferring
    schema = _as_nullable(vector.schema.jsonValue())
    meta = {"delete_vectors": [{"path": dv_rel, "keys": keys, "schema": schema}]}
    return table._commit_with_retry(build, "delete_mor", meta, branch=branch)


def delete_where_mor_positional(
    spark: SparkSession,
    table: ManifestTable,
    predicate: str,
) -> int:
    """POSITION-granular merge-on-read delete — the Delta deletion-
    vector bitmap model, vs :func:`delete_where_mor`'s Iceberg-style
    equality deletes. The current snapshot is scanned ONCE with the
    parquet reader's virtual ``_metadata.file_path``/``row_index``
    columns; rows matching ``predicate`` (a SQL condition string) are
    recorded as (relative file, row position) pairs in a tiny parquet
    vector, and a new version commits with the DATA FILE SET UNCHANGED.

    Why positions beat keys when the predicate identifies exact rows:

    - the vector is scoped to exactly the files scanned — a later
      append can re-insert identical values and they stay visible
      (equality vectors shadow re-inserts until compaction);
    - the read-side anti-join is on (file, position) — no dependence
      on key columns existing or being unique, and a sorted scan's
      shape survives (broadcast anti-join on virtual columns);
    - at 100 TB a delete touching 0.1% of rows commits KBs, and
      compaction later materializes it (rewrite commits retain no
      parent files, so `_carry_delete_vectors` drops the vector).

    Because the vector is FILE-scoped, a concurrent rewrite of the
    scanned files is a true conflict: if a compaction publishes
    between the scan and this commit, the vector would name files the
    new snapshot no longer reads — the commit would "succeed" while
    deleting nothing (a lost update). The commit therefore verifies at
    publish time that every scanned file is still in the parent
    snapshot and aborts with :class:`ConcurrentModificationError`
    otherwise (the same publish-time reconciliation
    ``compact_and_commit`` does from the other side; concurrent
    APPENDS add files the vector never references and pass through).
    """
    import uuid

    m = table.read_manifest()
    scanned = set(m.files)
    # evolution-aware grouped scan, positions annotated per group: the
    # predicate is written in LOGICAL column names — a flat multi-file
    # read samples one footer, so on a renamed table half the files
    # would surface NULL for the predicate column and silently escape
    # the delete; the grouped scan also recovers hive partition columns
    # so predicates on them work
    scan = table._scan_files(
        spark,
        m.files,
        annotate_positions=True,
        evolution=m.meta.get("schema_evolution"),
        schema=m.meta.get("data_schema"),
    )
    dv_rel = f"_dv/dvp-{uuid.uuid4().hex[:12]}.parquet"
    hits = scan.where(F.expr(predicate)).select(
        F.col("_dv_file").alias("file"),
        F.col("_dv_pos").cast("long").alias("pos"),
    )
    hits.write.mode("errorifexists").parquet(f"{table.root}/{dv_rel}")

    def build(parent):
        if parent is None:
            raise ValueError("MOR delete requires an existing snapshot")
        rewritten = scanned - set(parent.files)
        if rewritten:
            raise ConcurrentModificationError(
                f"positional delete on {table.root} conflicts with a "
                f"concurrent rewrite: {len(rewritten)} scanned file(s) "
                f"left the snapshot, e.g. {sorted(rewritten)[0]!r} — "
                "re-run the delete against the new snapshot"
            )
        return list(parent.files)

    # contribute ONLY the new vector — the LIVE parent's vectors,
    # stats, evolution log, and hidden layout all merge at publish
    # time via the _carry_* helpers. Pre-merging this snapshot's meta
    # would resurrect entries a racing rewrite had already retired
    # (see delete_where_mor).
    meta = {"delete_vectors": [{"path": dv_rel, "type": "positional"}]}
    return table._commit_with_retry(build, "delete_mor", meta)
