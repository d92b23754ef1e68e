"""Custom connectors via the Spark 4 Python Data Source API.

The reference's connector surface is filesystem-level (ADLS/DBFS copy,
reference: src/main/scala/.../fs/package.scala:23); a Spark-native
rebuild additionally gets to plug *logical* sources straight into the
scan planner. This module implements one end-to-end:

``synthgen`` — a deterministic synthetic-telemetry source
  * batch reader: N `InputPartition`s, each generating its id range as
    Arrow RecordBatches (vectorized numpy, zero Python-per-row work);
  * stream reader: offset-tracked micro-batches over the same row
    space (exactly-once replayable: offsets are row indices);
  * writer: partitioned JSON-lines sink with task-level commit
    messages (the two-phase commit shape real sinks use).

Generation is pure integer arithmetic on the row id, so any slice of
the stream is reproducible from its offsets alone — the property that
makes the source usable as a correctness fixture: a SQL engine can
recompute the identical rows from a `range()` table (see
queries/spark4.py::q_scan_python_ds).
"""

from __future__ import annotations

import json
import math
import os
import uuid
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from octopufs_spark.manifest_log import (
    _APPEND_OPS,
    _DROPPED_PREFIX,
    _NOOP_OPS,
    ManifestLog,
    _evolution_dtype,
    _hive_segments_of,
)

# Row-id → value formulas (Knuth multiplicative hash; all-integer, so
# every engine computes identical values — the double division by 100
# is a single IEEE op, bit-identical everywhere).
MULT = 2654435761
MOD = 1_000_000
N_DEVICES = 50


def _batch_for_range(start: int, end: int):
    import numpy as np
    import pyarrow as pa

    ids = np.arange(start, end, dtype=np.int64)
    device = ids % N_DEVICES
    reading = ((ids * MULT) % MOD) / 100.0
    return pa.RecordBatch.from_arrays(
        [pa.array(ids), pa.array(device), pa.array(reading)],
        names=["id", "device", "reading"],
    )


class RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SynthBatchReader(DataSourceReader):
    def __init__(self, options):
        self.total = int(options.get("total", 10_000))
        self.numparts = int(options.get("partitions", 8))
        # row range after filter pushdown; narrowed by pushFilters
        self.lo = 0
        self.hi = self.total

    def pushFilters(self, filters):
        """Source-level predicate pushdown (Python Data Source API,
        Spark 4.1): range/point predicates on the generator key ``id``
        narrow the generated row range itself, so a selective scan
        GENERATES only the matching rows instead of materializing
        ``total`` rows for Spark to filter. Anything not a simple
        ``id`` comparison is handed back for post-scan evaluation."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            LessThan,
            LessThanOrEqual,
        )

        for f in filters:
            if getattr(f, "attribute", None) == ("id",):
                if isinstance(f, IsNotNull):
                    continue  # generator key is never null: fully consumed
                if isinstance(f, In):
                    in_list = getattr(f, "value", ()) or ()
                    vals = [
                        v
                        for v in in_list
                        if isinstance(v, int) and not isinstance(v, bool)
                    ]
                    if vals and len(vals) == len(in_list):
                        # PARTIAL pushdown: narrow to the value span but
                        # hand the filter back for exact re-evaluation
                        self.lo = max(self.lo, min(vals))
                        self.hi = min(self.hi, max(vals) + 1)
                    yield f
                    continue
            bound = getattr(f, "value", None)
            if (
                getattr(f, "attribute", None) == ("id",)
                and isinstance(bound, int)
                and not isinstance(bound, bool)
            ):
                if isinstance(f, EqualTo):
                    self.lo = max(self.lo, bound)
                    self.hi = min(self.hi, bound + 1)
                elif isinstance(f, GreaterThan):
                    self.lo = max(self.lo, bound + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, bound)
                elif isinstance(f, LessThan):
                    self.hi = min(self.hi, bound)
                elif isinstance(f, LessThanOrEqual):
                    self.hi = min(self.hi, bound + 1)
                else:
                    yield f
                continue
            yield f

    def partitions(self):
        lo, hi = self.lo, max(self.lo, self.hi)
        step = max(1, math.ceil((hi - lo) / self.numparts))
        return [
            RangePartition(s, min(s + step, hi)) for s in range(lo, hi, step)
        ] or [RangePartition(lo, lo)]

    def read(self, partition: RangePartition) -> Iterator:
        yield _batch_for_range(partition.start, partition.end)


class SynthStreamReader(DataSourceStreamReader):
    """Micro-batches of ``rows_per_batch`` ids, capped at ``total``.

    Offsets are plain row indices, so restarts replay exactly the rows
    of the failed batch — the at-least-once/exactly-once contract falls
    out of determinism rather than a write-ahead log.
    """

    def __init__(self, options):
        self.total = int(options.get("total", 10_000))
        self.rows_per_batch = int(options.get("rows_per_batch", 1_000))
        self._current = 0

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def latestOffset(self) -> dict:
        self._current = min(self._current + self.rows_per_batch, self.total)
        return {"offset": self._current}

    def partitions(self, start: dict, end: dict):
        # Fold every offset Spark hands back into the cursor. On a
        # checkpoint restart the engine reveals the recovered offset to
        # this FRESH instance BEFORE asking for a new latestOffset —
        # either as the uncommitted tail batch's replay range or as a
        # degenerate (head, head) initialization call (observed
        # empirically against Spark 4.1's runner; instrumented traces
        # in the restart test's history) — so the fold alone keeps
        # latestOffset from ever answering below the checkpoint, and
        # no committed batch replans. Emission must use the given
        # range VERBATIM: "clipping to a committed floor" was tried
        # and LOST data — the (head, head) reveal is a planned
        # position, not a commit, and clipping swallowed the
        # uncommitted replay batch's rows.
        self._current = max(self._current, start["offset"], end["offset"])
        return [RangePartition(start["offset"], end["offset"])]

    def read(self, partition: RangePartition) -> Iterator:
        # Stream partitions go through the same Arrow-batch execution
        # path as batch reads, so yield one vectorized batch instead of
        # per-row tuples.
        yield _batch_for_range(partition.start, partition.end)

    def commit(self, end: dict) -> None:
        self._current = max(self._current, end["offset"])


class _Committed(WriterCommitMessage):
    def __init__(self, filename: str, rows: int):
        self.filename = filename
        self.rows = rows


class SynthJsonWriter(DataSourceWriter):
    """JSON-lines sink with a real two-phase commit.

    Tasks stage their output under attempt-unique *temp* names
    (``.staged-<uuid>.json.tmp``) and report them in commit messages;
    the driver's ``commit()`` is the only code that publishes
    ``part-*.json`` names (rename) and writes the ``_SUCCESS``
    manifest. A task that dies mid-write (or a speculative duplicate
    attempt) therefore leaves only a ``.tmp`` orphan that readers never
    see — read back via :func:`read_committed`, which trusts the
    manifest file list, not a glob. ``mode("overwrite")`` clears prior
    committed files atomically-enough at commit time (before any rename
    of this run's files)."""

    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("synthgen writer requires a 'path' option")
        self.overwrite = overwrite

    def write(self, rows: Iterator) -> _Committed:
        os.makedirs(self.path, exist_ok=True)
        staged = f".staged-{uuid.uuid4().hex}.json.tmp"
        n = 0
        with open(os.path.join(self.path, staged), "w") as f:
            for row in rows:
                f.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _Committed(staged, n)

    def commit(self, messages) -> None:
        msgs = [m for m in messages if m is not None]
        if self.overwrite:
            for old in os.listdir(self.path):
                if old.startswith("part-") or old == "_SUCCESS":
                    try:
                        os.remove(os.path.join(self.path, old))
                    except OSError:
                        pass
        published = []
        for i, m in enumerate(sorted(msgs, key=lambda m: m.filename)):
            final = f"part-{i:05d}-{m.filename[len('.staged-'):-len('.json.tmp')]}.json"
            os.replace(
                os.path.join(self.path, m.filename), os.path.join(self.path, final)
            )
            published.append(final)
        manifest = {"files": published, "rows": sum(m.rows for m in msgs)}
        tmp = os.path.join(self.path, f"._SUCCESS.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(self.path, "_SUCCESS"))

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None:
                try:
                    os.remove(os.path.join(self.path, m.filename))
                except OSError:
                    pass


class SyntheticTelemetrySource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthgen"

    def schema(self) -> str:
        return "id bigint, device bigint, reading double"

    def reader(self, schema) -> SynthBatchReader:
        return SynthBatchReader(self.options)

    def streamReader(self, schema) -> SynthStreamReader:
        return SynthStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> SynthJsonWriter:
        return SynthJsonWriter(self.options, overwrite)


class ManifestFilePartition(InputPartition):
    def __init__(self, root: str, rel_file: str, row_groups: list[int] | None = None):
        self.root = root
        self.rel_file = rel_file
        self.row_groups = row_groups  # None = whole file


class ManifestStreamReader(DataSourceStreamReader):
    """Stream a manifest table's commits: offsets are manifest VERSIONS
    (the Delta-streaming-source model). Each micro-batch reads exactly
    the data files ADDED between the start and end versions — one file
    per input partition, scanned with pyarrow on the executor. The
    commit log gives exactly-once for free: versions are immutable and
    a restart replays from the checkpointed version. Append-only
    contract: an overwrite/replace/compact commit inside the offset
    range raises rather than silently re-emitting rewritten rows
    (the same restriction Delta's streaming source enforces without
    ``skipChangeCommits``). ``stream-append`` commits — the manifest
    stream SINK's own operation — are pure appends and stream through,
    so a table fed by ``manifest_stream_writer`` can itself be a
    streaming source. ``delete_mor`` commits add no files but DO
    change visible rows (delete vectors), which an append-only stream
    cannot represent: they raise by default, or are skipped with the
    option ``skipChangeCommits=true`` (Delta's escape hatch, with the
    same downstream-staleness caveat)."""

    def __init__(self, options, schema_names: list[str] | None = None):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("manifest_stream requires a 'path' option")
        # the DECLARED schema's column order: Spark binds Arrow batch
        # columns POSITIONALLY, so read() must emit every batch in
        # exactly this order — files written with a different physical
        # column order (schema evolution, differing writers) would
        # otherwise silently swap same-typed columns' values
        self._schema_names = list(schema_names) if schema_names else None
        self.skip_change_commits = (
            str(options.get("skipChangeCommits", "false")).lower() == "true"
        )
        # option("branch", name): stream the BRANCH's lineage — main
        # history up to the fork point plus that branch's own commits —
        # instead of main. The branch identity (name + fork base) is
        # pinned at query start: commits of a later RE-CREATED branch
        # of the same name carry a different base and do not stream
        # (restart to follow the new incarnation). Main commits after
        # the fork — including this branch's own fast-forward — never
        # stream here, so a drained-then-published branch is not
        # double-delivered.
        self.branch_name = options.get("branch")
        self._branch_base: int | None = None
        self._branch_incarnation: str | None = None
        self.starting_version = options.get("startingVersion", "0")
        self.starting_timestamp = options.get("startingTimestamp")
        if self.starting_timestamp is not None and "startingVersion" in options:
            raise ValueError(
                "manifest_stream: pass startingVersion OR startingTimestamp, not both"
            )
        mft = options.get("maxFilesPerTrigger")
        self.max_files = int(mft) if mft is not None else None
        # newest position this reader instance knows is consumed/planned
        # as (version, files_consumed_of_that_version | None=complete);
        # advanced by initialOffset/partitions/commit. None until Spark
        # reveals a position: the engine resolves latestOffset BEFORE
        # initialOffset on a fresh checkpoint and owns the committed
        # offset after a restart, so the FIRST batch of any run is
        # uncapped and the cap applies from the second batch on.
        # (Seeding _pos inside latestOffset would be wrong: after a
        # restart it could return an offset BEHIND the checkpoint and
        # re-emit rows.)
        self._pos: tuple[int, int | None] | None = None
        # schema-evolution event log FIXED AT QUERY START (the Delta
        # contract: a stream's schema is pinned; a rename committed
        # mid-stream surfaces post-rename files whose columns no longer
        # match and the query fails — restart to pick up the new
        # schema). Replaying the start-time log per batch lets one
        # stream read files written before AND after historical renames
        # under the current logical names. Serialized with the reader,
        # so executor-side read() sees the same pinned log.
        try:
            table = self._table()
            if self.branch_name is not None:
                # pin the branch incarnation AND its schema contract
                # from the branch head (a branch could have evolved
                # differently only via its fork history — evolution
                # commits are main-only — but the head's carried copy
                # is the authoritative one for this line)
                bh = table.branch_head(self.branch_name)
                bm = table.read_manifest(bh)
                self._branch_base = (bm.meta.get("branch") or {}).get("base", bh)
                # the line's creation nonce: (name, base) alone cannot
                # tell a delete+recreate from the SAME head apart
                self._branch_incarnation = table.branch_incarnation(self.branch_name)
                meta = bm.meta
            else:
                meta = table.read_manifest().meta
            self._evolution = meta.get("schema_evolution", [])
            # hidden-partition dirs are storage layout, not data: the
            # stream drops them exactly like the batch read (pinned at
            # query start, same contract as the evolution log)
            self._hidden = list(meta.get("hidden_partitions", {}))
        except FileNotFoundError:
            if self.branch_name is not None:
                raise  # a branch stream needs the ref to exist
            self._evolution = []
            self._hidden = []

    def _table(self) -> ManifestLog:
        return ManifestLog(self.path)

    @staticmethod
    def _pos_key(v: int, i: int | None) -> tuple[int, float]:
        # total order over positions; index None = version complete,
        # which sorts after every partial index of the same version
        return (v, float("inf") if i is None else i)

    def _advance(self, v: int, i: int | None) -> None:
        cur = self._pos
        if cur is None or self._pos_key(v, i) > self._pos_key(*cur):
            self._pos = (v, i)

    def _added_of(self, table, v: int) -> list[str]:
        """The (order-stable) added-file list of version v, validating
        the append-only contract. Stability across reads matters: a
        partial offset indexes into this list, so a restart must see
        the same ordering — manifests are immutable JSON and the
        parent-diff fallback preserves ``files`` order."""
        try:
            m = table.read_manifest(v)
        except FileNotFoundError:
            raise ValueError(
                f"manifest_stream: version v{v} of {self.path} was pruned "
                "by vacuum before this stream consumed it — restart with a "
                "fresh checkpoint (optionally startingVersion=latest)"
            ) from None
        bmeta = m.meta.get("branch")
        if self.branch_name is not None:
            # BRANCH stream: this line = main history up to the pinned
            # fork base + commits of the pinned branch incarnation.
            commit_inc = (bmeta or {}).get("incarnation")
            ours = (
                bmeta is not None
                and bmeta.get("name") == self.branch_name
                and bmeta.get("base") == self._branch_base
                # strict when both sides carry the nonce; pre-nonce
                # commits keep matching by (name, base)
                and (
                    commit_inc is None
                    or self._branch_incarnation is None
                    or commit_inc == self._branch_incarnation
                )
            )
            pre_fork_main = (
                ManifestLog._is_main(m)
                and self._branch_base is not None
                and v <= self._branch_base
            )
            if not (ours or pre_fork_main):
                # post-fork main commits (including this branch's own
                # fast-forward — already streamed as branch commits),
                # other branches, CAS orphans, staged WAP snapshots
                return []
            # member commits fall through to the op validation below
        elif not ManifestLog._is_main(m):
            # STAGED write-audit-publish snapshot or BRANCH commit: its
            # files are not on main (and may never be — an audit can
            # abort, a branch can be dropped), so the main stream emits
            # nothing here. If it publishes / fast-forwards, THAT commit
            # re-adds the files vs its parent and streams them exactly
            # once then.
            return []
        if m.operation in _NOOP_OPS:
            # maintenance markers: no files added, no visible-row change.
            # Metadata-only schema evolution adds no files and changes
            # no row either. Events BEFORE the stream started are
            # replayed per batch (the pinned log); an event committed
            # MID-STREAM changes the logical schema out from under a
            # fixed-schema query, so post-event files will fail the
            # schema match — the restart-to-pick-up-schema contract,
            # same as Delta.
            return []
        if m.operation in ("wap-publish-replace", "branch-fastforward-replace"):
            # a published staged/branch line that REPLACED base files:
            # rows changed beyond pure addition — same contract as
            # delete_mor
            if self.skip_change_commits:
                return []
            raise ValueError(
                f"manifest_stream is append-only: v{v} is a {m.operation!r} "
                "commit (published staged content removed base files); set "
                "skipChangeCommits=true to skip change commits"
            )
        if m.operation == "delete_mor":
            if self.skip_change_commits:
                return []  # adds no files; visible-row change skipped by opt-in
            raise ValueError(
                f"manifest_stream is append-only: v{v} is a delete_mor commit "
                "(rows changed without new files); set skipChangeCommits=true "
                "to skip change commits"
            )
        if m.parent is None:
            # the table's FIRST commit is its initial snapshot whatever
            # its operation name says — a clone's v1, a promotion's v1,
            # a seed overwrite: pure content with no history to violate.
            # (Every row is by definition "added" here; the op-name
            # check below only guards REWRITES of prior history.)
            return list(m.added) if m.added is not None else list(m.files)
        if m.operation not in _APPEND_OPS:
            # merge / compact / restore / replace / promote commits all
            # change rows beyond pure addition; skipChangeCommits skips
            # them like Delta's escape hatch — without it, a table
            # under routine OPTIMIZE or a MERGE sink would be
            # permanently unstreamable past the first such commit
            if self.skip_change_commits:
                return []
            raise ValueError(
                f"manifest_stream is append-only: v{v} is a {m.operation!r} commit; "
                "set skipChangeCommits=true to skip change commits"
            )
        if m.added is not None:
            # publish-time added-file list: one manifest read per
            # version, no parent fetch (and no dependency on the
            # parent manifest surviving vacuum)
            return list(m.added)
        # pre-upgrade manifest: fall back to the parent diff
        prev = set(table.read_manifest(m.parent).files) if m.parent else set()
        return [f for f in m.files if f not in prev]

    def initialOffset(self) -> dict:
        """``startingVersion`` (Delta semantics): the first streamed
        commit. ``"latest"`` skips all existing history and streams
        only commits made after the query starts; an integer N streams
        from version N (inclusive); default 0 replays everything.
        ``startingTimestamp`` (Delta semantics, mutually exclusive):
        stream every commit whose in-commit timestamp is AT or after
        the given epoch-seconds/ISO timestamp; a timestamp before the
        earliest retained commit replays everything."""
        if self.starting_timestamp is not None:
            v = self._version_before_timestamp(self.starting_timestamp)
        elif str(self.starting_version).lower() == "latest":
            v = self._table().latest_version() or 0
        else:
            v = max(0, int(self.starting_version) - 1)
        self._pos = (v, None)
        return self._offset(v)

    def _offset(self, v: int, index: int | None = None) -> dict:
        """Offsets of a BRANCH stream carry the pinned incarnation
        (the fork base): a branch deleted and re-created under the
        same name is a DIFFERENT line whose version offsets mean
        different commits — a restarted query must detect the swap
        from its checkpoint instead of silently mixing the two
        histories (double-delivering post-old-fork main commits or
        skipping the new line's). Main streams keep the bare shape."""
        off: dict = {"version": v}
        if index is not None:
            off["index"] = index
        if self.branch_name is not None and self._branch_base is not None:
            off["branch_base"] = self._branch_base
            if self._branch_incarnation is not None:
                off["branch_inc"] = self._branch_incarnation
        return off

    def _version_before_timestamp(self, ts) -> int:
        """Offset base for ``startingTimestamp``: the newest version
        strictly BEFORE the timestamp (consumed), so streaming begins
        at the first commit committed at-or-after it."""
        import datetime as _dt

        if isinstance(ts, str):
            try:
                ts = float(ts)
            except ValueError:
                ts = _dt.datetime.fromisoformat(ts).timestamp()
        table = self._table()
        try:
            below = table.version_as_of(ts)  # newest main version <= ts
        except ValueError:
            return 0  # precedes earliest retained history: replay all
        except FileNotFoundError:
            # table not created yet: same tolerance as startingVersion —
            # start at 0 and stream whatever gets committed
            return 0
        # version_as_of is at-or-before; a commit EXACTLY at ts must
        # still stream, so it stays unconsumed
        if table.commit_timestamp(below) >= ts:
            return max(0, below - 1)
        return below

    def latestOffset(self) -> dict:
        """Newest available offset, rate-limited by ``maxFilesPerTrigger``:
        instead of handing Spark the head of the log (one giant batch
        after downtime), walk versions forward from the consumed
        position until the added-file budget is spent — one cheap
        manifest read per version walked, bounded by the budget.

        A single commit LARGER than the budget splits ACROSS triggers
        (the Delta ``{reservoirVersion, index}`` model): the offset
        gains an ``index`` = number of that version's added files
        already consumed, so a 10k-file compaction-sized commit drains
        in bounded micro-batches instead of one unbounded one. An
        offset without ``index`` means the version is fully consumed —
        exactly what pre-upgrade checkpoints recorded, so they resume
        unchanged."""
        table = self._table()
        latest = table.latest_version() or 0
        if self.max_files is None or self._pos is None:
            return self._offset(latest)
        v, done = self._pos
        if done is None:
            if v >= latest:
                return self._offset(latest)
            v, done = v + 1, 0
        budget = self.max_files
        while True:
            files = self._added_of(table, v)
            remaining = len(files) - done
            if remaining > budget:
                return self._offset(v, index=done + budget)
            budget -= remaining
            if v >= latest or budget <= 0:
                return self._offset(v)
            v, done = v + 1, 0

    def partitions(self, start: dict, end: dict):
        table = self._table()
        if self.branch_name is not None:
            for off in (start, end):
                base = off.get("branch_base")
                inc = off.get("branch_inc")
                recreated = (base is not None and base != self._branch_base) or (
                    inc is not None
                    and self._branch_incarnation is not None
                    and inc != self._branch_incarnation
                )
                if recreated:
                    raise ValueError(
                        f"manifest_stream: branch {self.branch_name!r} of "
                        f"{self.path} was re-created (checkpoint pinned fork "
                        f"base v{base} incarnation {inc}, the live branch is "
                        f"v{self._branch_base}/{self._branch_incarnation}) — "
                        "its version offsets name a different history; "
                        "restart with a fresh checkpoint"
                    )
        s_v, s_i = start["version"], start.get("index")
        e_v, e_i = end["version"], end.get("index")
        self._advance(s_v, s_i)
        self._advance(e_v, e_i)
        added: list[str] = []
        # a partial start offset re-enters its version at the recorded
        # index; a complete one starts at the next version
        first_v = s_v if s_i is not None else s_v + 1
        for v in range(first_v, e_v + 1):
            files = self._added_of(table, v)
            lo = s_i if (v == s_v and s_i is not None) else 0
            hi = e_i if (v == e_v and e_i is not None) else len(files)
            added.extend(files[lo:hi])
        if not added:
            # Spark requires >=1 partition; an empty file list yields 0 rows
            return [ManifestFilePartition(self.path, "")]
        return self._split_partitions(added)

    # below this many files per micro-batch, a commit is likely a few
    # LARGE files (a compaction, a big batch landing as one part) and a
    # file-per-task plan serializes the read — spend one footer read
    # per file to split into row-group tasks (~128 MB each for default
    # writers). At or above it the plan is already parallel and the
    # per-file footer reads would only tax the driver.
    _SPLIT_FILE_THRESHOLD = 16

    def _split_partitions(self, added: list[str]):
        if len(added) >= self._SPLIT_FILE_THRESHOLD:
            return [ManifestFilePartition(self.path, f) for f in added]
        import pyarrow.parquet as pq

        table = self._table()
        parts = []
        for f in added:
            try:
                n = pq.ParquetFile(
                    table.fs.open_input_file(f"{table.root_path}/{f}")
                ).metadata.num_row_groups
            except OSError:
                n = 1  # unreadable footer: executor surfaces the real error
            if n <= 1:
                parts.append(ManifestFilePartition(self.path, f))
            else:
                parts.extend(
                    ManifestFilePartition(self.path, f, row_groups=[g])
                    for g in range(n)
                )
        return parts

    def read(self, partition: ManifestFilePartition):
        if not partition.rel_file:
            return iter(())
        import pyarrow as pa
        import pyarrow.parquet as pq

        from octopufs_spark.fs.core import get_filesystem

        fs, root = get_filesystem(partition.root)
        # Stream row-group RecordBatches instead of materializing the
        # whole file: the Python data source worker consumes Arrow
        # batches zero-copy, and peak executor memory stays one row
        # group (not one file) regardless of file size. Hive k=v path
        # segments (partition_by layouts store those columns in dir
        # names, not file bytes) are re-attached as constant string
        # columns, matching schema()'s contract.
        hidden = set(getattr(self, "_hidden", []))
        parts = [(k, v) for k, v in _hive_segments_of(partition.rel_file) if k not in hidden]
        evolution = getattr(self, "_evolution", [])
        order = self._schema_names
        pf = pq.ParquetFile(fs.open_input_file(f"{root}/{partition.rel_file}"))
        for batch in pf.iter_batches(row_groups=partition.row_groups):
            arrays = list(batch.columns)
            names = list(batch.schema.names)
            for k, v in parts:
                arrays.append(pa.array([v] * batch.num_rows, type=pa.string()))
                names.append(k)
            if evolution:
                names, arrays = _evolved_columns(
                    names, arrays, evolution, batch.num_rows
                )
            # Spark binds Arrow columns POSITIONALLY against the
            # declared schema — reorder by NAME so a file generation
            # with a different physical column order can't silently
            # swap values between same-typed columns (or crash on
            # mixed types). A genuinely missing column is a loud
            # schema-contract error, not a mis-bind.
            if order is not None and names != order:
                idx = {n: i for i, n in enumerate(names)}
                try:
                    arrays = [arrays[idx[n]] for n in order]
                except KeyError as e:
                    raise ValueError(
                        f"manifest_stream: file {partition.rel_file!r} lacks "
                        f"column {e} declared in the stream schema — restart "
                        "the query to re-derive the schema"
                    ) from None
                names = list(order)
            if names != list(batch.schema.names):
                batch = pa.RecordBatch.from_arrays(arrays, names=names)
            yield batch

    def commit(self, end: dict) -> None:
        self._advance(end["version"], end.get("index"))


def _evolved_columns(names: list[str], arrays: list, evolution: list, num_rows: int):
    """Replay the table's schema-evolution log on an Arrow batch's
    column list, mirroring the batch read's ``_apply_evolution``:
    historical names map to current logical names, dropped columns
    vanish, and ``add`` events materialize their default as a constant
    column (canonical semantics live with the manifest module)."""
    import pyarrow as pa

    names = list(names)
    arrays = list(arrays)
    for i, ev in enumerate(evolution):
        kind, *args = ev
        if kind == "rename":
            if args[0] in names:
                names[names.index(args[0])] = args[1]
        elif kind == "drop":
            if args[0] in names:
                names[names.index(args[0])] = f"{_DROPPED_PREFIX}{i}"
        elif kind == "add" and args[0] not in names:
            from pyspark.sql.pandas.types import to_arrow_type

            at = to_arrow_type(_evolution_dtype(args[2]))
            names.append(args[0])
            arrays.append(pa.array([args[1]] * num_rows, type=at))
    keep = [i for i, n in enumerate(names) if not n.startswith(_DROPPED_PREFIX)]
    return [names[i] for i in keep], [arrays[i] for i in keep]


class ManifestStreamSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "manifest_stream"

    def schema(self):
        """Spark schema derived from the current snapshot's first
        parquet file footer, via pyspark's canonical arrow-to-Spark
        conversion — covers arrays, decimals, nested structs, and
        timestamp units, not just the scalar types a hand-rolled DDL
        map would. Hive k=v path segments (``partition_by`` layouts)
        are appended as string columns, matching what read()
        re-attaches per batch. The layout must be CONSISTENT across
        the streamed commits (all partitioned by the same keys, or
        none) — the schema is fixed at query start from the first
        file, and a commit whose files carry different segments
        cannot match it (same contract as the batch reader's
        merge_schema note)."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema
        from pyspark.sql.types import StringType, StructField

        table = ManifestLog(self.options["path"])
        # a BRANCH stream's schema contract comes from the branch head
        # (its carried evolution log / hidden layout), exactly like the
        # reader pins it — deriving from main would declare columns the
        # branch's batches don't carry once main evolves past the fork
        m = table.read_head(self.options.get("branch"))
        hidden = set(m.meta.get("hidden_partitions", {}))
        st = from_arrow_schema(
            pq.read_schema(f"{table.root_path}/{m.files[0]}", filesystem=table.fs)
        )
        for k, _ in _hive_segments_of(m.files[0]):
            if k in hidden:
                continue  # storage layout, not data — dropped like the batch read
            # nullable: __HIVE_DEFAULT_PARTITION__ segments decode to
            # null (the batch reader surfaces them as null too)
            st = st.add(StructField(k, StringType(), True))
        evolution = m.meta.get("schema_evolution", [])
        if evolution:
            # same log the per-batch reader replays: the stream schema
            # shows current LOGICAL names, dropped columns omitted,
            # added columns appended with their declared type (same
            # order the per-batch replay appends them)
            from pyspark.sql.types import StructType

            fields = [(f.name, f.dataType, f.nullable) for f in st.fields]
            for i, ev in enumerate(evolution):
                kind, *args = ev
                if kind == "rename":
                    fields = [
                        ((args[1] if n == args[0] else n), t, nb) for n, t, nb in fields
                    ]
                elif kind == "drop":
                    fields = [
                        ((f"{_DROPPED_PREFIX}{i}" if n == args[0] else n), t, nb)
                        for n, t, nb in fields
                    ]
                elif kind == "add" and args[0] not in [n for n, _, _ in fields]:
                    fields.append((args[0], _evolution_dtype(args[2]), True))
            st = StructType(
                [
                    StructField(n, t, nb)
                    for n, t, nb in fields
                    if not n.startswith(_DROPPED_PREFIX)
                ]
            )
        return st

    def streamReader(self, schema) -> ManifestStreamReader:
        return ManifestStreamReader(
            self.options, schema_names=[f.name for f in schema.fields]
        )


class _ManifestWriteMsg(WriterCommitMessage):
    def __init__(self, rel_file: str, rows: int):
        self.rel_file = rel_file
        self.rows = rows


class ManifestBatchWriter(DataSourceArrowWriter):
    """Batch WRITER for manifest tables through Spark's native write
    protocol: ``df.write.format("manifest").mode("append").save(root)``.

    Two-phase commit, manifest-style: every task writes Spark's Arrow
    batches, as they come, into ONE parquet file under a job-unique
    staging dir, in row groups of ``_BATCH_ROWS`` rows (peak task
    memory is one row group, not one partition), and reports the file
    in its commit message; the driver's ``commit()`` publishes exactly
    the REPORTED files as one atomic manifest version. Because the
    committed file list comes from the messages — not from listing the
    staging dir — a speculative duplicate or zombie task attempt's
    orphan file is never published (the classic rename-based committer
    hazard); it stays invisible staging for ``vacuum``. ``abort()`` removes the whole staging dir, and a
    driver crash between write and commit leaves only invisible
    orphans — the same crash contract as ``write_and_commit``.

    Options: ``stats=true`` records zone-map file stats at commit
    (driver-side footer reads). Overwriting with an EMPTY frame is
    rejected (a manifest snapshot must list files); an empty append is
    a no-op (no new version). Nested types (struct, array, map) are
    written as Arrow holds them: no row is turned into Python objects.

    Appends must conform to the table's hidden-partition layout. This
    writer stages plain files (no derived partition columns), so an
    append onto a hidden-layout table is refused at plan time, before
    any task writes, and the commit re-verifies the live layout
    (``ManifestTable.commit_append``) against a racing overwrite."""

    _BATCH_ROWS = 65536

    def __init__(self, options, schema, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("manifest writer requires a 'path' (save path)")
        self.schema = schema
        self.overwrite = overwrite
        self.stats = str(options.get("stats", "false")).lower() == "true"
        # fixed on the DRIVER at plan time: all tasks share one staging
        # dir; retries of the same job stay under it
        self.staged = f"pyds-{uuid.uuid4().hex[:12]}"
        if not overwrite:
            from octopufs_spark.manifest import ManifestTable, _check_append_layout

            _check_append_layout(ManifestTable(self.path), None)

    def write(self, batches: Iterator) -> _ManifestWriteMsg:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from octopufs_spark.fs.core import get_filesystem

        fs, root = get_filesystem(self.path)
        arrow_schema = to_arrow_schema(self.schema)
        rel = f"{self.staged}/part-{uuid.uuid4().hex[:12]}.parquet"
        writer = None
        pending: list = []  # batches not yet written: fewer than _BATCH_ROWS rows
        buffered = total = 0

        def flush(table) -> None:
            nonlocal writer
            if writer is None:
                fs.create_dir(f"{root}/{self.staged}", recursive=True)
                writer = pq.ParquetWriter(f"{root}/{rel}", arrow_schema, filesystem=fs)
            writer.write_table(table.cast(arrow_schema), row_group_size=self._BATCH_ROWS)

        for batch in batches:
            pending.append(batch)
            buffered += batch.num_rows
            total += batch.num_rows
            if buffered >= self._BATCH_ROWS:
                table = pa.Table.from_batches(pending)
                full = buffered - buffered % self._BATCH_ROWS
                flush(table.slice(0, full))
                pending, buffered = table.slice(full).to_batches(), buffered - full
        if buffered:
            flush(pa.Table.from_batches(pending))
        if writer is None:
            # empty partition: stage nothing (the runtime requires a
            # message object even so; rel_file=None marks "no file")
            return _ManifestWriteMsg(None, 0)
        writer.close()
        return _ManifestWriteMsg(rel, total)

    def commit(self, messages) -> None:
        from octopufs_spark.manifest import ManifestTable

        table = ManifestTable(self.path)
        files = sorted(m.rel_file for m in messages if m is not None and m.rel_file)
        meta: dict = {}
        if not files:
            if self.overwrite:
                raise ValueError(
                    "refusing to overwrite a manifest table with an empty "
                    "frame: a snapshot must list at least one file"
                )
            return  # empty append: no new version
        if self.stats:
            meta["file_stats"] = table.collect_file_stats(files)
        if self.overwrite:
            table._commit_with_retry(files, "overwrite", meta)
        else:
            table.commit_append(files, meta)

    def abort(self, messages) -> None:
        from octopufs_spark.fs.core import get_filesystem

        fs, root = get_filesystem(self.path)
        try:
            fs.delete_dir(f"{root}/{self.staged}")
        except (OSError, FileNotFoundError):
            pass  # uncommitted staging is invisible; vacuum collects it


class ManifestTableSource(DataSource):
    """``format("manifest")``: the batch write half of the manifest
    table's Spark-native API (the streaming read half is
    ``format("manifest_stream")``; batch reads go through
    ``ManifestTable.read``, which owns time travel, delete vectors and
    schema evolution). Appends must conform to the hidden-partition
    layout: the writer stages plain files, so a table with a hidden
    layout refuses ``mode("append")`` — append through
    ``write_and_commit(..., hidden_partition=...)`` instead."""

    @classmethod
    def name(cls) -> str:
        return "manifest"

    def writer(self, schema, overwrite: bool) -> ManifestBatchWriter:
        return ManifestBatchWriter(self.options, schema, overwrite)


def register_manifest_table_source(spark) -> None:
    """Idempotently register the manifest batch-writer source."""
    spark.dataSource.register(ManifestTableSource)


def register_synthgen(spark) -> None:
    """Idempotently register the synthgen source on a session.

    Also enables Python data source filter pushdown (runtime conf):
    a reader implementing ``pushFilters`` on a session with the conf
    off is a hard planning error, and callers (the driver harness
    included) may hand us sessions built without our defaults."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SyntheticTelemetrySource)


def register_manifest_stream(spark) -> None:
    """Idempotently register the manifest-table streaming source."""
    spark.dataSource.register(ManifestStreamSource)


def read_committed(spark, path: str, schema: str = "id bigint, device bigint, reading double"):
    """Read back a synthgen JSON sink through its commit manifest.

    The manifest (``_SUCCESS``) is the source of truth for what the job
    committed — globbing ``part-*.json`` would also pick up files from
    other (possibly concurrent or stale) runs. Raises if the sink was
    never committed."""
    success = os.path.join(path, "_SUCCESS")
    if not os.path.exists(success):
        raise FileNotFoundError(f"no committed manifest at {success}")
    with open(success) as f:
        manifest = json.load(f)
    files = [os.path.join(path, name) for name in manifest["files"]]
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(files)
