"""The manifest log of a table root — versions, refs, the commit loop and
vacuum — as driver-side metadata work that imports no pyspark.

Atomicity story. Every file in the log — version files, tags, branch
refs and ``hint/<N>`` files — is written by ONE primitive,
``ManifestLog._put_if_absent`` (stage, no-overwrite publish, remove
the staged file on a lost race), and every commit goes through ONE CAS
loop, ``ManifestLog._commit_with_retry``. What the publish means by
store:

- **Local / HDFS**: a version file is staged as ``v{N}.json.tmp.{run}``
  and published with a no-overwrite rename — POSIX/HDFS rename makes
  the commit atomic, and a concurrent committer of the same N loses
  the rename race and retries at N+1 (optimistic concurrency).
- **Object stores (S3/ABFS)**: rename is copy+delete, but the version
  file is tiny and keyed by N — two writers racing on the same N is
  resolved by the exists-check-then-put pattern the respective SDKs
  expose (conditional put / ETag if-none-match). The pyarrow backend
  here models it as create-exclusive.

A REWRITE — a commit that replaces files it read (MERGE, compaction,
partition promotion) or adds or retires delete vectors (merge-on-read
deletes, consolidation) — publishes through ONE method,
``ManifestLog.commit_rewrite``, the one home of the read-set rule (the
validation phase of optimistic concurrency). Each attempt validates
the snapshot it read against the live parent:

1. A replaced file that has left the parent (a racing rewrite took
   it) aborts: the staged rows would duplicate or resurrect it.
2. The commit publishes ``kept + staged``, ``kept`` = the parent's
   files minus the replaced ones, so racing appends carry forward.
3. A parent delete vector the rewrite did not read aborts when
   ``kept`` is empty (the vector would drop unapplied) or when it is
   positional and names a replaced file (the staged rows predate the
   delete); otherwise it carries and applies to the whole snapshot.
4. A rewrite that may re-insert keys (``inserts``, MERGE) aborts when
   ``kept`` is non-empty while its read snapshot had a live equality
   vector: the kept files need the vector, the re-inserted rows must
   escape it, and a snapshot-wide vector cannot do both.
5. A positional vector the commit adds aborts when a file it names
   has left the parent: the rows it hides were rewritten without it,
   so it would delete nothing (a lost update). Files it does not name
   may go; they held no matching row.
6. A vector the commit retires (folds into one it adds) aborts when
   it has left the parent: a racing rewrite materialized and dropped
   it, and the folded copy would re-hide keys that rewrite freed.
   Vectors racers added are not retired, and carry.
7. A schema-evolution log (``rename_column``, ``add_column``,
   ``drop_column``) or hidden-partition layout that changed since
   ``read`` aborts, as ``publish_wap`` does: the staged files were
   written under the old contract, and a rewrite that keeps no file
   would drop the new log with the old files.

Every abort raises ``ConcurrentModificationError`` with nothing
published. A positional vector of ``read`` that names only replaced
files is dead once the rewrite lands (every row it hides was
rewritten without it), so the rewrite drops it instead of carrying it.
Dead and retired vectors leave the carry through the commit's
``replaced_vector_paths``, which only ``commit_rewrite`` writes.

The log also records the Spark schema of the data files, so readers
plan without a schema-inference Spark job: meta ``data_schema`` is the
schema JSON of Spark's ``org.apache.spark.sql.parquet.row.metadata``
footer entry, every nullable flag set (Spark reads file sources
``asNullable``), so two schemas compare as plain JSON. A snapshot has
``data_schema`` only while EVERY live data file was staged with that
schema (``ManifestLog._carry_data_schema``):

- a commit that adds files staged with schema S publishes S when it
  keeps no parent file or the parent's schema is also S, else none;
- a commit that adds no file (a merge-on-read delete, column
  evolution) carries the parent's schema while it keeps files;
- files added without a schema (promotion, foreign writers) publish
  none, and readers infer as before.
"""

from __future__ import annotations

import json
import math
import re
import uuid
from dataclasses import dataclass, field

from octopufs_spark.fs.core import get_filesystem, list_tree

_MANIFEST_DIR = "_manifest"
_TAGS_DIR = f"{_MANIFEST_DIR}/tags"
_BRANCHES_DIR = f"{_MANIFEST_DIR}/branches"
_TAG_NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9._-]{0,127}$")

# Commit-retry policy, tuned from tools/contention_probe.py: the
# original reference-style 5-attempt/no-backoff loop starved writers
# under sustained contention — at 12 processes, 62% of commit calls
# exhausted their budget ((11/12)^5 ≈ 0.65 per call is the lottery
# math) and losers' immediate rebuilds burned 10.9 publish attempts
# per landed commit. 100 attempts with jittered exponential backoff
# (cap 100 ms) makes exhaustion ~never at realistic writer counts
# (measured: 12 writers × 15 s sustained = 6k commits, 0–2 exhaustions
# at 50 attempts, amplification 10.9→2.1, throughput +20%) while the
# uncontended path pays nothing (no loss → no sleep).
_COMMIT_RETRY_ATTEMPTS = 100


def _lost_race_backoff(attempt: int) -> None:
    """Sleep a jittered, exponentially growing interval after a lost
    CAS race. Full jitter (uniform from 0) desynchronizes the losing
    cohort — fixed backoff would march them into the next collision
    together; the 100 ms cap keeps worst-case added commit latency
    proportional to actual contention, not to the attempt count."""
    import random
    import time as _time

    _time.sleep(random.uniform(0.0, min(0.1, 0.002 * (2 ** min(attempt, 6)))))


def _version_of(path: str) -> int | None:
    """Version number of a manifest file path, or None for anything
    that is not DIRECTLY ``_manifest/v<N>.json``. A bare
    ``_VERSION_RE.search`` matches *inside* other names — a tag file
    ``_manifest/tags/relv2.json`` ends with ``v2.json`` — so version
    discovery and vacuum's manifest pass must anchor on the full
    basename AND the parent directory, or a tag named ``*v<digits>``
    would be listed (and pruned!) as a table version."""
    parts = path.rstrip("/").rsplit("/", 2)
    if len(parts) < 2 or parts[-2] != _MANIFEST_DIR:
        return None
    m = re.fullmatch(r"v(\d+)\.json", parts[-1])
    return int(m.group(1)) if m else None


class ConcurrentModificationError(RuntimeError):
    """A maintenance commit (compaction) detected that the snapshot it
    rewrote was concurrently modified in a way it cannot reconcile
    (files it compacted were removed, or new delete vectors landed).
    The operation aborts with nothing published — rerun against the
    new snapshot. Mirrors Delta's behavior of failing OPTIMIZE on a
    conflicting commit rather than publishing a lost update."""


_REF_MARKERS = ("wap", "wap_published", "wap_aborted", "branch", "branch_published")


def _strip_ref_markers(meta: dict) -> dict:
    """Drop WAP/branch lifecycle markers from a meta dict about to be
    re-committed wholesale (restore, clone, MOR-delete meta copy). The
    markers describe ONE commit's role in a staging workflow; carrying
    them onto an unrelated commit would re-stage it ("wap"/"branch")
    or smear publish/abort provenance across history."""
    return {k: v for k, v in meta.items() if k not in _REF_MARKERS}


def _content_meta(meta: dict) -> dict:
    """A snapshot's pure CONTENT metadata: lifecycle markers stripped
    and ``stream_txn`` dropped (replay marks re-carry from the actual
    commit parent, never from the snapshot being re-published). Shared
    by restore, publish_wap, and fast_forward so 'content meta' cannot
    silently diverge between the three re-publish paths."""
    return {k: v for k, v in _strip_ref_markers(meta).items() if k != "stream_txn"}


class _AlreadyResolved(Exception):
    """Internal: a publish/abort walk found its outcome already
    committed — ``_commit_with_retry`` returns that version instead of
    publishing."""

    def __init__(self, version: int):
        self.version = version


class SnapshotVacuumedError(FileNotFoundError):
    """A time-traveled read referenced a version whose data files (or
    delete-vector files) have been physically removed by ``vacuum``.
    Raised eagerly at plan time with the missing paths, instead of an
    opaque parquet PATH_NOT_FOUND surfacing mid-query."""

    def __init__(self, root: str, version: int, missing: list[str]):
        self.version = version
        self.missing = missing
        super().__init__(
            f"snapshot v{version} of {root} references {len(missing)} vacuumed "
            f"file(s), e.g. {missing[0]!r} — retained versions only; see vacuum()"
        )


@dataclass(frozen=True)
class Manifest:
    version: int
    files: list[str]  # paths relative to the table root
    operation: str = "commit"
    parent: int | None = None
    meta: dict = field(default_factory=dict)
    # Files this commit ADDED vs its parent, recorded at publish time
    # (the commit already holds both file lists). Lets the streaming
    # source resolve a version's new files with ONE manifest read —
    # no parent fetch, and no dependency on the parent manifest still
    # existing after vacuum. None on pre-upgrade manifests; consumers
    # fall back to a parent diff.
    added: list[str] | None = None
    # In-commit timestamp (epoch seconds), recorded at publish and
    # forced strictly ABOVE the parent's (the Delta inCommitTimestamps
    # model): wall clocks regress across machines/NTP steps, and a
    # non-monotonic history makes AS-OF-timestamp reads ambiguous.
    # None on pre-upgrade manifests; consumers fall back to manifest
    # file mtime.
    committed_at: float | None = None


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _hive_unescape(s: str) -> str:
    """Hive ``unescapePathName``: decode the ``%XX`` escapes the writer
    applied to partition dir names (Spark Hive-escapes ``:`` ``=`` ``%``
    ``/`` etc. on write, so the raw segment text differs from the
    logical value whenever the value contains one of those). Decoding is
    per-char ``chr(0xXX)`` exactly like Hive — NOT urllib's UTF-8
    multi-byte unquote, which would mangle a non-UTF-8 writer's escapes
    to U+FFFD and wrongly prune the partition. Invalid sequences pass
    through unchanged, same as Hive."""
    if "%" not in s:
        return s
    hexdigits = "0123456789abcdefABCDEF"
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        # explicit hex-digit check: Python's int(x, 16) tolerates
        # whitespace ('% 9' would decode), Java's parseInt does not
        if c == "%" and i + 2 < n and s[i + 1] in hexdigits and s[i + 2] in hexdigits:
            out.append(chr(int(s[i + 1 : i + 3], 16)))
            i += 3
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _hive_segments_of(rel_file: str) -> list[tuple[str, str | None]]:
    """k=v directory segments of a snapshot-relative file path — the
    hive-partition columns a ``partition_by`` commit stores in dir
    names rather than file bytes, with values DECODED back to their
    logical form (Hive unescapePathName semantics; the
    ``__HIVE_DEFAULT_PARTITION__`` sentinel maps to ``None``). Pruning
    compares segments against user predicates and scoped OPTIMIZE
    matches user partition_values — both take logical values, so
    comparing the raw escaped text would wrongly prune/skip every
    partition whose value contains an escapable char. Shared by
    partition pruning here and the streaming source's column
    re-attachment."""
    out: list[tuple[str, str | None]] = []
    for seg in rel_file.split("/")[1:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            out.append((_hive_unescape(k), None if v == _HIVE_NULL else _hive_unescape(v)))
    return out


_DROPPED_PREFIX = "__octopufs_dropped_"


def _evolution_dtype(spec: str):
    """Parse an ``add`` event's type spec WITHOUT a SparkSession (the
    stream source replays the log inside data-source workers where no
    session exists): ``_parse_datatype_json_value`` is pure Python and
    accepts the primitive names Spark's JSON schema format uses —
    "string", "long", "integer", "double", "boolean", "date",
    "timestamp", "decimal(p,s)", ... — which is also the vocabulary
    ``add_column`` documents."""
    from pyspark.sql.types import _parse_datatype_json_value

    return _parse_datatype_json_value(spec)


def hidden_transform_expr(kind: str, src: str, param=None):
    """Spark column expression of an Iceberg-style hidden-partition
    transform. Each has an EXACT Python twin
    (:func:`hidden_transform_value`) used by ``prune_plan`` to map a
    predicate on the SOURCE column to the transformed dir value — the
    two must stay in lockstep or pruning silently loses rows, so both
    live here side by side.

    - ``days``: whole days since 1970-01-01 (Iceberg's day transform:
      an INT, not a date string, so segment RANGE comparisons stay
      numeric);
    - ``month``: months since 1970-01 ((y-1970)*12 + m-1);
    - ``truncate``: floor(value / param) * param (numeric ranges);
    - ``bucket``: md5-derived 60-bit hash mod param. md5, not
      xxhash64, deliberately: the same bucket is computable in plain
      Python (pruning) and in SQL oracles, the r3b cross-engine trick.
    """
    from pyspark.sql import functions as F

    c = F.col(src)
    if kind == "days":
        return F.datediff(c.cast("date"), F.lit("1970-01-01").cast("date")).cast("long")
    if kind == "month":
        return ((F.year(c) - 1970) * 12 + F.month(c) - 1).cast("long")
    if kind == "truncate":
        # integer-exact floor-to-multiple: c - pmod(c, p). The obvious
        # floor(c / p) * p goes through DOUBLE division, which rounds
        # above 2^53 — the write-side dir value would then disagree
        # with the Python twin's exact arithmetic and pruning would
        # silently lose rows on bigint keys.
        cl = c.cast("long")
        return (cl - F.pmod(cl, F.lit(int(param)))).cast("long")
    if kind == "bucket":
        return F.pmod(
            F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long"),
            F.lit(int(param)),
        )
    raise ValueError(f"unknown hidden-partition transform {kind!r}")


#: integer column types (``df.dtypes`` spelling) whose CAST-AS-STRING
#: rendering equals Python ``str(int)`` — the only types an int bucket
#: probe is exact against (decimal(10,2) renders 1 as '1.00', double as
#: '1.0'; the md5 of those strings lands in a DIFFERENT bucket).
_BUCKET_INT_DTYPES = {"tinyint", "smallint", "int", "bigint"}


def hidden_transform_value(kind: str, value, param=None, dtype=None):
    """Python twin of :func:`hidden_transform_expr` — see there.
    ``dtype`` is the bucket source column's Spark type (``df.dtypes``
    spelling) recorded at write time; when known it gates int probes to
    integer-typed columns, since the write-side md5 hashes the CAST
    rendering of the COLUMN type, not of the probe's Python type."""
    import datetime as _dt
    import decimal
    import hashlib

    if kind in ("days", "month"):
        d = value
        if isinstance(d, str):
            d = _dt.date.fromisoformat(d[:10])
        elif isinstance(d, _dt.datetime):
            d = d.date()
        if not isinstance(d, _dt.date):
            raise ValueError(f"not a date: {value!r}")
        if kind == "days":
            return (d - _dt.date(1970, 1, 1)).days
        return (d.year - 1970) * 12 + d.month - 1
    if kind == "truncate":
        if isinstance(value, bool) or not isinstance(value, int):
            raise ValueError(f"truncate needs an int: {value!r}")
        return (value // int(param)) * int(param)
    if kind == "bucket":
        # the rendering feeding md5 must equal Spark's CAST(c AS STRING)
        # exactly or the derived bucket prunes the wrong file: booleans
        # render 'true'/'false' there, and float/Decimal renderings
        # (Java Double.toString) are not reliably reproducible from
        # Python — refuse those so the derivation is skipped (pruning
        # stays an optimization) instead of silently wrong.
        if isinstance(value, bool):
            s = "true" if value else "false"
        elif isinstance(value, float):
            raise ValueError("bucket probe on float is engine-rendering-dependent")
        elif isinstance(value, decimal.Decimal):
            # Decimal('1.1') str()s as '1.1' while Spark CASTs a
            # decimal(10,2) value as '1.10' — scale padding makes the
            # rendering column-type-dependent, so refuse like float.
            raise ValueError("bucket probe on Decimal is engine-rendering-dependent")
        elif isinstance(value, int) and dtype is not None and dtype not in _BUCKET_INT_DTYPES:
            # an int probe against e.g. a decimal-typed bucket column
            # hashes '1' where the write side hashed '1.00': skip the
            # derivation so pruning stays conservative
            raise ValueError(f"int bucket probe against non-integer column type {dtype!r}")
        else:
            s = str(value)
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % int(param)
    raise ValueError(f"unknown hidden-partition transform {kind!r}")


# op on the SOURCE column -> conservative op on the (monotone)
# transformed value: col > X can hold inside the boundary partition
# T(X) itself, so strict ops relax to inclusive ones. Includes the
# word spellings _file_may_match accepts — a KeyError here would crash
# every pruned read on a hidden-partitioned table for an op that works
# fine on a plain one.
_MONOTONE_OP = {
    "=": "=",
    ">": ">=",
    "gt": ">=",
    ">=": ">=",
    "ge": ">=",
    "<": "<=",
    "lt": "<=",
    "<=": "<=",
    "le": "<=",
}


def _evolve_names(names: list[str], events: list) -> list[str]:
    """The name-level twin of :func:`_apply_evolution`: where a list of
    as-written column names ends up after the event log replays."""
    out = list(names)
    for i, ev in enumerate(events):
        kind, *args = ev
        for j, n in enumerate(out):
            if kind == "rename" and n == args[0]:
                out[j] = args[1]
            elif kind == "drop" and n == args[0]:
                out[j] = f"{_DROPPED_PREFIX}{i}"
    return out


def _alias_chain(col: str, events: list) -> list[str]:
    """Every as-written (physical) name a CURRENT logical column may
    carry in files, stats, blooms, or path segments — newest first.
    Walks the event log backwards; the walk STOPS at any event that
    gave the name away (an earlier ``rename col -> *`` or ``drop col``
    means files before that event spell a DIFFERENT column ``col``, and
    using their stats would prune on the wrong data)."""
    chain = [col]
    target = col
    for ev in reversed(events):
        kind, *args = ev
        if kind == "rename":
            if args[1] == target:
                target = args[0]
                chain.append(target)
            elif args[0] == target:
                break  # name was renamed AWAY earlier: older `col` is another column
        elif kind == "drop" and args[0] == target:
            break  # name was dropped earlier: older `col` is the dropped column
        elif kind == "add" and args[0] == target:
            break  # column born here: nothing earlier can spell it
    return chain


_CONTRACT_KEYS = ("schema_evolution", "hidden_partitions")


def _contract(m: Manifest | None) -> tuple:
    """What a snapshot's files were written under: its schema-evolution
    log and its hidden-partition layout, each None when absent."""
    meta = m.meta if m is not None else {}
    return meta.get("schema_evolution") or None, _layout_key(meta.get("hidden_partitions"))


def _layout_key(hidden_partitions: dict | None) -> dict | None:
    """A hidden-partition spec map's LAYOUT identity: (kind, src, param)
    per column, None for no layout. The optional 4th element is the
    probe-gate dtype annotation, which upgraded writers add to
    otherwise-identical specs — raw list equality would spuriously
    conflict an append whose physical layout never moved."""
    if not hidden_partitions:
        return None
    return {k: tuple(v[:3]) for k, v in hidden_partitions.items()}


# ops that add rows only (the stream source and views fold their added
# files); branch-fastforward carries a publish-time added list and is
# chosen ONLY when nothing on the branch line changed rows
_APPEND_OPS = {
    "commit",
    "append",
    "seed",
    "stream-append",
    "wap-publish",
    "branch-fastforward",
    "clone",
}
# ops that add no files and change no visible row
_NOOP_OPS = {"dv-consolidate", "wap-abort", "rename_column", "drop_column", "add_column"}


def _plan_vacuum(
    rels: list[str], keep: set[int], too_young, read_manifest
) -> tuple[list[str], set[int], list[str]]:
    """Vacuum's reachability, with no filesystem or clock access of its
    own: over every listed root-relative file ``rels``, the pinned
    versions ``keep`` and the injected ``too_young(rel)`` and
    ``read_manifest(v)``, return ``(manifest_drops, survivors,
    data_drops)`` — the root-relative files to delete and the versions
    whose manifests stay."""
    # Pass 1 over the manifest dir: decide which versions SURVIVE
    # (retained by policy or protected by the retention window).
    survivors: set[int] = set()
    manifest_drops: list[str] = []
    for rel in rels:
        if not rel.startswith(_MANIFEST_DIR + "/"):
            continue
        v = _version_of(rel)
        if v is None:
            # a crashed publisher's orphaned staging (v7.json.tmp.*,
            # tag tmp files) accumulates forever otherwise — a
            # streaming table's _manifest dir must stay bounded
            if ".tmp." in rel.rsplit("/", 1)[-1] and not too_young(rel):
                manifest_drops.append(rel)
            continue  # tag refs / hint file: never version-pruned
        if v in keep or too_young(rel):
            survivors.add(v)
        else:
            manifest_drops.append(rel)
    # Every surviving manifest's snapshot stays fully readable.
    live: set[str] = set()
    live_prefixes: set[str] = set()
    for v in survivors:
        try:
            m = read_manifest(v)
        except (FileNotFoundError, OSError):
            continue  # raced another vacuum: its files are gone too
        live.update(m.files)
        # merge-on-read delete vectors are live data too; each
        # vector path is a parquet DIRECTORY, so protect by prefix
        live_prefixes.update(
            dv["path"].rstrip("/") for dv in m.meta.get("delete_vectors", [])
        )
    # a directory is live while a live file or vector sits at or under
    # it: every such directory, built once for the sidecar check
    live_dirs = live | live_prefixes
    live_dirs |= {p[:i] for p in live_dirs for i, c in enumerate(p) if c == "/"}
    data_drops: list[str] = []
    for rel in rels:
        if rel.startswith(_MANIFEST_DIR + "/") or rel in live or any(
            rel == p or rel.startswith(p + "/") for p in live_prefixes
        ):
            continue  # manifest-dir files, live files, vector contents
        # Spark write sidecars (_SUCCESS, .crc) of a dead staging dir
        # outlive their parquet otherwise; only delete once NOTHING
        # live remains under the dir
        d, _, base = rel.rpartition("/")
        sidecar = base == "_SUCCESS" or base.startswith(".") or base.endswith(".crc")
        if (rel.endswith(".parquet") or (sidecar and d not in live_dirs)) and not too_young(rel):
            data_drops.append(rel)
    return manifest_drops, survivors, data_drops


class ManifestLog:
    """The manifest log of the table rooted at ``root_uri`` — a catalog
    is one with no data files. No method needs a SparkSession."""

    def __init__(self, root_uri: str):
        self.root = root_uri.rstrip("/")
        self.fs, self.root_path = get_filesystem(self.root)
        self._mdir = f"{self.root_path}/{_MANIFEST_DIR}"

    # ---------- read side ----------

    def versions(self) -> list[int]:
        try:
            infos = list_tree(self.root + "/" + _MANIFEST_DIR)
        except FileNotFoundError:
            return []
        out = []
        for el in infos:
            v = _version_of(el.path)
            if v is not None and not el.is_dir:
                out.append(v)
        return sorted(out)

    def latest_version(self) -> int | None:
        """Newest committed version — WITHOUT listing the manifest
        directory when a hint is available. A directory listing is
        O(total versions): a table taking streaming appends every
        minute accumulates ~500k manifests/year, and every read AND
        every commit-retry resolves the latest version, so the hot
        path must not scale with table age. The ``_latest`` hint file
        (updated best-effort after each publish, the ``_last_checkpoint``
        idea from Delta) gives a starting point that is verified and
        then PROBED FORWARD with one metadata call per newer version —
        correctness never depends on the hint: stale → a few probes,
        missing/corrupt/pruned → full listing fallback."""
        import pyarrow.fs as pafs

        hint = self._read_latest_hint()
        if hint is not None and (
            self.fs.get_file_info(f"{self._mdir}/v{hint}.json").type
            != pafs.FileType.NotFound
        ):
            v = hint
            while (
                self.fs.get_file_info(f"{self._mdir}/v{v + 1}.json").type
                != pafs.FileType.NotFound
            ):
                v += 1
            return v
        vs = self.versions()
        return vs[-1] if vs else None

    def _read_latest_hint(self) -> int | None:
        """Max over the CAS hint files (``_manifest/hint/<N>``) and the
        legacy ``_latest`` file written by older table versions. The
        hint dir holds at most a handful of files (each writer sweeps
        lower ones after landing its own), so the listing is O(1) in
        table age — unlike listing ``_manifest`` itself."""
        import pyarrow.fs as pafs

        best: int | None = None
        try:
            sel = pafs.FileSelector(f"{self._mdir}/hint", allow_not_found=True)
            for el in self.fs.get_file_info(sel):
                base = el.path.rsplit("/", 1)[-1]
                if ".tmp." not in base and base.isdigit():
                    v = int(base)
                    best = v if best is None or v > best else best
        except OSError:
            pass
        try:
            with self.fs.open_input_stream(f"{self._mdir}/_latest") as f:
                legacy = int(f.read().decode().strip())
            best = legacy if best is None or legacy > best else best
        except (OSError, FileNotFoundError, ValueError):
            pass
        return best

    def _write_latest_hint(self, version: int) -> None:
        """Best-effort and STRUCTURALLY monotonic: each version's hint
        is its own file ``_manifest/hint/<N>`` published with the
        no-overwrite CAS primitive, and the read side takes the max —
        so no interleaving of writers can regress the hint (the old
        read-check-write on one ``_latest`` file could: two stale
        readers, lower write lands last). Monotonicity matters since
        tag/branch pins let vacuum punch MID-LOG version gaps: a hint
        below a gap would make the gap-blind forward probe stop there
        and silently shadow the real head. After landing its own file
        a writer sweeps strictly-lower hint files (best-effort), so
        the dir stays O(writers-in-flight), not O(versions). Losing
        any race here still only costs later readers a probe or a
        listing, never correctness."""
        try:
            try:
                self.fs.create_dir(f"{self._mdir}/hint", recursive=True)
            except OSError:
                pass
            try:
                self._put_if_absent(f"{self._mdir}/hint/{version}", str(version).encode())
            except OSError:
                pass
            # sweep superseded hint FILES — pure hygiene: a failed
            # delete leaves a lower file the max simply ignores. The
            # legacy ``_latest`` file is deliberately LEFT IN PLACE:
            # deleting it would race a rolling-upgrade legacy writer
            # that read-modify-writes it past our hint between our
            # read and our delete (no CAS on delete), and losing that
            # race drops a hint AHEAD of ours — the exact monotonicity
            # violation this file format exists to prevent. max() over
            # hint/ plus the legacy file absorbs it instead; the cost
            # is one extra open+parse per read on pre-hint tables.
            import pyarrow.fs as pafs

            sel = pafs.FileSelector(f"{self._mdir}/hint", allow_not_found=True)
            for el in self.fs.get_file_info(sel):
                base = el.path.rsplit("/", 1)[-1]
                if ".tmp." not in base and base.isdigit() and int(base) < version:
                    try:
                        self.fs.delete_file(el.path)
                    except OSError:
                        pass
        except OSError:
            pass

    @staticmethod
    def _is_main(m: Manifest) -> bool:
        """True for MAIN-lineage commits. Staged write-audit-publish
        snapshots (``meta["wap"]``) and branch commits
        (``meta["branch"]``) occupy version numbers in the same log —
        they are time-travelable and vacuum-aware like any commit —
        but are invisible to the table's readers, its stream, and
        every later main commit's parent resolution."""
        return "wap" not in m.meta and "branch" not in m.meta

    def _main_manifest_at_or_below(self, v: int | None) -> Manifest | None:
        """Newest main-lineage manifest at version ``<= v``. Walks
        version NUMBERS downward (not parent pointers: a branch
        commit's parents lead to its fork base, not the live main
        head); version numbers are contiguous down to the vacuum
        horizon, and a read below it falls back to the listed version
        set. Cost is O(consecutive non-main commits at the top) — ONE
        manifest read on a table with no audit or branch write in
        flight, which is why this returns the manifest itself (the
        hot paths would otherwise read the head twice)."""
        # ONLY a genuine not-found walks past a version (vacuum pruned
        # it). A transient read error (storage throttling, network)
        # must PROPAGATE: swallowing it here would silently resolve an
        # OLDER manifest as the main head — a commit would then build
        # against a stale parent and drop the real head's files, and
        # vacuum's keep-walk would unpin the live head.
        while v is not None and v >= 1:
            try:
                m = self.read_manifest(v)
            except FileNotFoundError:
                for x in reversed([x for x in self.versions() if x <= v]):
                    try:
                        m = self.read_manifest(x)
                    except FileNotFoundError:
                        continue
                    if self._is_main(m):
                        return m
                return None
            if self._is_main(m):
                return m
            v -= 1
        return None

    def _main_version_at_or_below(self, v: int | None) -> int | None:
        m = self._main_manifest_at_or_below(v)
        return m.version if m is not None else None

    def current_version(self) -> int | None:
        """Newest MAIN-lineage version — the snapshot default reads
        resolve to. Staged WAP snapshots and branch commits at the top
        of the log are skipped; their content enters main only through
        an explicit :meth:`publish_wap` / :meth:`fast_forward`."""
        return self._main_version_at_or_below(self.latest_version())

    def read_manifest(self, version: int | None = None) -> Manifest:
        if version is None:
            m = self._main_manifest_at_or_below(self.latest_version())
            if m is None:
                raise FileNotFoundError(f"no committed manifest under {self.root}")
            return m
        with self.fs.open_input_stream(f"{self._mdir}/v{version}.json") as f:
            d = json.loads(f.read().decode())
        return Manifest(
            version=d["version"],
            files=list(d["files"]),
            operation=d.get("operation", "commit"),
            parent=d.get("parent"),
            meta=d.get("meta", {}),
            added=d.get("added"),
            committed_at=d.get("committed_at"),
        )

    def read_head(self, branch: str | None = None) -> Manifest:
        """The head snapshot of main, or of ``branch`` when given."""
        return self.read_manifest(self.branch_head(branch) if branch is not None else None)

    def commit_timestamp(self, version: int) -> float:
        """When ``version`` committed (epoch seconds): the in-commit
        timestamp when present, else the manifest file's store mtime
        (pre-upgrade manifests) — the same fallback order Delta uses
        for inCommitTimestamps."""
        m = self.read_manifest(version)
        if m.committed_at is not None:
            return m.committed_at
        info = self.fs.get_file_info(f"{self._mdir}/v{version}.json")
        if info.mtime is None:
            raise ValueError(f"no timestamp recoverable for v{version}")
        return info.mtime.timestamp()

    def version_as_of(self, ts) -> int:
        """Newest version committed at-or-before ``ts`` (epoch seconds
        or datetime) — AS OF TIMESTAMP resolution. Binary search over
        the retained version list: O(log n) manifest reads, so a table
        with years of streaming commits resolves a timestamp without
        touching its whole history. In-commit timestamps are strictly
        monotonic by construction (see ``_commit_with_retry``), which
        is what makes the binary search — and the answer — well
        defined even across writer clock skew. (Caveat: PRE-UPGRADE
        manifests resolve through file mtime, which nothing forces
        monotonic against in-commit timestamps — on a table whose
        history straddles that upgrade, resolution inside the mtime
        region is best-effort, the same exposure Delta documents for
        its own mtime fallback.)"""
        import datetime as _dt

        if isinstance(ts, _dt.datetime):
            ts = ts.timestamp()
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"no committed manifest under {self.root}")
        if ts < self.commit_timestamp(vs[0]):
            raise ValueError(
                f"timestamp {ts} precedes the earliest retained commit of "
                f"{self.root} (v{vs[0]}); earlier history may be vacuumed"
            )
        lo, hi = 0, len(vs) - 1
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if self.commit_timestamp(vs[mid]) <= ts:
                lo = mid
            else:
                hi = mid - 1
        # A staged WAP snapshot or branch commit was never visible on
        # main, so AS OF a timestamp inside its window answers with the
        # main head of that moment — the newest main version at or
        # below it. (In-commit timestamps are forced monotonic along
        # each lineage; staged/branch commits interleave in wall-clock
        # order, which keeps the search exact except under a clock
        # regression during an in-flight audit/branch write — there the
        # resolution degrades to the prior main snapshot, never to
        # unpublished content.)
        mv = self._main_version_at_or_below(vs[lo])
        if mv is None:
            raise ValueError(
                f"timestamp {ts} resolves only staged/branch snapshots of "
                f"{self.root}; nothing was published on main yet"
            )
        return mv

    def restore(self, version: int) -> int:
        """Delta-style RESTORE: publish a NEW commit whose content is
        exactly the table state at ``version`` — time travel's
        write-side twin. History is preserved (the rolled-back commits
        stay time-travelable until vacuum); only the live snapshot
        moves. ZERO data files are copied: the restore commit re-lists
        the old snapshot's files, which also re-protects them from
        vacuum. Content metadata (delete vectors, zone maps/Blooms,
        the schema-evolution log) comes wholesale from the restored
        snapshot — restoring past a rename rolls the live schema back
        too — while stream high-water marks keep carrying forward
        (they are replay protection, not content; resetting them would
        double-land an idempotent sink's replayed batches). RESTORE is
        deliberately last-writer-wins: a concurrent append between
        resolve and publish is rolled back with everything else —
        that is what restoring to a point in time means.

        RESTORE vs concurrent VACUUM: the restored files are OLD (old
        mtime), so the retention window that protects a compaction's
        freshly-staged files does not protect them — a vacuum pass
        that resolved its live set before this restore published can
        delete them just after (the same documented exposure as Delta
        RESTORE racing VACUUM). The pre-publish existence check
        narrows the window and the post-publish re-check turns the
        remaining sliver into a LOUD :class:`SnapshotVacuumedError`
        (re-run the restore from a retained version) instead of a
        silently dangling live snapshot. Don't schedule vacuum
        concurrently with restores of beyond-retention snapshots."""
        old = self.read_manifest(version)
        # restoring a half-vacuumed snapshot would publish dangling refs
        self._check_not_vacuumed(old)
        # stream_txn: replay protection carries forward, never resets.
        # WAP markers don't re-carry either: a restored "wap" marker
        # would stage the restore itself, and a re-carried
        # "wap_published"/"wap_aborted" marker would confuse a later
        # publish's idempotence walk.
        meta = _content_meta(old.meta)
        meta["restored_from"] = version
        v = self._commit_with_retry(list(old.files), "restore", meta, carry=False)
        self._check_not_vacuumed(self.read_manifest(v))
        return v

    def history(self, limit: int | None = None) -> list[dict]:
        """DESCRIBE HISTORY: one entry per retained version, NEWEST
        first — version, operation, commit timestamp, parent, file
        counts, and files added/removed vs the parent. ``limit`` bounds
        the manifest reads (the common ``history(20)`` on a table with
        years of commits reads 20 manifests, not all of them).
        ``n_removed`` is None when the parent manifest was vacuum-
        pruned (the diff needs both sides; ``added`` is publish-time
        recorded so it survives)."""
        vs = sorted(self.versions(), reverse=True)
        if limit is not None:
            vs = vs[:limit]
        manifests = {v: self.read_manifest(v) for v in vs}
        out = []
        for v in vs:
            m = manifests[v]
            entry = {
                "version": v,
                "operation": m.operation,
                "timestamp": m.committed_at,
                "parent": m.parent,
                "n_files": len(m.files),
                "n_added": len(m.added) if m.added is not None else None,
                "n_removed": None,
                # staged write-audit-publish snapshots and branch
                # commits show in history (they are real commits) but
                # flagged, with their wap id / branch name
                "staged": "wap" in m.meta,
                "wap_id": (
                    m.meta.get("wap")
                    or m.meta.get("wap_published")
                    or m.meta.get("wap_aborted")
                    or {}
                ).get("id"),
                "branch": (m.meta.get("branch") or {}).get("name"),
            }
            if m.parent is not None:
                parent = manifests.get(m.parent)
                if parent is None:
                    try:
                        parent = self.read_manifest(m.parent)
                    except FileNotFoundError:
                        parent = None
                if parent is not None:
                    cur = set(m.files)
                    entry["n_removed"] = sum(1 for f in parent.files if f not in cur)
                    if entry["n_added"] is None:
                        pf = set(parent.files)
                        entry["n_added"] = sum(1 for f in m.files if f not in pf)
            elif m.parent is None:
                entry["n_removed"] = 0
                if entry["n_added"] is None:
                    entry["n_added"] = len(m.files)
            out.append(entry)
        return out

    def detail(self) -> dict:
        """DESCRIBE DETAIL: a one-call summary of the live table —
        location, current version, file count and total bytes,
        partition columns (hive segments + hidden-partition sources),
        delete-vector count, retained version span, and the ref
        surface (tags, branches). Metadata-only: one manifest read
        plus one batched file-info call."""
        import pyarrow.fs as pafs

        m = self.read_manifest()
        infos = self.fs.get_file_info([f"{self.root_path}/{f}" for f in m.files])
        size = sum(i.size or 0 for i in infos if i.type == pafs.FileType.File)
        part_cols: list[str] = []
        for f in m.files:
            for k, _v in _hive_segments_of(f):
                if k not in part_cols:
                    part_cols.append(k)
        hidden = m.meta.get("hidden_partitions", {})
        vs = self.versions()
        return {
            "location": self.root,
            "format": "parquet+manifest",
            "version": m.version,
            "committed_at": m.committed_at,
            "operation": m.operation,
            "num_files": len(m.files),
            "size_bytes": size,
            "partition_columns": [c for c in part_cols if c not in hidden],
            "hidden_partitions": {k: list(v) for k, v in hidden.items()},
            "num_delete_vectors": len(m.meta.get("delete_vectors", [])),
            "earliest_retained_version": vs[0] if vs else None,
            "latest_version": vs[-1] if vs else None,
            "tags": self.tags(),
            "branches": self.branches(),
        }

    # ---------- named tags (immutable snapshot refs) ----------

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin ``version`` (default: the current main head) under an
        immutable name — the Iceberg tag model. A tag is a retention
        ref, not a copy: ``read(tag=...)`` resolves it, and ``vacuum``
        keeps the tagged snapshot's manifest and every file it
        references alive regardless of ``keep_versions``, so an audit
        or reproducibility baseline ('the exact training set of run X')
        survives arbitrary later rewrites. Publish is the same
        no-overwrite primitive as manifest commits, so two racers
        creating the same tag get exactly one winner
        (``FileExistsError`` for the loser — tags never silently
        move; delete + recreate to retarget)."""
        if not _TAG_NAME_RE.fullmatch(name):
            raise ValueError(f"invalid tag name {name!r}")
        if version is None:
            version = self.current_version()
            if version is None:
                raise FileNotFoundError(f"no committed manifest under {self.root}")
        # tagging a vanished version would pin nothing
        m = self.read_manifest(version)
        self.fs.create_dir(f"{self.root_path}/{_TAGS_DIR}", recursive=True)
        self._put_if_absent(
            f"{self.root_path}/{_TAGS_DIR}/{name}.json",
            json.dumps({"name": name, "version": m.version}).encode(),
        )
        return m.version

    def tags(self) -> dict[str, int]:
        """All tags as ``{name: version}``."""
        try:
            infos = list_tree(f"{self.root}/{_TAGS_DIR}")
        except FileNotFoundError:
            return {}
        out: dict[str, int] = {}
        for el in infos:
            base = el.path.rsplit("/", 1)[-1]
            if el.is_dir or not base.endswith(".json") or ".tmp." in base:
                continue
            # foreign/garbage content is skipped, but a READ error must
            # propagate: vacuum builds its pin set from this listing,
            # and a transient error silently dropping a tag would let
            # vacuum permanently delete the pinned snapshot. (Torn
            # files cannot exist at the final path — publish is an
            # atomic no-overwrite move.)
            try:
                with self.fs.open_input_stream(el.path) as f:
                    d = json.loads(f.read().decode())
                out[d["name"]] = int(d["version"])
            except FileNotFoundError:
                continue  # deleted between listing and read
            except (ValueError, KeyError):
                continue  # foreign file: not a tag
        return out

    def tag_version(self, name: str) -> int:
        v = self.tags().get(name)
        if v is None:
            raise FileNotFoundError(f"no tag {name!r} on {self.root}")
        return v

    def delete_tag(self, name: str) -> None:
        """Drop the ref (the snapshot stays until vacuum outlives it)."""
        if not _TAG_NAME_RE.fullmatch(name):
            raise ValueError(f"invalid tag name {name!r}")
        try:
            self.fs.delete_file(f"{self.root_path}/{_TAGS_DIR}/{name}.json")
        except FileNotFoundError:
            raise FileNotFoundError(f"no tag {name!r} on {self.root}") from None

    @staticmethod
    def _has_positional_dvs(m: Manifest) -> bool:
        return any(
            dv.get("type") == "positional" for dv in m.meta.get("delete_vectors", [])
        )

    def _vector_files(self, dv: dict) -> set[str]:
        """The data files a positional vector names, read on the driver
        (vectors are tiny by construction — no Spark job)."""
        import pyarrow.parquet as pq

        col = pq.read_table(
            f"{self.root_path}/{dv['path']}", columns=["file"], filesystem=self.fs
        ).column(0)
        return set(col.unique().to_pylist())

    def _check_not_vacuumed(self, m: Manifest) -> None:
        """Raise SnapshotVacuumedError if any file (or delete-vector
        directory) the manifest references no longer exists. One
        batched pyarrow metadata call for the whole list."""
        import pyarrow.fs as pafs

        targets = [f"{self.root_path}/{p}" for p in m.files] + [
            f"{self.root_path}/{dv['path'].rstrip('/')}"
            for dv in m.meta.get("delete_vectors", [])
        ]
        infos = self.fs.get_file_info(targets)
        missing = [
            t[len(self.root_path) + 1 :]
            for t, info in zip(targets, infos)
            if info.type == pafs.FileType.NotFound
        ]
        if missing:
            raise SnapshotVacuumedError(self.root, m.version, missing)

    # ---------- write side ----------

    def _publish(self, manifest: Manifest) -> int:
        """Atomically publish a manifest at its version; raise if that
        version was committed first by someone else."""
        import pyarrow.fs as pafs

        self.fs.create_dir(self._mdir, recursive=True)
        final = f"{self._mdir}/v{manifest.version}.json"
        # exists-check is advisory (fast fail); the no-overwrite move
        # below is the real gate.
        if self.fs.get_file_info(final).type != pafs.FileType.NotFound:
            raise FileExistsError(final)
        payload = json.dumps(
            {
                "version": manifest.version,
                "files": manifest.files,
                "operation": manifest.operation,
                "parent": manifest.parent,
                "meta": manifest.meta,
                **({"added": manifest.added} if manifest.added is not None else {}),
                **(
                    {"committed_at": manifest.committed_at}
                    if manifest.committed_at is not None
                    else {}
                ),
            },
            separators=(",", ":"),
        ).encode()
        # no-overwrite publish: losing a race on the same version raises
        self._put_if_absent(final, payload)
        self._write_latest_hint(manifest.version)
        return manifest.version

    def _put_if_absent(self, final: str, payload: bytes) -> None:
        """Write ``payload`` at ``final`` unless ``final`` exists — the
        one publish primitive for every file in the log (version
        files, tags, branch refs, hints). The payload is staged at
        ``{final}.tmp.<run>`` and published by :meth:`_no_overwrite_move`;
        a lost race raises ``FileExistsError`` and removes the staged
        file, so no tmp file outlives the call."""
        tmp = f"{final}.tmp.{uuid.uuid4().hex[:8]}"
        with self.fs.open_output_stream(tmp) as f:
            f.write(payload)
        try:
            self._no_overwrite_move(tmp, final)
        except Exception:
            try:
                self.fs.delete_file(tmp)
            except FileNotFoundError:
                pass
            raise

    def _no_overwrite_move(self, tmp: str, final: str) -> None:
        """Publish ``tmp`` at ``final`` failing if ``final`` exists.

        POSIX rename OVERWRITES an existing destination, so a
        check-then-move is a race: two committers of the same version
        can both pass the exists-check and the second rename silently
        replaces the first — two "successful" commits, one lost (found
        by the N-writer contention property test under load). On
        local-backed stores (file://, mock://) the publish is a HARD
        LINK instead: ``os.link`` is atomic and raises EEXIST if the
        destination appeared, closing the window completely. Other
        stores keep exists-check + move as the stand-in for their
        SDK's conditional put (ETag if-none-match), which is the real
        primitive there."""
        import os

        import pyarrow.fs as pafs

        local_tmp = local_final = None
        if isinstance(self.fs, pafs.LocalFileSystem):
            local_tmp, local_final = tmp, final
        elif isinstance(self.fs, pafs.PyFileSystem) and self.fs.type_name.startswith("py::mock"):
            from octopufs_spark.fs import mockfs

            local_tmp = os.path.join(mockfs.MOCKFS_ROOT, tmp.lstrip("/"))
            local_final = os.path.join(mockfs.MOCKFS_ROOT, final.lstrip("/"))
        if local_final is not None:
            try:
                os.link(local_tmp, local_final)
            except FileExistsError:
                raise FileExistsError(final) from None
            os.unlink(local_tmp)
        else:
            if self.fs.get_file_info(final).type != pafs.FileType.NotFound:
                raise FileExistsError(final)
            self.fs.move(tmp, final)

    def _data_files_under(self, subdir: str) -> list[str]:
        els = list_tree(f"{self.root}/{subdir}")
        # paths relative to the table root, so partitioned layouts
        # (subdir/year=2024/part-*.parquet) carry their partition dirs
        return sorted(
            el.path[len(self.root_path) + 1 :]
            for el in els
            if not el.is_dir and el.path.endswith(".parquet")
        )

    def commit_overwrite(
        self,
        staged_subdir: str,
        operation: str = "overwrite",
        meta: dict | None = None,
        wap_id: str | None = None,
        branch: str | None = None,
    ) -> int:
        """Publish the parquet files under ``root/staged_subdir`` as the
        table's complete new content (full-snapshot commit). Retries the
        version number on loser-side race, never rewrites data files."""
        files = self._data_files_under(staged_subdir)
        if not files:
            raise ValueError(f"nothing staged under {self.root}/{staged_subdir}")
        return self._commit_with_retry(files, operation, meta, wap_id=wap_id, branch=branch)

    def commit_append(
        self,
        files: list[str],
        meta: dict | None = None,
        operation: str = "append",
        wap_id: str | None = None,
        branch: str | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int | None:
        """Publish staged ``files`` on top of the lineage head's files —
        the one append commit (batch appends, stream micro-batches, the
        ``format("manifest")`` writer). The parent's content metadata
        (zone maps, blooms, vectors, evolution log) carries forward
        against the LIVE parent at publish time.

        Appends must conform to the table's hidden-partition layout:
        ``meta["hidden_partitions"]`` is the layout the files were staged
        under (absent for a plain append), and the build re-verifies it
        against the live parent on every attempt. A mismatch — a layout
        adopted or changed by a racing overwrite after the staging-time
        check (:func:`_check_append_layout`), or a writer that never
        checked — raises :class:`ConcurrentModificationError` with
        nothing published: the files were written under another layout,
        and landing them would break pruning or the by-name union every
        read performs. The first commit of an empty table adopts any
        layout. ``txn`` is the exactly-once pair (see
        :meth:`_commit_with_retry`); returns None when it already
        landed."""
        staged_layout = _layout_key((meta or {}).get("hidden_partitions"))

        def build(parent: Manifest | None) -> list[str]:
            if parent is None:
                return sorted(files)
            live_layout = _layout_key(parent.meta.get("hidden_partitions"))
            if live_layout != staged_layout:
                raise ConcurrentModificationError(
                    f"append does not conform to the hidden-partition layout of "
                    f"{self.root}: live {live_layout}, staged {staged_layout} — the "
                    "staged files were written under another layout; re-stage "
                    "them conforming to the live one, or change the layout via "
                    "overwrite"
                )
            return sorted(parent.files + files)

        return self._commit_with_retry(
            build, operation, meta, wap_id=wap_id, branch=branch, txn=txn
        )

    def commit_rewrite(
        self,
        read: Manifest | None,
        replaced: list[str],
        staged: list[str],
        operation: str,
        meta: dict | None = None,
        *,
        retired: list[str] = (),
        inserts: bool = False,
        branch: str | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int | None:
        """Publish ``staged`` in place of the ``replaced`` files of the
        snapshot ``read`` (None: the table was empty) — the one rewrite
        commit, under the read-set rule of the module docstring.
        ``meta["delete_vectors"]`` holds only the vectors the commit
        adds (the live parent's carry at publish; a copy of ``read``'s
        would resurface what a racing rewrite retired), and ``retired``
        the paths of vectors of ``read`` it folded into them.
        ``inserts``: the staged rows may re-insert keys an equality
        vector of ``read`` deletes. ``branch`` and ``txn`` are those of
        :meth:`_commit_with_retry`; returns the committed version, or
        None when ``txn`` already landed. A positional vector of
        ``read`` naming only replaced files is dropped, not carried."""
        replaced_set = set(replaced)
        read_vectors = read.meta.get("delete_vectors", []) if read else []
        read_paths = {dv["path"] for dv in read_vectors}
        # a commit that replaces nothing (a delete) reads no vector here
        dead = [
            dv["path"]
            for dv in (read_vectors if replaced_set else [])
            if dv.get("type") == "positional" and self._vector_files(dv) <= replaced_set
        ]
        if dead or retired:
            meta = {**(meta or {}), "replaced_vector_paths": dead + list(retired)}
        added = (meta or {}).get("delete_vectors", [])
        named = set().union(
            *(self._vector_files(dv) for dv in added if dv.get("type") == "positional")
        )
        shadows = inserts and any(not dv.get("type") for dv in read_vectors)
        since = f"v{read.version}" if read else "an empty table"
        read_contract = _contract(read)

        def conflict(why: str) -> ConcurrentModificationError:
            return ConcurrentModificationError(
                f"{operation} of {self.root} conflicts with a commit since it read "
                f"{since}: {why} — re-run it against the new snapshot"
            )

        def build(parent: Manifest | None) -> list[str]:
            for key, was, now in zip(_CONTRACT_KEYS, read_contract, _contract(parent)):
                if was != now:
                    raise conflict(f"the table's {key} changed")
            live = parent.files if parent else []
            gone = replaced_set.difference(live)
            if gone:
                raise conflict(f"{len(gone)} replaced file(s) left, e.g. {min(gone)!r}")
            lost = named.difference(live)
            if lost:
                raise conflict(f"a concurrent rewrite took {min(lost)!r}, named by the added vector")
            parent_vectors = parent.meta.get("delete_vectors", []) if parent else []
            unretired = set(retired).difference(dv["path"] for dv in parent_vectors)
            if unretired:
                raise conflict(f"retired delete vector {min(unretired)!r} left")
            kept = [f for f in live if f not in replaced_set]
            for dv in parent_vectors:
                if dv["path"] in read_paths:
                    continue
                if not kept:
                    raise conflict(f"delete vector {dv['path']!r} would drop unapplied")
                if replaced_set and dv.get("type") == "positional" and (
                    self._vector_files(dv) & replaced_set
                ):
                    raise conflict(
                        f"positional delete vector {dv['path']!r} names replaced files"
                    )
            if kept and shadows:
                raise conflict(
                    f"{len(kept)} carried file(s) need the equality vectors "
                    "the re-inserted rows must escape"
                )
            return sorted(kept + staged)

        return self._commit_with_retry(build, operation, meta, branch=branch, txn=txn)

    # ---------- write-audit-publish (staged snapshots) ----------

    def find_wap(self, wap_id: str) -> int:
        """Newest staged snapshot carrying ``wap_id``. This scans the
        version log newest-first (staged snapshots sit at the top while
        an audit is in flight, so the scan is short in practice) — the
        staging call's return value is the cheaper handle when the
        stager and publisher share state."""
        for v in sorted(self.versions(), reverse=True):
            try:
                m = self.read_manifest(v)
            except FileNotFoundError:
                continue  # pruned under the scan; transient errors propagate
            w = m.meta.get("wap")
            if w and w.get("id") == wap_id:
                return v
        raise FileNotFoundError(f"no staged snapshot with wap_id {wap_id!r} on {self.root}")

    def _walk_wap_outcome(
        self, start: Manifest | None, base_v: int | None, staged_v: int, done: str, error: str
    ) -> None:
        """Walk main lineage from ``start`` back to the staged base for
        a prior publish/abort of ``staged_v``. An outcome of kind
        ``done`` ('published' or 'aborted') raises
        :class:`_AlreadyResolved` with its version, so the commit loop
        returns it; the other kind raises ``ValueError(error)``, with
        ``{at}`` in ``error`` filled by its version. Returns None when
        neither landed.
        Runs INSIDE the commit build so a concurrent publisher's commit
        is seen on retry — two racing publishers converge on one
        published version instead of double-applying the batch. The
        walk stops BEFORE the base (the base predates the staging, so
        it cannot carry our outcome marker — and it may already be
        vacuum-pruned) and tolerates pruned older lineage: a marker
        old enough to be vacuumed means a republish lands as a no-op
        (every staged file already in the head dedups out)."""
        p = start
        while p is not None and p.version != base_v:
            for kind in ("published", "aborted"):
                mark = p.meta.get(f"wap_{kind}")
                if mark and mark.get("staged_version") == staged_v:
                    if kind == done:
                        raise _AlreadyResolved(p.version)
                    raise ValueError(error.format(at=p.version))
            if p.parent is None or p.parent == base_v:
                break
            try:
                p = self.read_manifest(p.parent)
            except FileNotFoundError:
                break  # marker old enough to be vacuumed: republish dedups

    def publish_wap(
        self,
        wap_id: str | None = None,
        version: int | None = None,
        on_conflict: str = "error",
    ) -> int:
        """Publish a staged write-audit-publish snapshot onto main —
        the Iceberg WAP 'cherry-pick' step. The staged snapshot (see
        ``write_and_commit(wap_id=...)``) was committed against a base
        main head and audited via ``read(version=staged)``; publishing
        re-commits its content as a NORMAL main commit:

        - base still the head → FAST-FORWARD: the staged file list and
          its content metadata publish wholesale (op ``wap-publish``,
          or ``wap-publish-replace`` when the staged commit removed
          base files — the stream source treats only the former as an
          append).
        - main advanced and the staged commit was a PURE APPEND → its
          added files re-apply on the new head (zone maps/Blooms for
          the staged files merge in; vectors/evolution/layout carry
          from the LIVE head, exactly like a plain append racing those
          commits). A schema-evolution or hidden-layout change since
          staging aborts instead: the staged files were written under
          the old contract.
        - main advanced and the staged commit replaced/removed files →
          :class:`ConcurrentModificationError` (re-stage against the
          new head), the same reconcile-or-abort line every other
          maintenance commit draws.

        Publishing is IDEMPOTENT per staged version: the conflict walk
        runs inside the commit build, so racing/replayed publishers
        return the one already-published version instead of applying
        the batch twice. Publishing an aborted snapshot fails. The case
        is picked in the build too, from the parent it builds on: a
        head that advances mid-call is re-resolved by the next commit
        attempt.

        ``on_conflict="force-replace"`` changes the third case for a
        REPLACE-TYPE staged snapshot only: instead of aborting, the
        staged file list publishes onto the advanced head as the new
        snapshot — racing direct writes are dropped, which is exactly
        what a blind overwrite means. Callers whose flip already
        committed elsewhere (the multi-table catalog) use this to make
        convergence unconditional; interactive WAP keeps the abort
        default. Append-type conflicts (schema/layout changed under
        the staged files) still abort either way — force-applying
        files written under an old contract would corrupt, not
        converge."""
        if (wap_id is None) == (version is None):
            raise ValueError("pass exactly one of wap_id, version")
        if on_conflict not in ("error", "force-replace"):
            raise ValueError(f"unsupported on_conflict {on_conflict!r}")
        v = version if version is not None else self.find_wap(wap_id)
        s = self.read_manifest(v)
        wap = s.meta.get("wap")
        if wap is None:
            raise ValueError(f"v{v} of {self.root} is not a staged WAP snapshot")
        # publishing dangling refs would corrupt main (staged snapshots
        # older than the vacuum retention window expire)
        self._check_not_vacuumed(s)
        # Everything publish needs about the staging comes from the
        # staged manifest itself — base version number, its publish-time
        # added list, the removed-count in the wap marker, and its
        # CARRIED copy of the base's evolution/layout meta. The base
        # manifest is never read: a stale staged snapshot can outlive it
        # (vacuum prunes the base once main advances past it while the
        # younger staged snapshot is still retention-protected), and
        # publishing a pure append needs no base content anyway.
        base_v = wap.get("base")
        s_added = list(s.added) if s.added is not None else list(s.files)
        # missing "removed" (a marker this code didn't write) reads as
        # NOT pure — the conservative side is a conflict abort, never a
        # silently-dropped base removal
        pure_append = wap.get("removed") == 0
        content_meta = _content_meta(s.meta)
        marker = {"wap_published": {"id": wap.get("id"), "staged_version": v}}
        # re-apply: content metadata comes from the LIVE head via the
        # carry; the staged commit contributes only what describes its
        # own added files: skipping metadata, and its data schema (a
        # snapshot's schema holds for every file in it)
        reapply_meta = dict(marker)
        if "data_schema" in content_meta:
            reapply_meta["data_schema"] = content_meta["data_schema"]
        fstats = content_meta.get("file_stats") or {}
        sub = {f: fstats[f] for f in s_added if f in fstats}
        if sub:
            reapply_meta["file_stats"] = sub
        blooms = content_meta.get("bloom_index") or {}
        bsub = {col: {f: per[f] for f in s_added if f in per} for col, per in blooms.items()}
        bsub = {col: per for col, per in bsub.items() if per}
        if bsub:
            reapply_meta["bloom_index"] = bsub

        def build(parent: Manifest | None):
            self._walk_wap_outcome(
                parent, base_v, v, done="published",
                error=f"staged snapshot v{v} was aborted at v{{at}}; re-stage to publish",
            )
            if (parent.version if parent else None) == base_v or (
                not pure_append and on_conflict == "force-replace"
            ):
                # fast-forward, or a forced replace onto the advanced
                # head (the staged snapshot IS the committed truth for
                # this table — the caller's flip already landed): the
                # snapshot's files and its own content metadata
                return list(s.files), {**content_meta, **marker}
            if not pure_append:
                raise ConcurrentModificationError(
                    f"staged snapshot v{v} replaces files of base v{base_v}, but "
                    f"{self.root} advanced to v{parent.version if parent else None} "
                    "since staging — re-stage against the new head"
                )
            # s carried the base's evolution log / hidden layout at
            # stage time (a pure append never alters either), so the
            # staged meta doubles as the base's copy for this check.
            for key, a, b in zip(_CONTRACT_KEYS, _contract(parent), _contract(s)):
                if a != b:
                    raise ConcurrentModificationError(
                        f"table {key} changed since v{v} was staged against "
                        f"v{base_v} — the staged files were written under the "
                        "old contract; re-stage"
                    )
            pf = set(parent.files)
            files = sorted(parent.files + [f for f in s_added if f not in pf])
            # files holds every parent file, so it retains one iff any exist
            return files, self._carry_content_meta(
                parent, files, reapply_meta, retains=bool(parent.files)
            )

        op = "wap-publish" if pure_append else "wap-publish-replace"
        return self._commit_with_retry(build, op, None, carry=False)

    def abort_wap(self, wap_id: str | None = None, version: int | None = None) -> int:
        """Mark a staged snapshot dead without publishing it. The abort
        is itself a no-op MAIN commit (op ``wap-abort``, same file list
        as its parent) carrying an ``wap_aborted`` marker — deleting
        the staged manifest instead would punch a mid-log version gap
        and break ``latest_version``'s forward probe. A subsequent
        ``publish_wap`` of the same staged version fails loudly; the
        staged manifest and its data files expire through vacuum's
        normal retention window."""
        if (wap_id is None) == (version is None):
            raise ValueError("pass exactly one of wap_id, version")
        v = version if version is not None else self.find_wap(wap_id)
        s = self.read_manifest(v)
        wap = s.meta.get("wap")
        if wap is None:
            raise ValueError(f"v{v} of {self.root} is not a staged WAP snapshot")
        base_v = wap.get("base")
        marker = {"wap_aborted": {"id": wap.get("id"), "staged_version": v}}

        def build(parent: Manifest | None) -> list[str]:
            self._walk_wap_outcome(
                parent, base_v, v, done="aborted",
                error=f"staged snapshot v{v} was already published at v{{at}}; "
                "aborting now would not retract it",
            )
            return list(parent.files) if parent else []

        return self._commit_with_retry(build, "wap-abort", marker)

    # ---------- named branches (writable refs) ----------

    def _branch_dir(self, name: str) -> str:
        if not _TAG_NAME_RE.fullmatch(name):
            raise ValueError(f"invalid branch name {name!r}")
        return f"{self.root_path}/{_BRANCHES_DIR}/{name}"

    def create_branch(self, name: str, version: int | None = None) -> int:
        """Fork a writable branch at ``version`` (default: the current
        main head) — the Iceberg branch model generalizing WAP from
        one staged commit to a whole staged LINEAGE: commits targeted
        at the branch (``write_and_commit(branch=...)``) chain off the
        branch head, stay invisible to main, and land on main only
        through :meth:`fast_forward`. The branch head is a CAS ref — a
        directory of monotonically numbered seq files whose writes use
        the same no-overwrite primitive as manifest publishes, so two
        racing branch committers get exactly one winner and the loser
        rebuilds (its already-published manifest becomes an invisible
        orphan for vacuum). Duplicate creation fails
        (``FileExistsError``); delete + recreate to re-fork."""
        if version is None:
            version = self.current_version()
            if version is None:
                raise FileNotFoundError(f"no committed manifest under {self.root}")
        m = self.read_manifest(version)  # forking a vanished version pins nothing
        refdir = self._branch_dir(name)
        self.fs.create_dir(refdir, recursive=True)
        # the incarnation nonce distinguishes THIS branch line from a
        # later delete+recreate under the same name — even from the
        # same fork base, which (name, base) alone cannot tell apart.
        # Branch commits stamp it; streams pin it and refuse commits
        # (and checkpoints) of another incarnation.
        self._cas_ref(refdir, 1, m.version, incarnation=uuid.uuid4().hex[:12])
        return m.version

    def _cas_ref(
        self, refdir: str, seq: int, version: int, incarnation: str | None = None
    ) -> None:
        payload: dict = {"version": version}
        if incarnation is not None:
            payload["incarnation"] = incarnation
        self._put_if_absent(f"{refdir}/{seq}.json", json.dumps(payload).encode())

    def _branch_head_seq(self, name: str) -> tuple[int, int, str | None]:
        """(seq, version, incarnation) of the branch's newest ref
        entry (incarnation None for refs created before the nonce)."""
        refdir = self._branch_dir(name)
        try:
            infos = list_tree(refdir.replace(self.root_path, self.root, 1))
        except FileNotFoundError:
            raise FileNotFoundError(f"no branch {name!r} on {self.root}") from None
        best: tuple[int, int] | None = None
        for el in infos:
            base = el.path.rsplit("/", 1)[-1]
            mm = re.fullmatch(r"(\d+)\.json", base)
            if el.is_dir or not mm:
                continue
            seq = int(mm.group(1))
            if best is None or seq > best[0]:
                # same rule as tags(): only not-found/foreign skip; a
                # transient read error propagates (vacuum pins branch
                # heads from this resolution)
                try:
                    with self.fs.open_input_stream(el.path) as f:
                        payload = json.loads(f.read().decode())
                        ver = int(payload["version"])
                except FileNotFoundError:
                    continue  # ref deleted between listing and read
                except (ValueError, KeyError):
                    continue  # foreign file
                best = (seq, ver, payload.get("incarnation"))
        if best is None:
            raise FileNotFoundError(f"no branch {name!r} on {self.root}")
        return best

    def branch_head(self, name: str) -> int:
        return self._branch_head_seq(name)[1]

    def branch_incarnation(self, name: str) -> str | None:
        """The branch line's creation nonce (None on pre-nonce refs)."""
        return self._branch_head_seq(name)[2]

    def branches(self) -> dict[str, int]:
        """All branches as ``{name: head_version}``."""
        try:
            infos = list_tree(f"{self.root}/{_BRANCHES_DIR}")
        except FileNotFoundError:
            return {}
        names = {
            el.path.rstrip("/").rsplit("/", 1)[-1] for el in infos if el.is_dir
        }
        out: dict[str, int] = {}
        for n in sorted(names):
            try:
                out[n] = self.branch_head(n)
            except FileNotFoundError:
                continue
        return out

    def delete_branch(self, name: str) -> None:
        """Drop the ref; the branch's commits expire through vacuum."""
        refdir = self._branch_dir(name)
        try:
            infos = list_tree(refdir.replace(self.root_path, self.root, 1))
        except FileNotFoundError:
            raise FileNotFoundError(f"no branch {name!r} on {self.root}") from None
        for el in infos:
            if not el.is_dir:
                self.fs.delete_file(el.path)
        self.fs.delete_dir(refdir)

    def _advance_branch(self, name: str, version: int, expected: int | None) -> bool:
        """CAS the branch head from ``expected`` to ``version``; False
        on a lost race (someone else advanced the ref first)."""
        try:
            seq, head, inc = self._branch_head_seq(name)
        except FileNotFoundError:
            return False  # branch deleted under the committer
        if head != expected:
            return False
        try:
            # the incarnation rides every advance so the newest ref
            # file (the one resolution reads) always carries it
            self._cas_ref(self._branch_dir(name), seq + 1, version, incarnation=inc)
        except FileExistsError:
            return False
        return True

    def fast_forward(self, name: str) -> int:
        """Publish the branch head's content onto main — legal only
        while main still sits at the branch's FORK POINT (the Iceberg
        fast-forward contract: main must be an ancestor of the branch).
        The publish is metadata-only: the new main commit lists the
        branch head's files and takes its content metadata wholesale
        (the branch carried vectors/stats/evolution commit by commit).
        If main advanced since the fork — including a racing
        fast-forward of the same branch — the commit aborts with
        :class:`ConcurrentModificationError`; rebase by re-creating
        the branch from the new head. The branch ref itself stays
        where it was (re-fork to continue the line)."""
        bh = self.branch_head(name)
        h = self.read_manifest(bh)
        bmeta = h.meta.get("branch")
        if bmeta is None:
            # ref still at its fork point: nothing staged, nothing to do
            return bh
        self._check_not_vacuumed(h)
        base = bmeta.get("base")
        content_meta = _content_meta(h.meta)
        # append-flavored only when NOTHING on the line changed rows
        # beyond pure addition (no removed files, no new delete
        # vectors) — the stream treats "branch-fastforward" as an
        # append, so a rows-changed line must be the replace op.
        # Markers without "changed" (written before the flag) fall
        # back to removed-count, defaulting to replace when absent.
        op = (
            "branch-fastforward"
            if not bmeta.get("changed", bmeta.get("removed", 1) != 0)
            else "branch-fastforward-replace"
        )

        def build(parent: Manifest | None) -> list[str]:
            if (parent.version if parent else None) != base:
                raise ConcurrentModificationError(
                    f"cannot fast-forward branch {name!r}: main is at "
                    f"v{parent.version if parent else None}, not the fork point "
                    f"v{base} — re-create the branch from the new head and replay"
                )
            return list(h.files)

        meta = {**content_meta, "branch_published": {"name": name, "head": bh}}
        return self._commit_with_retry(build, op, meta, carry=False)

    # ---------- metadata-only schema evolution ----------

    def _logical_columns(self, m: Manifest) -> set[str]:
        """Current logical column set of a snapshot: the union of each
        staging group's first-file parquet footer plus hive partition
        keys, replayed through the evolution log. Footer reads only —
        O(commits), no data pages touched."""
        import pyarrow.parquet as pq

        first_of_group: dict[str, str] = {}
        for f in m.files:
            top = f.split("/", 1)[0] if "/" in f else ""
            first_of_group.setdefault(top, f)
        phys: set[str] = set()
        for f in first_of_group.values():
            sch = pq.read_schema(f"{self.root_path}/{f}", filesystem=self.fs)
            phys.update(sch.names)
            phys.update(k for k, _ in _hive_segments_of(f))
        events = m.meta.get("schema_evolution", [])
        logical = set(_evolve_names(sorted(phys), events))
        # names born by `add` events, pushed through the REST of the log
        # (a later rename/drop applies to them like any other column)
        for i, ev in enumerate(events):
            if ev[0] == "add":
                logical.update(_evolve_names([ev[1]], events[i + 1 :]))
        return {c for c in logical if not c.startswith(_DROPPED_PREFIX)}

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only column rename — the Iceberg/Delta column-mapping
        move: ZERO data files rewritten (at 100 TB a physical rename is
        a full-table rewrite; this is one manifest commit). Reads replay
        the event log per scan group, pruning resolves predicates
        through the alias chain, and delete vectors keyed on the old
        name keep applying. A retired name (previously renamed away or
        dropped) can never be reused as the NEW name: event replay
        identifies columns by name, so reuse would make old files'
        columns ambiguous (Iceberg avoids this with field IDs; the
        rejection buys the same safety without rewriting footers)."""
        if old == new:
            raise ValueError("rename requires distinct names")

        def build(parent: Manifest | None) -> list[str]:
            if parent is None:
                raise FileNotFoundError(f"no committed manifest under {self.root}")
            events = parent.meta.get("schema_evolution", [])
            retired = {ev[1] for ev in events if ev[0] in ("rename", "drop")}
            if new in retired:
                raise ValueError(
                    f"column name {new!r} was previously retired by a rename/drop; "
                    "reusing it would make old files ambiguous — pick a fresh name"
                )
            logical = self._logical_columns(parent)
            if old not in logical:
                raise ValueError(f"no such column {old!r}; have {sorted(logical)}")
            if new in logical:
                raise ValueError(f"column {new!r} already exists")
            return list(parent.files)

        return self._commit_with_retry(
            build, "rename_column", {"schema_evolution_new": [["rename", old, new]]}
        )

    def add_column(self, col: str, dtype: str, default=None) -> int:
        """Metadata-only ADD COLUMN with an optional default: files
        written before the add (and any append omitting the column)
        surface ``default`` instead of NULL at read — Delta's
        default-values model, one manifest commit, zero rewrites. The
        name must be genuinely fresh: reusing a retired or existing
        name would make old files' columns ambiguous (same rule as
        rename targets)."""

        _evolution_dtype(dtype)  # fail fast on an unparseable type spec

        def build(parent: Manifest | None) -> list[str]:
            if parent is None:
                raise FileNotFoundError(f"no committed manifest under {self.root}")
            events = parent.meta.get("schema_evolution", [])
            retired = {ev[1] for ev in events if ev[0] in ("rename", "drop")}
            if col in retired:
                raise ValueError(
                    f"column name {col!r} was previously retired by a rename/drop; "
                    "reusing it would make old files ambiguous — pick a fresh name"
                )
            if col in self._logical_columns(parent):
                raise ValueError(f"column {col!r} already exists")
            return list(parent.files)

        return self._commit_with_retry(
            build, "add_column", {"schema_evolution_new": [["add", col, default, dtype]]}
        )

    def drop_column(self, col: str) -> int:
        """Metadata-only column drop: the data stays in the files (and
        in time-traveled reads of older versions); current-version
        reads stop surfacing it. A later compaction rewrite
        materializes the drop physically."""

        def build(parent: Manifest | None) -> list[str]:
            if parent is None:
                raise FileNotFoundError(f"no committed manifest under {self.root}")
            if col not in self._logical_columns(parent):
                raise ValueError(f"no such column {col!r}")
            return list(parent.files)

        return self._commit_with_retry(
            build, "drop_column", {"schema_evolution_new": [["drop", col]]}
        )

    @staticmethod
    def _carry_delete_vectors(parent: Manifest | None, retains: bool, meta: dict) -> dict:
        """Merge the parent snapshot's merge-on-read delete vectors into
        ``meta`` whenever the new commit retains any parent data file.
        Without this, a plain append/stream-append/partition-promote
        after ``merge.delete_where_mor`` would publish a version whose
        read no longer applies the vectors — silently resurrecting
        deleted rows while keeping the same data files. An equality
        vector applies to the WHOLE snapshot, so re-inserting a
        MOR-deleted key requires compacting first (a rewrite commit
        retains no parent files and drops the vectors) — documented
        behavior, matching Iceberg equality-delete scope; a positional
        vector hides rows of the files it names only. The commit's own
        ``delete_vectors`` are the vectors it adds, appended after the
        parent's (a path the parent already has is not doubled).
        ``replaced_vector_paths``, written only by
        :meth:`commit_rewrite`, names the parent vectors the commit
        drops (positional vectors it made dead, vectors it retired) —
        those are excluded from the carry while vectors landed by
        racers still carry; the marker is dropped from the published
        meta."""
        if parent is None or not parent.meta.get("delete_vectors"):
            return {k: v for k, v in meta.items() if k != "replaced_vector_paths"}
        replaced = set(meta.get("replaced_vector_paths", []))
        meta = {k: v for k, v in meta.items() if k != "replaced_vector_paths"}
        if not retains:
            return meta  # full rewrite: deletes are materialized, vectors drop
        merged = [
            dv for dv in parent.meta["delete_vectors"] if dv["path"] not in replaced
        ]
        seen = {dv["path"] for dv in merged}
        for dv in meta.get("delete_vectors", []):
            if dv["path"] not in seen:
                merged.append(dv)
        if not merged:
            return {k: v for k, v in meta.items() if k != "delete_vectors"}
        return {**meta, "delete_vectors": merged}

    @staticmethod
    def _carry_skipping_meta(parent: Manifest | None, files: list[str], meta: dict) -> dict:
        """Carry the parent's data-skipping metadata (zone-map
        ``file_stats`` and ``bloom_index``) forward for every parent
        file this commit RETAINS, merged under the commit's own
        entries, and trimmed to the live file set so the manifest
        never accumulates entries for vacuumed files. Without this, a
        plain append or a MOR delete — commits that keep the parent's
        files byte-identical — would publish a snapshot whose reads
        prune nothing. Stats describe file CONTENTS, so they stay
        valid under delete vectors (pruning picks files; the read
        applies vectors after)."""
        if parent is None:
            return meta
        fset = set(files)
        out = dict(meta)
        p_stats = parent.meta.get("file_stats") or {}
        stats = {
            **{f: s for f, s in p_stats.items() if f in fset},
            **out.get("file_stats", {}),
        }
        if stats:
            out["file_stats"] = stats
        p_bloom = parent.meta.get("bloom_index") or {}
        bloom: dict = {}
        for col in set(p_bloom) | set(out.get("bloom_index", {})):
            merged = {
                **{f: b for f, b in p_bloom.get(col, {}).items() if f in fset},
                **out.get("bloom_index", {}).get(col, {}),
            }
            if merged:
                bloom[col] = merged
        if bloom:
            out["bloom_index"] = bloom
        return out

    @staticmethod
    def _carry_stream_txn(parent: Manifest | None, meta: dict) -> dict:
        """Merge the parent's per-writer stream high-water marks into
        ``meta`` on EVERY commit — the Delta ``SetTransaction`` model.
        Because the newest manifest always carries the full map, the
        sink's replay check reads exactly ONE manifest (no parent
        walk), and the answer survives vacuum pruning arbitrary
        history: a pruned chain can never silently reset a writer's
        mark and let a replayed batch commit twice."""
        parent_txn = dict(parent.meta.get("stream_txn", {})) if parent else {}
        for w, b in meta.get("stream_txn", {}).items():
            parent_txn[w] = max(b, parent_txn.get(w, b))
        if not parent_txn:
            return meta
        return {**meta, "stream_txn": parent_txn}

    @staticmethod
    def _carry_schema_evolution(parent: Manifest | None, retains: bool, meta: dict) -> dict:
        """Carry the ordered schema-evolution event log (metadata-only
        column renames/drops — the Iceberg/Delta column-mapping idea:
        no data file is ever rewritten for a schema change) on every
        commit that RETAINS a parent file, appending any events this
        commit adds under the ``schema_evolution_new`` marker. Events
        are a LIST, not a map, because order is semantic: ``drop x``
        then ``rename y -> x`` must not re-drop the renamed column. The
        marker form keeps the commit retry-safe — each retry re-reads
        the parent's log and re-appends only its own events. A FULL
        rewrite (no parent file survives — overwrite, unscoped
        compaction) materializes the current logical schema into the
        new files, so the log drops and every retired name is free
        again — the same lifecycle as delete vectors, and safe for
        time travel because each manifest snapshot keeps its own log."""
        # seed from the parent's log, or — first commit of a fresh root
        # (clone) — from the log the caller carried over in meta
        events = (
            list(parent.meta.get("schema_evolution", []))
            if parent
            else list(meta.get("schema_evolution", []))
        )
        new_events = meta.get("schema_evolution_new", [])
        meta = {k: v for k, v in meta.items() if k != "schema_evolution_new"}
        if parent is not None and not retains:
            events = []  # full rewrite: evolution is materialized
        events += new_events
        if not events:
            return {k: v for k, v in meta.items() if k != "schema_evolution"}
        return {**meta, "schema_evolution": events}

    @staticmethod
    def _carry_hidden_partitions(parent: Manifest | None, retains: bool, meta: dict) -> dict:
        """Carry the hidden-partition transform map on every commit
        retaining a parent file (new specs from this commit win on
        name collision); a full rewrite drops it — the rewritten files
        no longer live under the transformed dirs. Same lifecycle as
        delete vectors and the evolution log."""
        parent_hp = dict(parent.meta.get("hidden_partitions", {})) if retains else {}
        merged = {**parent_hp, **meta.get("hidden_partitions", {})}
        if not merged:
            return {k: v for k, v in meta.items() if k != "hidden_partitions"}
        return {**meta, "hidden_partitions": merged}

    @staticmethod
    def _carry_data_schema(
        parent: Manifest | None, files: list[str], meta: dict, retains: bool
    ) -> dict:
        """``meta`` with the ``data_schema`` the new file set has, by the
        rule of the module docstring: ``meta["data_schema"]`` describes
        the files this commit adds (absent: unknown), and the parent's
        describes every file it keeps."""
        staged = meta.get("data_schema")
        out = {k: v for k, v in meta.items() if k != "data_schema"}
        kept = parent.meta.get("data_schema") if parent is not None and retains else None
        parent_files = set(parent.files) if parent is not None else set()
        if any(f not in parent_files for f in files):
            schema = staged if not retains or kept == staged else None
        else:
            schema = kept
        if schema is not None:
            out["data_schema"] = schema
        return out

    @classmethod
    def _carry_content_meta(
        cls, parent: Manifest | None, files: list[str], meta: dict, retains: bool
    ) -> dict:
        """``meta`` with every piece of the parent's CONTENT metadata
        the new file set still needs carried in: delete vectors, the
        schema-evolution log, hidden partitions, the data schema and
        data-skipping stats (stream high-water marks carry separately,
        on every commit). ``retains``: ``files`` keeps a parent file (else a full rewrite)."""
        meta = cls._carry_delete_vectors(parent, retains, meta)
        meta = cls._carry_schema_evolution(parent, retains, meta)
        meta = cls._carry_hidden_partitions(parent, retains, meta)
        meta = cls._carry_data_schema(parent, files, meta, retains)
        return cls._carry_skipping_meta(parent, files, meta)

    def _commit_with_retry(
        self,
        files_or_build,
        operation: str,
        meta: dict | None,
        carry: bool = True,
        wap_id: str | None = None,
        branch: str | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int | None:
        """The one commit loop: every commit of a version file runs
        through it. Each attempt resolves the lineage head (main, or
        the branch head for ``branch``), builds against it, and
        publishes version ``latest + 1``.

        ``files_or_build`` is a file list or a build ``parent ->
        files``; a build may instead return ``(files, meta)``, whose
        meta replaces ``meta`` for that attempt. With ``carry`` the
        parent's content metadata carries into the commit
        (:meth:`_carry_content_meta`); without it the meta is the
        commit's complete content metadata. A build raising
        :class:`ConcurrentModificationError` (or any other error)
        aborts with nothing published; raising ``_AlreadyResolved(v)``
        returns ``v`` — the commit's outcome already landed. A lost
        publish or branch-ref CAS backs off (:func:`_lost_race_backoff`)
        and re-resolves, all within one budget of
        ``_COMMIT_RETRY_ATTEMPTS``; exhausting it raises
        ``RuntimeError``.

        ``txn=(writer_id, batch_id)`` makes the commit exactly-once on
        that pair (the Delta ``txnAppId`` model): every attempt reads
        the parent's ``stream_txn`` high-water mark for ``writer_id``
        first, and when ``batch_id`` is at or below it returns None
        with nothing published (a racing instance of the writer landed
        the batch). Otherwise the commit records ``writer_id``,
        ``batch_id`` and the new mark in its meta. Checking against the
        parent the publish CAS is built on makes check-and-commit
        atomic; callers keep a cheap pre-check before staging."""
        import time

        if branch is not None and wap_id is not None:
            raise ValueError("a commit targets a branch OR stages a WAP snapshot, not both")

        for attempt in range(_COMMIT_RETRY_ATTEMPTS):
            latest = self.latest_version()
            # Version numbers allocate from the TRUE newest manifest
            # (staged WAP snapshots and branch commits included — they
            # own their slot in the log), but the commit BUILDS AGAINST
            # its lineage head: the main head normally, the BRANCH head
            # for a branch-targeted commit. A staged/branch snapshot
            # must never become a main commit's parent, or its
            # unaudited content would leak into main through the
            # child's file list.
            if branch is not None:
                _seq, bh, branch_inc = self._branch_head_seq(branch)
                parent = self.read_manifest(bh) if bh is not None else None
            else:
                parent = self._main_manifest_at_or_below(latest)
            if txn is not None:
                mark = (parent.meta.get("stream_txn", {}) if parent else {}).get(txn[0])
                if mark is not None and mark >= txn[1]:
                    return None
            try:
                built = files_or_build(parent) if callable(files_or_build) else files_or_build
            except _AlreadyResolved as done:
                return done.version
            files, attempt_meta = built if isinstance(built, tuple) else (built, meta)
            if txn is not None:
                attempt_meta = {
                    **(attempt_meta or {}),
                    "writer_id": txn[0],
                    "batch_id": txn[1],
                    "stream_txn": {txn[0]: txn[1]},
                }
            parent_files = set(parent.files) if parent else set()
            retains = any(f in parent_files for f in files)
            # In-commit timestamp, forced strictly above the parent's —
            # AND above the newest manifest in the WHOLE log when that
            # differs (a branch/staged commit chains off its own
            # lineage parent, so under a clock regression its timestamp
            # could otherwise land below an already-committed higher
            # version, breaking the global ordering AS-OF-timestamp
            # reads binary-search on). One extra manifest read, and
            # only while refs are active (parent == latest otherwise).
            parent_ts = (parent.committed_at or 0.0) if parent else 0.0
            if latest is not None and (parent is None or parent.version != latest):
                try:
                    lm = self.read_manifest(latest)
                    parent_ts = max(parent_ts, lm.committed_at or 0.0)
                except FileNotFoundError:
                    pass
            if carry:
                built_meta = self._carry_content_meta(
                    parent, files, attempt_meta or {}, retains
                )
            else:
                # carry=False (RESTORE / WAP publish / fast-forward): the
                # caller supplies the COMPLETE content metadata (vectors/
                # stats/evolution come from the restored or staged
                # snapshot, not the abandoned parent)
                built_meta = dict(attempt_meta or {})
            if wap_id is not None:
                # staged write-audit-publish snapshot: invisible to main
                # (current_version skips it) until publish_wap re-commits
                # it. "base" records the main head it was built against
                # and "removed" how many base files this snapshot drops —
                # publish needs both WITHOUT re-reading the base manifest
                # (a stale staged snapshot can outlive its base: vacuum
                # prunes the base once main advances past it, while the
                # younger staged snapshot is still retention-protected).
                files_set = set(files)
                built_meta["wap"] = {
                    "id": wap_id,
                    "base": parent.version if parent else None,
                    "removed": sum(1 for f in parent_files if f not in files_set),
                }
            if branch is not None:
                # branch commit: invisible to main until fast_forward.
                # "base" is the FORK POINT main version (copied down the
                # branch chain — O(1) at fast-forward, no walk) and
                # "removed" accumulates files dropped since the fork, so
                # fast_forward can classify itself append vs replace
                # without the fork-base manifest (which vacuum may have
                # pruned once main moved on).
                pb = (parent.meta.get("branch") or {}) if parent else {}
                on_this_branch = pb.get("name") == branch
                fork_base = (
                    pb.get("base")
                    if on_this_branch
                    else (parent.version if parent else None)
                )
                files_set = set(files)
                removed_now = sum(1 for f in parent_files if f not in files_set)
                built_meta["branch"] = {
                    "name": branch,
                    "base": fork_base,
                    # the line's creation nonce: lets streams (and any
                    # reader) tell this incarnation from a later
                    # delete+recreate under the same name and fork base
                    **({"incarnation": branch_inc} if branch_inc else {}),
                    "removed": (pb.get("removed", 0) if on_this_branch else 0)
                    + removed_now,
                    # rows changed beyond pure addition anywhere on the
                    # line: removed files OR merge-on-read vectors (a
                    # delete_mor keeps the file set but hides rows).
                    # fast_forward uses this to pick the append vs
                    # replace op the STREAM contract keys on.
                    "changed": (pb.get("changed", False) if on_this_branch else False)
                    or removed_now > 0
                    or operation == "delete_mor",
                }
            m = Manifest(
                version=(latest or 0) + 1 if latest is not None else 1,
                files=files,
                operation=operation,
                parent=parent.version if parent else None,
                # stream high-water marks carry UNCONDITIONALLY: they are
                # writer-replay protection, not content state — resetting
                # them (even on RESTORE) would let an idempotent sink's
                # replayed batch double-land
                meta=self._carry_stream_txn(parent, built_meta),
                added=[f for f in files if f not in parent_files],
                committed_at=max(time.time(), parent_ts + 0.001),
            )
            try:
                v = self._publish(m)
            except FileExistsError:
                # someone committed our version number: back off
                # (jittered — see _lost_race_backoff) and re-resolve
                _lost_race_backoff(attempt)
                continue
            if branch is not None and not self._advance_branch(
                branch, v, expected=parent.version if parent else None
            ):
                # lost the branch-head CAS: another branch commit won.
                # Our published manifest is an ORPHAN (no ref ever
                # pointed at it — invisible everywhere, vacuumed by
                # retention); rebuild against the new branch head.
                _lost_race_backoff(attempt)
                continue
            return v
        raise RuntimeError(
            f"lost the commit race {_COMMIT_RETRY_ATTEMPTS} times on {self.root}"
        )

    # ---------- data skipping (zone-map stats) ----------

    def collect_file_stats(self, rel_files: list[str]) -> dict:
        """Per-file column min/max + row counts from the parquet
        footers — the zone-map metadata Delta/Iceberg record at commit
        time so selective readers can prune files without opening them.
        Values are JSON-canonical (dates/timestamps as ISO strings,
        which order lexicographically; binary stats utf-8 decoded or
        dropped); a column whose stats any row group lacks is omitted
        for that file (unknown => never pruned on)."""
        import datetime as _dt

        import pyarrow.parquet as pq

        def canon(v):
            if isinstance(v, bytes):
                try:
                    return v.decode("utf-8")
                except UnicodeDecodeError:
                    return None
            if isinstance(v, (_dt.date, _dt.datetime)):
                return v.isoformat()
            if isinstance(v, (int, float, str, bool)):
                return v
            return None

        out: dict[str, dict] = {}
        for rel in rel_files:
            try:
                md = pq.read_metadata(f"{self.root_path}/{rel}", filesystem=self.fs)
            except Exception:
                continue  # unreadable footer: file simply has no stats
            mins: dict = {}
            maxs: dict = {}
            dead: set[str] = set()
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    name = col.path_in_schema
                    if name in dead:
                        continue
                    try:
                        st = col.statistics
                        # .min/.max (not just has_min_max) can raise
                        # ArrowNotImplementedError for physical types
                        # pyarrow can't cast stats for (e.g. DECIMAL) —
                        # that means "no stats", not a crash
                        mn, mx = (
                            (canon(st.min), canon(st.max))
                            if st is not None and st.has_min_max
                            else (None, None)
                        )
                    except Exception:
                        mn = mx = None
                    if mn is None or mx is None:
                        dead.add(name)
                        continue
                    mins[name] = mn if name not in mins else min(mins[name], mn)
                    maxs[name] = mx if name not in maxs else max(maxs[name], mx)
            for name in dead:
                mins.pop(name, None)
                maxs.pop(name, None)
            out[rel] = {"rows": md.num_rows, "min": mins, "max": maxs}
        return out

    def collect_bloom_index(
        self, rel_files: list[str], column: str, bits_per_value: int = 16, k: int = 4
    ) -> dict:
        """Per-file Bloom filter over ``column`` — the point-lookup
        complement to zone maps: a hash-distributed key (e.g. a
        customer id bucketed by mod) spans each file's full [min,max]
        range, so interval pruning keeps everything, while a Bloom
        probe prunes every file that cannot contain the key (modulo a
        designed-in false-positive rate; FPs only cost an extra file
        read, never correctness). Hashes are salted zlib.crc32 — fast,
        stable across processes, identical at read time. Unlike
        ``collect_file_stats`` (footers only) this reads the indexed
        column once at commit time — the indexing cost Delta's Bloom
        index pays too. Returns {rel_file: {"b64", "n_bits", "k"}}."""
        import base64
        import math
        import zlib

        import pyarrow.parquet as pq

        out: dict[str, dict] = {}
        for rel in rel_files:
            try:
                t = pq.read_table(
                    f"{self.root_path}/{rel}", columns=[column], filesystem=self.fs
                )
            except Exception:
                continue
            values = {
                self._bloom_canon(v) for v in t.column(0).to_pylist() if v is not None
            }
            n_bits = max(64, 1 << math.ceil(math.log2(max(1, len(values)) * bits_per_value)))
            bits = bytearray(n_bits // 8)
            for v in values:
                # salt goes INSIDE the payload: crc32 is affine in its
                # init value, so crc32(data, j) for different j differ
                # by a data-independent constant — k correlated probes,
                # not k hash functions (caught by the FP-rate test)
                for j in range(k):
                    h = zlib.crc32(f"{j}:{v}".encode()) % n_bits
                    bits[h >> 3] |= 1 << (h & 7)
            out[rel] = {
                "b64": base64.b64encode(bytes(bits)).decode(),
                "n_bits": n_bits,
                "k": k,
            }
        return out

    @staticmethod
    def _bloom_canon(value) -> str:
        """Canonical string rendering hashed on BOTH the write and the
        probe side. Hashing raw ``str(value)`` makes Bloom misses a
        correctness bug: ``421`` vs ``421.0`` on a double column (or a
        Decimal / numpy scalar of the same number) would render
        differently, yield a false NEGATIVE, and prune files that DO
        contain the key — silently losing rows. Normalization:
        integer-valued numerics (int, bool, whole floats, Decimal,
        numpy scalars) render as the plain integer; other reals via
        ``repr(float(v))``; dates/datetimes as ISO strings; bytes
        utf-8-decoded (surrogateescape); everything else ``str``."""
        import datetime as _dt
        import decimal
        import numbers

        if isinstance(value, bytes):
            return value.decode("utf-8", errors="surrogateescape")
        if isinstance(value, (_dt.datetime, _dt.date)):
            return value.isoformat()
        if hasattr(value, "item") and not isinstance(value, str):
            value = value.item()  # numpy scalar → python scalar
        if isinstance(value, bool):
            value = int(value)
        if isinstance(value, decimal.Decimal):
            # Decimal registers as numbers.Number, NOT numbers.Real —
            # without this branch a DECIMAL column's stored values hash
            # as str ('100.00') while an int/float probe hashes '100':
            # guaranteed false negative = silently pruned rows.
            value = float(value)
        if isinstance(value, numbers.Real) and not isinstance(value, int):
            f = float(value)
            if f.is_integer():
                return str(int(f))
            return repr(f)
        return str(value)

    @classmethod
    def _bloom_may_contain(cls, bloom: dict, value) -> bool:
        import base64
        import zlib

        bits = base64.b64decode(bloom["b64"])
        n_bits, k = bloom["n_bits"], bloom["k"]
        canon = cls._bloom_canon(value)
        for j in range(k):
            h = zlib.crc32(f"{j}:{canon}".encode()) % n_bits
            if not (bits[h >> 3] & (1 << (h & 7))):
                return False
        return True

    @staticmethod
    def _iso_harmonize(val, lo, hi):
        """Align DATE vs TIMESTAMP ISO granularity before interval
        comparison: a date probe against timestamp stats (or the
        reverse) otherwise compares '2024-01-01' lexicographically
        below '2024-01-01T00:00:00' and prunes a file holding the
        matching midnight row. Extending the date-only side to
        midnight is exactly Spark's cast semantics for the mixed
        comparison, so the interval check stays conservative."""

        def is_d(s):
            return (
                isinstance(s, str) and len(s) == 10 and s[4:5] == "-" and s[7:8] == "-"
            )

        def is_ts(s):
            return (
                isinstance(s, str)
                and len(s) >= 19
                and s[4:5] == "-"
                and s[10:11] in ("T", " ")
            )

        if any(is_ts(x) for x in (val, lo, hi)) and any(is_d(x) for x in (val, lo, hi)):
            sep = next(x[10] for x in (val, lo, hi) if is_ts(x))
            return tuple(
                (x + f"{sep}00:00:00") if is_d(x) else x for x in (val, lo, hi)
            )
        return val, lo, hi

    @classmethod
    def _file_may_match(cls, stats: dict, predicates: list[tuple]) -> bool:
        """Interval check: can a file with these min/max bounds contain
        a row satisfying ALL predicates? Unknown stats => True; a probe
        whose type cannot be ordered against the stored bounds (string
        vs int, None) also never prunes — pruning is an optimization,
        not a correctness filter, so ambiguity always reads the file."""
        import datetime as _dt

        for col, op, val in predicates:
            mins, maxs = stats.get("min", {}), stats.get("max", {})
            if col not in mins or col not in maxs:
                continue  # no bound on this column: cannot prune
            if isinstance(val, (_dt.date, _dt.datetime)):
                val = val.isoformat()
            val_h, lo, hi = cls._iso_harmonize(val, mins[col], maxs[col])
            try:
                if op == "=" and not (lo <= val_h <= hi):
                    return False
                if op in ("<", "lt") and not (lo < val_h):
                    return False
                if op in ("<=", "le") and not (lo <= val_h):
                    return False
                if op in (">", "gt") and not (hi > val_h):
                    return False
                if op in (">=", "ge") and not (hi >= val_h):
                    return False
            except TypeError:
                continue  # incomparable probe/bounds: never prune
        return True

    def prune_plan(
        self, predicates: list[tuple], version: int | None = None
    ) -> tuple[list[str], int]:
        """(files to read, files skipped) for conjunctive predicates
        ``[(col, op, value), ...]`` with op in = < <= > >= — resolved
        purely from the committed manifest's zone-map stats plus hive
        ``k=v`` path segments (PARTITION PRUNING: a partition_by
        layout's partition values live in the dir names, so an
        equality or range predicate on a partition column skips whole
        partitions without any stats collection), no data file is
        opened. Files without stats / without the segment are always
        read (pruning is an optimization, never a correctness
        filter). Segment comparisons are numeric when both sides
        parse as numbers (dirs store strings: bucket=10 must not
        compare lexicographically against 9), string-exact otherwise,
        and skipped entirely on type ambiguity."""
        m = self.read_manifest(version)
        stats = m.meta.get("file_stats", {})
        blooms = m.meta.get("bloom_index", {})  # {column: {rel: bloom}}
        # metadata-only renames mean a logical column may be spelled by
        # any of its historical names in old files' stats/blooms/path
        # segments — resolve each predicate through its alias chain so
        # pruning keeps working across renames instead of silently
        # reading everything (or worse, matching the wrong column)
        events = m.meta.get("schema_evolution", [])
        # hidden partitioning (Iceberg transforms): a predicate on the
        # SOURCE column derives a conservative predicate on the
        # transformed dir value — monotone transforms map ranges
        # (strict ops relaxed to inclusive), bucket maps equality only.
        # Derivation failures (non-date probe on a days transform, a
        # float on truncate) just skip the derived predicate: pruning
        # is an optimization, never a correctness filter.
        derived: list[tuple] = []
        for col, op, val in predicates:
            src_aliases = _alias_chain(col, events)
            for name, spec in m.meta.get("hidden_partitions", {}).items():
                kind, src = spec[0], spec[1]
                param = spec[2] if len(spec) > 2 else None
                src_dtype = spec[3] if len(spec) > 3 else None
                if src not in src_aliases:
                    continue
                if kind == "bucket" and op != "=":
                    continue
                mop = _MONOTONE_OP.get(op)
                if mop is None:
                    continue  # unknown op spelling: skip the derivation
                try:
                    tval = hidden_transform_value(kind, val, param, dtype=src_dtype)
                except (ValueError, TypeError):
                    continue
                derived.append((name, mop, tval))
        predicates = list(predicates) + derived
        alias_of = {col: _alias_chain(col, events) for col, _, _ in predicates}

        def _seg_num(x):
            # exact numeric parse: ints stay ints (float() of a 19-digit
            # partition value rounds to double and two adjacent huge ints
            # collide — a range predicate then prunes a file it should
            # keep). Python compares int vs float exactly, so mixed
            # int/float pairs need no common type. STRICT on strings:
            # int()/float() accept '1_0', ' 5 ', 'nan', 'inf' — a stored
            # segment 'nan' parsed to NaN fails NaN == NaN and wrongly
            # prunes the file (silent lost rows), so anything Python is
            # lenient about falls to the string/never-prune path instead.
            if isinstance(x, bool):
                raise ValueError("bool is not a segment numeric")
            if isinstance(x, float):
                if not math.isfinite(x):
                    raise ValueError("non-finite is not a segment numeric")
                return x
            if isinstance(x, int):
                return x
            s = str(x)
            if "_" in s or s.strip() != s:
                raise ValueError(f"lenient numeric rendering: {s!r}")
            try:
                return int(s)
            except ValueError:
                v = float(s)
                if not math.isfinite(v):
                    raise ValueError(f"non-finite segment value: {s!r}")
                return v

        def seg_may_match(f: str) -> bool:
            segs = dict(_hive_segments_of(f))
            for col, op, val in predicates:
                sv = next(
                    (segs[a] for a in alias_of[col] if segs.get(a) is not None), None
                )
                if sv is None:
                    # absent segment OR __HIVE_DEFAULT_PARTITION__ (null):
                    # never prune on it — null is a real stored value the
                    # predicate engine, not the path, must judge
                    continue
                if op == "=" and sv == str(val):
                    # exact rendering match: the file's segment IS the
                    # probed value, keep it before any numeric parse can
                    # misjudge ('nan' = 'nan' must not fail via NaN != NaN)
                    continue
                try:
                    left = _seg_num(sv)
                    right = _seg_num(val)
                except (TypeError, ValueError):
                    if not isinstance(val, str):
                        continue  # ambiguous typing: never prune on it
                    left, right = sv, val
                    if op != "=":
                        continue  # string ranges: lexicographic ≠ user intent
                if op == "=" and not left == right:
                    return False
                if op == "<" and not left < right:
                    return False
                if op == "<=" and not left <= right:
                    return False
                if op == ">" and not left > right:
                    return False
                if op == ">=" and not left >= right:
                    return False
            return True

        def _preds_for(fstats: dict) -> list[tuple]:
            if not events:
                return predicates
            mins = fstats.get("min", {})
            return [
                (next((a for a in alias_of[col] if a in mins), col), op, val)
                for col, op, val in predicates
            ]

        def _bloom_probes(val) -> list:
            # a date probe against a timestamp column's bloom (or the
            # reverse) hashes a different rendering than the stored
            # values and would be a GUARANTEED false negative — probe
            # both granularities; any hit keeps the file
            import datetime as _dt

            probes = [val]
            if isinstance(val, _dt.datetime):
                if val.time() == _dt.time():
                    probes.append(val.date())
            elif isinstance(val, _dt.date):
                probes.append(_dt.datetime.combine(val, _dt.time()))
            return probes

        def may_match(f: str) -> bool:
            if not seg_may_match(f):
                return False
            if f in stats and not self._file_may_match(stats[f], _preds_for(stats[f])):
                return False
            for col, op, val in predicates:
                if op != "=":
                    continue
                for a in alias_of[col]:
                    if a in blooms and f in blooms[a]:
                        if not any(
                            self._bloom_may_contain(blooms[a][f], p)
                            for p in _bloom_probes(val)
                        ):
                            return False
                        break
            return True

        keep = [f for f in m.files if may_match(f)]
        return keep, len(m.files) - len(keep)

    # ---------- maintenance ----------

    def expire_refs(
        self,
        tag_max_age_seconds: float | None = None,
        branch_max_age_seconds: float | None = None,
    ) -> dict[str, list[str]]:
        """Iceberg's ``maxRefAgeMs`` model: delete named refs whose
        HEAD commit is older than the given age — the retention half
        ``expire_snapshots`` alone cannot express, since vacuum pins
        tagged versions and branch heads UNCONDITIONALLY (an abandoned
        ref otherwise holds its snapshot's files forever). Age comes
        from the referenced manifest's ``committed_at`` (deterministic,
        travel-consistent), not file mtimes; a ref whose manifest is
        already unreadable is released too (it pins nothing). ``None``
        leaves that ref kind untouched. Returns the released names per
        kind; the freed snapshots then age out through the NEXT vacuum
        like any unpinned version — this method deletes refs only,
        never data."""
        import time as _time

        out: dict[str, list[str]] = {"tags": [], "branches": []}
        now = _time.time()

        def _expired(version: int, max_age: float) -> bool:
            try:
                m = self.read_manifest(version)
            except FileNotFoundError:
                return True  # pins nothing readable (vacuumed under it)
            # a TRANSIENT read error must propagate, never expire: the
            # same invariant tags() documents — deleting a ref on a
            # storage hiccup lets the next vacuum permanently delete
            # the pinned snapshot
            return m.committed_at is not None and now - m.committed_at > max_age

        if tag_max_age_seconds is not None:
            for name, v in self.tags().items():
                if _expired(v, tag_max_age_seconds):
                    try:
                        self.delete_tag(name)
                        out["tags"].append(name)
                    except FileNotFoundError:
                        pass  # raced another expirer
        if branch_max_age_seconds is not None:
            for name, v in self.branches().items():
                if _expired(v, branch_max_age_seconds):
                    try:
                        self.delete_branch(name)
                        out["branches"].append(name)
                    except FileNotFoundError:
                        pass
        return out

    def vacuum(
        self,
        keep_versions: int = 1,
        retention_seconds: float = 86400.0,
        branch_keep_versions: int = 1,
    ) -> list[str]:
        """Delete data files referenced by NO retained manifest (and
        prune old manifests). Unreferenced files are invisible to
        readers, so this is safe to defer arbitrarily — but NOT safe
        to run eagerly against in-flight writers: a concurrent
        ``write_and_commit`` stages its files BEFORE publishing its
        manifest, and an immediate vacuum would delete them, letting
        the commit then succeed while referencing missing files. The
        ``retention_seconds`` window (default 24 h, the same guard as
        Delta's VACUUM retention check) therefore skips any
        unreferenced file younger than the threshold (by store mtime;
        unknown mtime counts as young). Pass ``retention_seconds=0``
        only when no writer can be in flight (tests, single-writer
        maintenance windows).

        The retention window applies to MANIFESTS too, and a manifest
        that survives (whether in ``keep_versions`` or merely young)
        keeps its WHOLE SNAPSHOT readable: its data files and delete
        vectors count as live, so a concurrent reader that resolved
        an older-but-recent version never opens v{k}.json only to
        fail mid-scan on a deleted data file. The tree walk tolerates
        staging dirs vanishing mid-listing (concurrent writers delete
        ``_temporary`` constantly) — an already-deleted dir correctly
        contributes nothing to a DELETION pass, and a file a racing
        vacuum already deleted counts as deleted (:func:`_plan_vacuum`
        decides what to delete; this method does the I/O). A directory
        this pass empties (a dead staging dir, a dead vector's dir) is
        removed too when it is past the retention window; ``_manifest``,
        ``_dv`` and the root never are. The return value lists the
        deleted files."""
        import datetime as _dt

        import pyarrow.fs as pafs

        if keep_versions < 1:
            # keep_versions=0 past the retention window would delete the
            # LIVE head's manifest and data — a maintenance call must
            # never be able to destroy the table's readable state
            # (Delta refuses the equivalent retention settings too)
            raise ValueError("keep_versions must be >= 1")
        if self.latest_version() is None:
            return []  # no log: every file is staging, none is garbage yet

        def _too_young(rel: str) -> bool:
            if retention_seconds <= 0:
                return False
            mtime = self.fs.get_file_info(f"{self.root_path}/{rel}").mtime
            if mtime is None:
                return True  # unknown age: never delete inside the window
            now = _dt.datetime.now(tz=mtime.tzinfo) if mtime.tzinfo else _dt.datetime.now()
            return (now - mtime).total_seconds() < retention_seconds

        # Retention policy refs:
        #  - ``keep_versions`` counts along the MAIN lineage (parent
        #    chain from the current head) — a staged write-audit-publish
        #    snapshot sitting at the top of the version log must not
        #    push the table's readable head out of retention.
        #  - TAGGED versions are pinned unconditionally (the Iceberg tag
        #    model): their manifests and files survive until the tag is
        #    deleted.
        #  - Staged WAP snapshots themselves are protected only by the
        #    retention window: an audit in flight (younger than the
        #    window) is safe, an abandoned one expires like any orphan.
        #  - Every BRANCH HEAD is pinned (the ref names it), and
        #    ``branch_keep_versions`` (default 1 == head only) extends
        #    the pin down each branch's parent chain — per-branch
        #    retention, the Iceberg ``minSnapshotsToKeep`` per ref.
        #    CAS-orphaned manifests age out through the retention
        #    window like staged snapshots.
        if branch_keep_versions < 1:
            raise ValueError("branch_keep_versions must be >= 1")
        keep: set[int] = set(self.tags().values())

        def _walk_keep(start: int | None, n: int) -> None:
            v, walked = start, 0
            while v is not None and walked < n:
                keep.add(v)
                walked += 1
                try:
                    v = self.read_manifest(v).parent
                except FileNotFoundError:
                    break  # older lineage already pruned (transient errors propagate)

        for bh in self.branches().values():
            _walk_keep(bh, branch_keep_versions)
        _walk_keep(self.current_version(), keep_versions)
        rels = [
            el.path[len(self.root_path) + 1 :]
            for el in list_tree(self.root, tolerate_vanished=True)
            if not el.is_dir
        ]
        manifest_drops, survivors, data_drops = _plan_vacuum(
            rels, keep, _too_young, self.read_manifest
        )

        def _delete(drops: list[str]) -> None:
            for rel in drops:  # as listed: a URI would decode Hive's %XX
                try:
                    self.fs.delete_file(f"{self.root_path}/{rel}")
                except FileNotFoundError:
                    pass  # a racing vacuum deleted it first

        # the dirs holding a dropped data file (staging dirs, their hive
        # dirs, dead vector dirs; never the root or _manifest), aged
        # BEFORE the deletes touch their mtime
        dirs = {rel[:i] for rel in data_drops for i, c in enumerate(rel) if c == "/"}
        dirs = [d for d in dirs - {"_dv"} if not _too_young(d)]
        _delete(manifest_drops)
        # Re-anchor the latest-version hint above any gap this pass
        # punched (tag/branch pins retain OLD versions while the middle
        # prunes): the forward probe is gap-blind, so a hint that
        # somehow sat below the gap would shadow the real head.
        if survivors:
            self._write_latest_hint(max(survivors))
        _delete(data_drops)
        for d in sorted(dirs, key=lambda d: -d.count("/")):  # children first
            path = f"{self.root_path}/{d}"
            try:
                if not self.fs.get_file_info(pafs.FileSelector(path)):
                    self.fs.delete_dir(path)  # emptied by this pass
            except FileNotFoundError:
                pass  # a racing vacuum removed it first
        return manifest_drops + data_drops
