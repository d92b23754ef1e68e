"""Incremental materialized views over manifest tables.

A MaterializedView is a grouped aggregate of a source manifest table,
materialized as its OWN manifest table and maintained from the
source's commit log: ``refresh()`` reads only the data files ADDED
since the last refreshed source version, computes their partial
aggregates, and MERGES them into the view (count → sum of counts,
sum → sum of sums, min/max → min/max, avg → carried as sum+count) —
the classic algebraic-aggregate IVM that turns "recompute a 100 TB
rollup" into "aggregate one commit's files and merge".

Commits that change rows beyond pure addition (overwrite, compaction
rewrites observed as removals, merge-on-read delete vectors) cannot
in general be folded into an algebraic merge; ``refresh()`` detects
them from the log and falls back to ONE full recompute, then resumes
incremental maintenance. Pure MOR deletes DO fold subtractively —
and when a deleted row ties a group's stored min/max (the one case
subtraction cannot repair), only the extremum-hit groups are
rescanned from the head (key-pruned file set), not the table. Maintenance commits that change nothing
visible (vector consolidation, WAP aborts, schema-evolution events)
fold as no-ops; staged WAP snapshots and branch commits are not on
main and are skipped outright.

The view's state — last refreshed source version, group-by columns,
aggregate spec — rides in the view table's commit meta (``mv`` key),
so a fresh MaterializedView handle on the same roots resumes exactly
where the last one stopped, and the publish-time build aborts with
:class:`ConcurrentModificationError` if a racing refresh advanced the
state first (no double-merge).

Known limitation (documented, matching the stream's fixed-schema
contract): the view spec names source columns; a rename of a
REFERENCED column on the source breaks the next scan — re-declare the
view under the new names (renames of unreferenced columns fold as
no-ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from octopufs_spark.manifest import (
    ConcurrentModificationError,
    Manifest,
    ManifestTable,
)

# ops that add rows only (the view can fold their added files);
# branch-fastforward carries a publish-time added list and is chosen
# ONLY when nothing on the branch line changed rows — the same
# contract the stream source folds it under
_APPEND_OPS = {
    "commit",
    "append",
    "seed",
    "stream-append",
    "wap-publish",
    "branch-fastforward",
    "clone",
}
# ops that change nothing a grouped aggregate can see
_NOOP_OPS = {"dv-consolidate", "wap-abort", "rename_column", "drop_column", "add_column"}


class _ParentPruned(Exception):
    """Internal: a subtract scan's parent manifest was vacuumed under
    the walk — fall back to one full recompute."""


class MaterializedView:
    """``aggs`` maps output column -> (fn, source_col) with fn one of
    ``count`` (source_col ignored, pass "*"), ``sum``, ``min``,
    ``max``, ``avg``. Aggregates are maintained in their mergeable
    decomposition; ``read()`` presents the declared columns."""

    def __init__(
        self,
        source: ManifestTable,
        view_root: str,
        group_by: list[str],
        aggs: dict[str, tuple[str, str]],
        filter: str | None = None,
    ):
        for name, (fn, _col) in aggs.items():
            if fn not in ("count", "sum", "min", "max", "avg"):
                raise ValueError(f"unsupported aggregate {fn!r} for {name!r}")
        self.source = source
        self.view = ManifestTable(view_root)
        self.group_by = list(group_by)
        self.aggs = dict(aggs)
        # pre-aggregation row filter (SQL condition): filters commute
        # with the partial/merge decomposition, so incremental
        # maintenance applies it per added-file scan
        self.filter = filter

    # ---------- internal: mergeable decomposition ----------

    def _internal_cols(self) -> dict[str, tuple[str, str]]:
        """Physical view columns -> (merge_fn, source_col). avg(x)
        decomposes to __sum_<name> + __cnt_<name>; count decomposes to
        a summable count column. ``__rows`` is always maintained: the
        group-liveness counter that lets a subtractive fold (MOR
        deletes) drop groups whose every row was deleted — exactly
        what a full recompute would do."""
        out: dict[str, tuple[str, str]] = {"__rows": ("count", "*")}
        for name, (fn, col) in self.aggs.items():
            if fn == "count":
                out[f"__cnt_{name}"] = ("count", col)
            elif fn in ("avg", "sum"):
                # sum ALSO carries a non-null value count: a subtractive
                # fold cannot otherwise tell "remaining values sum to 0"
                # from "no non-null values remain" (full recompute says
                # NULL for the latter; read() recomposes that)
                out[f"__sum_{name}"] = ("sum", col)
                out[f"__cnt_{name}"] = ("countv", col)
            else:
                out[f"__{fn}_{name}"] = (fn, col)
        return out

    def _subtractable(self) -> bool:
        """count/sum/avg partials are group-commutative under row
        REMOVAL too (subtract the removed rows' partials); min/max are
        only CONDITIONALLY so — a deleted row strictly inside its
        group's (stored_min, stored_max) open interval cannot change
        either, which the fold verifies per delete commit
        (:meth:`_minmax_unsafe_groups`); a delete touching a stored
        extremum triggers a rescan of ONLY the affected groups (up to
        :attr:`MINMAX_RESCAN_MAX_GROUPS` of them; beyond that, one
        full recompute)."""
        return all(fn in ("count", "sum", "avg", "min", "max") for fn, _ in self.aggs.values())

    def _minmax_cols(self) -> list[tuple[str, str]]:
        return [
            (phys, fn)
            for phys, (fn, _c) in self._internal_cols().items()
            if fn in ("min", "max")
        ]

    def _null_minmax(self, df: DataFrame) -> DataFrame:
        """NULL the min/max physical columns of a negative delta whose
        deleted extremes were verified harmless: min/max merge fns
        ignore NULL, so the stored extremum survives the merge."""
        mm = {phys for phys, _fn in self._minmax_cols()}
        if not mm:
            return df
        return df.select(
            *self.group_by,
            *[
                F.lit(None).cast(df.schema[phys].dataType).alias(phys)
                if phys in mm
                else F.col(phys)
                for phys in self._internal_cols()
            ],
        )

    # max number of extremum-hit groups to rescan in place of a full
    # recompute: each key becomes one disjunct of the rescan predicate
    # (pushed into the parquet scan + zone-map pruning), so the cap
    # bounds both the predicate size and the collected driver state;
    # beyond it a full recompute is cheaper than a 100+-arm filter
    MINMAX_RESCAN_MAX_GROUPS = 128

    def _minmax_unsafe_groups(
        self, cur: DataFrame | None, negatives: list[DataFrame]
    ) -> list[dict] | None:
        """Group keys whose deleted rows TIE OR PASS the group's stored
        extremum for any declared min/max — removal could then raise
        the min / lower the max, which only a rescan of that group can
        recompute (multiplicity is not stored). Returns ``[]`` when the
        fold is safe everywhere, the affected groups' key dicts when a
        scoped rescan can repair them, or ``None`` when more than
        :attr:`MINMAX_RESCAN_MAX_GROUPS` groups are hit (caller falls
        back to one full recompute). The negatives carry the DELETED
        rows' per-group extremes in their min/max physical columns, so
        the check is one broadcast-size join against the current view —
        NULL-SAFE on the group keys (a plain equi-join would silently
        drop the NULL-keyed group, leaving its stored extremum standing
        after its row was deleted). NULL deleted extremes (all-NULL
        deleted values) never flag — NULLs cannot hold an extremum."""
        mm = self._minmax_cols()
        if not mm or not negatives or cur is None:
            return []
        deleted = negatives[0]
        for n in negatives[1:]:
            deleted = deleted.unionByName(n)
        dmm = deleted.groupBy(*self.group_by).agg(
            *[getattr(F, fn)(phys).alias(phys) for phys, fn in mm]
        )
        conds = [
            (F.col(f"d.{phys}") <= F.col(f"v.{phys}"))
            if fn == "min"
            else (F.col(f"d.{phys}") >= F.col(f"v.{phys}"))
            for phys, fn in mm
        ]
        cond = conds[0]
        for c in conds[1:]:
            cond = cond | c
        if not self.group_by:
            # a group-less view has one global "group": repairing it IS
            # the full recompute
            j = dmm.alias("d").crossJoin(cur.alias("v"))
            return None if j.where(cond).limit(1).count() > 0 else []
        on = None
        for c in self.group_by:
            t = F.col(f"d.{c}").eqNullSafe(F.col(f"v.{c}"))
            on = t if on is None else (on & t)
        j = dmm.alias("d").join(cur.alias("v"), on, "inner")
        cap = self.MINMAX_RESCAN_MAX_GROUPS
        rows = (
            j.where(cond)
            .select(*[F.col(f"v.{c}").alias(c) for c in self.group_by])
            .distinct()
            .limit(cap + 1)
            .collect()
        )
        if len(rows) > cap:
            return None
        keys = [r.asDict() for r in rows]
        if keys:
            try:
                # a group key F.lit cannot encode (struct/array group
                # columns) must keep the old full-recompute repair, not
                # crash the refresh when the predicate is built later
                self._group_key_predicate(keys)
            except Exception:
                return None
        return keys

    def _group_key_predicate(self, keys: list[dict]):
        """One null-safe disjunct per affected group key — a literal
        predicate (not a join) so Catalyst pushes it into the rescan's
        parquet scan."""
        disj = None
        for k in keys:
            conj = None
            for c in self.group_by:
                t = F.col(c).eqNullSafe(F.lit(k[c]))
                conj = t if conj is None else (conj & t)
            disj = conj if disj is None else (disj | conj)
        return disj

    def _rescan_groups_partial(
        self, spark: SparkSession, keys: list[dict], src_head: int
    ) -> DataFrame:
        """Fresh partials for exactly the extremum-hit groups, scanned
        from the source HEAD (vectors + evolution applied — what a full
        recompute would see for those groups). Single-column group keys
        additionally bound the FILE set through ``prune_plan`` (zone
        maps / segments / hidden transforms) via the keys' min-max
        interval — at 100 TB a delete clipping one group's maximum
        rescans the files that group's key reaches, never the table.
        NULL group keys have no interval (and stats-pruning a file on
        ``col >= lo`` may drop its NULL rows), so any NULL key keeps
        the unpruned head read."""
        src_df = None
        if len(self.group_by) == 1:
            col = self.group_by[0]
            vals = [k[col] for k in keys if k[col] is not None]
            if vals and len(vals) == len(keys):
                try:
                    src_df = self.source.read_pruned(
                        spark,
                        [(col, ">=", min(vals)), (col, "<=", max(vals))],
                        version=src_head,
                    )
                except Exception:
                    src_df = None  # stats-less or unorderable: full read
        if src_df is None:
            # src_head IS the head this refresh targets: vacuum never
            # removes the newest snapshot's files, so skip the
            # per-file existence pre-check an explicit-version read
            # pays by default (O(files) driver metadata calls — on
            # exactly the path sold as the cheap repair)
            src_df = self.source.read(spark, version=src_head, check_vacuumed=False)
        return self._partial(src_df.where(self._group_key_predicate(keys)))

    def _partial(self, df: DataFrame) -> DataFrame:
        if self.filter is not None:
            df = df.where(F.expr(self.filter))
        exprs = []
        for phys, (fn, col) in self._internal_cols().items():
            if fn == "count":
                exprs.append(F.count("*").alias(phys))
            elif fn == "countv":
                exprs.append(F.count(col).alias(phys))  # avg ignores NULLs
            else:
                exprs.append(getattr(F, fn)(col).alias(phys))
        return df.groupBy(*self.group_by).agg(*exprs)

    def _merge(self, parts: DataFrame) -> DataFrame:
        exprs = []
        for phys, (fn, _col) in self._internal_cols().items():
            merge_fn = "sum" if fn in ("count", "countv") else fn
            exprs.append(getattr(F, merge_fn)(phys).alias(phys))
        return parts.groupBy(*self.group_by).agg(*exprs)

    # ---------- state ----------

    def _state(self) -> tuple[int | None, Manifest | None]:
        """(last refreshed source version, view manifest) or (None, None)."""
        try:
            m = self.view.read_manifest()
        except FileNotFoundError:
            return None, None
        mv = m.meta.get("mv")
        if mv is None:
            raise ValueError(f"{self.view.root} exists but is not a materialized view")
        return mv["source_version"], m

    # ---------- refresh ----------

    def refresh(self, spark: SparkSession) -> int | None:
        """Advance the view to the source's current main head. Returns
        the view's committed version, or None when already current."""
        src_head = self.source.current_version()
        if src_head is None:
            return None
        last, view_m = self._state()
        if last == src_head:
            return None

        incremental = last is not None
        # views committed before the __rows liveness column upgrade
        # once through a full recompute (which writes the new layout)
        if incremental and (view_m.meta.get("mv") or {}).get("phys") != 2:
            incremental = False
        added: list[str] = []
        # (delete_mor version, its new vector entry) pairs to SUBTRACT,
        # each paired with the walk-added files seen before it (their
        # rows net out in the positive delta via head-vector
        # application, so the subtract scan must exclude them)
        subtract: list[tuple[int, dict, set]] = []
        if incremental:
            for v in range(last + 1, src_head + 1):
                try:
                    m = self.source.read_manifest(v)
                except (FileNotFoundError, OSError):
                    incremental = False  # history pruned under the view
                    break
                if "wap" in m.meta or "branch" in m.meta:
                    continue  # not on main
                op_changes_rows = (
                    m.operation not in _APPEND_OPS and m.operation not in _NOOP_OPS
                )
                # a "pure-append op" that still removed files (partial
                # replace spelled as append) or landed delete vectors
                # is a row change too — compare against its parent set
                if not op_changes_rows and m.operation in _APPEND_OPS:
                    if m.added is None:
                        incremental = False
                        break
                    prev = self._vector_paths_of(m.parent)
                    n_parent = self._file_count_of(m.parent)
                    if prev is None or n_parent is None:
                        incremental = False  # parent pruned under the walk
                        break
                    if self._vector_paths(m) != prev:
                        incremental = False  # new/changed delete vectors
                        break
                    if len(m.files) != n_parent + len(m.added):
                        incremental = False  # files were also removed
                        break
                    added.extend(m.added)
                elif m.operation == "delete_mor" and self._subtractable():
                    # a pure MOR-delete commit (file set unchanged, one
                    # new vector) is algebraically subtractable: scan
                    # only the rows the NEW vector hides that were
                    # visible at its parent, and fold their NEGATED
                    # partials (r7 verdict task #5). File SET equality,
                    # not count: a foreign writer spelling a swap as
                    # 'delete_mor' must recompute, not fold
                    try:
                        parent_m = (
                            self.source.read_manifest(m.parent)
                            if m.parent is not None
                            else None
                        )
                    except (FileNotFoundError, OSError):
                        incremental = False
                        break
                    prev = self._vector_paths(parent_m) if parent_m else ()
                    if parent_m is None or set(m.files) != set(parent_m.files):
                        incremental = False
                        break
                    new_entries = [
                        dv
                        for dv in m.meta.get("delete_vectors", [])
                        if dv["path"] not in set(prev)
                    ]
                    if not new_entries:
                        continue  # vector-less delete commit: no-op
                    if len(new_entries) > 1:
                        # one vector per delete_mor commit by
                        # construction; anything else is foreign —
                        # overlap between same-commit vectors would
                        # double-subtract, so recompute instead
                        incremental = False
                        break
                    subtract.append((v, new_entries[0], set(added)))
                elif op_changes_rows:
                    incremental = False
                    break
        if incremental and not added and not subtract:
            # only no-op maintenance commits: just advance the pointer
            return self._publish(spark, None, src_head, view_m, mode="noop")
        if incremental and subtract:
            try:
                negatives = [
                    self._deleted_rows_partial(spark, v, entry, pre_added)
                    for v, entry, pre_added in subtract
                ]
            except _ParentPruned:
                incremental = False  # a subtract scan lost its parent
            else:
                # Each negative partial is read TWICE — the extremum
                # check aggregates it, then the publish merge folds its
                # NULLed form — and is ≤1 row per touched group, so
                # materialize it once instead of re-running the
                # deleted-rows scan (source files + vector + anti-join)
                # per consumer (r11, guide §7.2).
                negatives = [
                    n.localCheckpoint() for n in negatives if n is not None
                ]
                # ONE view read serves both the extremum check and the
                # merge (each explicit-version read pays per-file
                # vacuum pre-checks)
                cur_df = self.view.read(spark, version=view_m.version)
                unsafe = self._minmax_unsafe_groups(cur_df, negatives)
                if unsafe is None:
                    # more extremum-hit groups than the rescan cap:
                    # one full recompute is the cheaper repair
                    incremental = False
                else:
                    delta = None
                    if added:
                        delta = self._added_rows_partial(spark, added, src_head)
                    for n in negatives:
                        # deleted extremes verified harmless (or their
                        # group is being rescanned wholesale) — NULL
                        # them so the merge keeps the stored min/max
                        # instead of folding the deleted values back in
                        delta = (
                            self._null_minmax(n)
                            if delta is None
                            else delta.unionByName(self._null_minmax(n))
                        )
                    if delta is None:  # deletes netted entirely against adds
                        return self._publish(spark, None, src_head, view_m, mode="noop")
                    rescan = (
                        (unsafe, self._rescan_groups_partial(spark, unsafe, src_head))
                        if unsafe
                        else None
                    )
                    return self._publish(
                        spark, delta, src_head, view_m, mode="incremental",
                        current_df=cur_df, rescan=rescan,
                    )
        if incremental:
            delta = self._added_rows_partial(spark, added, src_head)
            return self._publish(spark, delta, src_head, view_m, mode="incremental")
        full = self._partial(self.source.read(spark, version=src_head))
        # view_m rides along so the publish still CAS-checks the state
        # pointer; the full recompute just ignores the old content
        return self._publish(spark, full, src_head, view_m, mode="full")

    def _added_rows_partial(self, spark: SparkSession, added: list[str], src_head: int) -> DataFrame:
        """Partial aggregates of the files ADDED in the refresh window."""
        # ACTIVE delete vectors apply snapshot-wide — including to
        # newly added files (a re-inserted deleted key stays hidden
        # until a compaction, exactly as the read path documents).
        # Folding the raw added rows would make the view count rows
        # the source read hides; apply the head's vectors to the
        # delta scan so the fold sees what a reader sees.
        # (Positional vectors name pre-existing files, so they
        # anti-join to nothing here — harmless.)
        head_m = self.source.read_manifest(src_head)
        return self._partial(self.source._read_files(spark, head_m, added))

    def _deleted_rows_partial(
        self, spark: SparkSession, v: int, entry: dict, pre_added: set
    ) -> DataFrame | None:
        """NEGATED partial aggregates of exactly the rows a MOR-delete
        commit ``v`` newly hid: rows hit by its new vector that were
        still VISIBLE at its parent (earlier vectors anti-joined away —
        a positional vector can legally name already-hidden rows, and
        subtracting those twice would corrupt the view). Scan scope:

        - positional vector: ONLY the files the vector names (it is
          file-scoped by construction) — the 100 TB point: a delete
          touching 0.1% of files folds by scanning those files, never
          the table;
        - equality vector: the parent snapshot's files (keys apply
          snapshot-wide), still only key-matching rows aggregate.

        Files added within this refresh window (``pre_added``) are
        excluded: their rows enter the positive delta with the HEAD's
        vectors already applied, so this commit's hits on them are
        netted there. Returns None when nothing is left to subtract;
        raises :class:`_ParentPruned` when the parent manifest was
        vacuumed under the walk (caller falls back to full
        recompute)."""
        from octopufs_spark.manifest import _strip_dropped

        try:
            pm = self.source.read_manifest(self.source.read_manifest(v).parent)
        except (FileNotFoundError, OSError, TypeError):
            raise _ParentPruned() from None
        positional = entry.get("type") == "positional"
        if positional:
            affected = sorted(
                self.source._vector_files(entry) & set(pm.files) - pre_added
            )
        else:
            affected = sorted(set(pm.files) - pre_added)
            affected = self._prune_equality_affected(affected, pm, entry)
        if not affected:
            return None  # every hit file enters via the positive delta
        need_pos = positional or self.source._has_positional_dvs(pm)
        raw = self.source._scan_files(
            spark,
            affected,
            annotate_positions=need_pos,
            evolution=pm.meta.get("schema_evolution"),
        )
        # keep only rows the NEW vector hits...
        gone, on = self.source._vector_frame(
            spark, entry, pm.meta.get("schema_evolution", [])
        )
        hit = raw.join(F.broadcast(gone), on, "left_semi")
        # ...that were visible at the parent (earlier vectors applied)
        vis = _strip_dropped(self.source._apply_delete_vectors(spark, hit, pm))
        neg = self._partial(vis)
        flipped = [
            (-F.col(phys)).alias(phys) if fn in ("count", "countv", "sum") else F.col(phys)
            for phys, (fn, _c) in self._internal_cols().items()
        ]
        return neg.select(*self.group_by, *flipped)

    def _vector_paths(self, m: Manifest) -> tuple:
        return tuple(sorted(dv["path"] for dv in m.meta.get("delete_vectors", [])))

    def _vector_paths_of(self, version: int | None):
        if version is None:
            return ()
        try:
            return self._vector_paths(self.source.read_manifest(version))
        except (FileNotFoundError, OSError):
            return None

    def _file_count_of(self, version: int | None) -> int | None:
        if version is None:
            return 0
        try:
            return len(self.source.read_manifest(version).files)
        except (FileNotFoundError, OSError):
            return None

    def _prune_equality_affected(self, affected: list[str], pm, entry: dict) -> list[str]:
        """Equality vectors apply snapshot-wide, but the files a
        specific vector can HIT are bounded by its key range: the
        vector parquet is tiny by construction (delete_where_mor
        stages only the deleted keys), so its single key column's
        min/max read driver-side, and the source's own prune_plan —
        zone maps, hive segments, hidden-partition derivation, alias
        chains, every conservative fallback included — drops parent
        files whose interval cannot contain ANY deleted key. At 100 TB
        this turns 'subtract a 0.1% delete' from a parent-wide scan
        into the handful of files the keys span. Multi-key vectors and
        stat-less tables pass through unpruned (still correct, just
        unoptimized)."""
        keys = list(entry.get("keys") or [])
        if len(keys) != 1 or not (pm.meta.get("file_stats") or {}):
            return affected
        try:
            import pyarrow.parquet as pq

            col = pq.read_table(
                f"{self.source.root_path}/{entry['path']}",
                columns=keys,
                filesystem=self.source.fs,
            ).column(0)
            import pyarrow.compute as pc

            kmin, kmax = pc.min(col).as_py(), pc.max(col).as_py()
        except Exception:
            return affected  # unreadable vector: stay conservative
        if kmin is None or kmax is None:
            return affected
        keep, _skipped = self.source.prune_plan(
            [(keys[0], ">=", kmin), (keys[0], "<=", kmax)], version=pm.version
        )
        keep_set = set(keep)
        return [f for f in affected if f in keep_set]

    def _publish(
        self,
        spark: SparkSession,
        delta: DataFrame | None,
        src_head: int,
        view_m: Manifest | None,
        mode: str,
        current_df: DataFrame | None = None,
        rescan: tuple[list[dict], DataFrame] | None = None,
    ) -> int:
        """Stage the merged view content and commit it with the
        advanced source pointer; abort if a racing refresh advanced the
        view first (its merge already covers our delta). ``rescan``
        carries (extremum-hit group keys, their fresh head partials):
        those groups' folded rows are REPLACED wholesale — the fold's
        NULLed min/max is wrong exactly there, and the head partials
        are what a full recompute would say for them."""
        expected = (view_m.meta["mv"]["source_version"] if view_m else None)
        if delta is None:
            staged_files = list(view_m.files) if view_m else []
        else:
            merged = delta
            if view_m is not None and mode == "incremental":
                current = (
                    current_df
                    if current_df is not None
                    else self.view.read(spark, version=view_m.version)
                )
                merged = self._merge(current.unionByName(delta))
            if rescan is not None:
                keys, rescan_df = rescan
                merged = merged.where(
                    ~self._group_key_predicate(keys)
                ).unionByName(rescan_df)
            # groups whose every row was deleted leave the view — the
            # __rows liveness counter makes a subtractive fold agree
            # with what a full recompute (no such group) produces
            merged = merged.where(F.col("__rows") > 0)
            staged_files, _ = self.view._stage(merged, "mv")

        meta = {
            "mv": {
                "source": self.source.root,
                "source_version": src_head,
                "group_by": self.group_by,
                "aggs": {k: list(v) for k, v in self.aggs.items()},
                "mode": mode,
                # physical layout generation: 2 == carries __rows
                "phys": 2,
            }
        }
        if rescan is not None:
            meta["mv"]["minmax_rescan_groups"] = len(rescan[0])

        def build(parent: Manifest | None) -> list[str]:
            cur = (parent.meta.get("mv") or {}).get("source_version") if parent else None
            if cur != expected:
                raise ConcurrentModificationError(
                    f"materialized view {self.view.root} was refreshed "
                    f"concurrently (source_version {cur}, expected {expected}) "
                    "— rerun refresh()"
                )
            return sorted(staged_files)

        return self.view._commit_with_retry(build, "mv-refresh", meta)

    # ---------- continuous maintenance ----------

    def maintain_stream(self, spark: SparkSession, checkpoint: str, **trigger):
        """Keep the view current from the source's commit STREAM: a
        Structured Streaming query over ``manifest_stream`` whose
        foreachBatch callback's only job is SCHEDULING — each
        micro-batch triggers one :meth:`refresh`. The batch rows are
        deliberately ignored: refresh re-derives its delta from the
        commit log itself (it must — delete vectors and non-append
        commits never ride the row stream), and it is idempotent and
        CAS-guarded, so a checkpoint replay's duplicate trigger is a
        no-op rather than a double fold. ``skipChangeCommits`` keeps
        the scheduler alive across OPTIMIZE/MERGE on the source (those
        commits fold — or recompute — at the next tick; a DELETE-only
        commit with no later append folds on the next manual refresh,
        since a row stream has nothing to deliver for it).

        ``trigger`` kwargs pass through (``availableNow=True`` for a
        catch-up run, ``processingTime="30 seconds"`` for steady
        maintenance). Returns the StreamingQuery — ``stop()`` pauses
        maintenance; the view's state lives in its own commit log, so
        a later query (or plain refresh) resumes exactly."""
        from octopufs_spark.sources import register_manifest_stream

        register_manifest_stream(spark)
        src = (
            spark.readStream.format("manifest_stream")
            .option("path", self.source.root)
            .option("skipChangeCommits", "true")
            .load()
        )

        def _tick(_batch_df, _batch_id):
            self.refresh(spark)

        writer = src.writeStream.foreachBatch(_tick).option("checkpointLocation", checkpoint)
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()

    # ---------- read ----------

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The view with its DECLARED columns (avg recomposed). Reads
        BOTH physical generations: a pre-``phys 2`` snapshot stores a
        plain ``__sum_<name>`` without the companion non-null count
        (and no ``__rows``) — time travel into old versions, and views
        not yet migrated by a refresh, must stay readable."""
        df = self.view.read(spark, version=version)
        cols = [F.col(c) for c in self.group_by]
        for name, (fn, _col) in self.aggs.items():
            if fn == "count":
                cols.append(F.col(f"__cnt_{name}").alias(name))
            elif fn == "avg":
                cols.append(
                    (F.col(f"__sum_{name}") / F.col(f"__cnt_{name}")).alias(name)
                )
            elif fn == "sum":
                if f"__cnt_{name}" in df.columns:
                    # NULL when no non-null values remain (_internal_cols)
                    cols.append(
                        F.when(F.col(f"__cnt_{name}") > 0, F.col(f"__sum_{name}")).alias(name)
                    )
                else:  # phys-1 layout: the sum column alone
                    cols.append(F.col(f"__sum_{name}").alias(name))
            else:
                cols.append(F.col(f"__{fn}_{name}").alias(name))
        return df.select(*cols)

    def last_refreshed_source_version(self) -> int | None:
        return self._state()[0]
