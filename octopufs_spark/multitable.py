"""Atomic multi-table transactions over manifest tables.

Single-table commits are atomic already; what a lakehouse cannot do
with per-table logs alone is flip SEVERAL tables together — the
classic fact+dimension or documents+embeddings update where a reader
must never see one side's new data with the other side's old. The
``Catalog`` closes that gap with a catalog-level commit log (the
Nessie/LakeFS idea, built from this repo's own primitives):

- A catalog version is a tiny manifest (no data files) whose meta
  pins ``{table name -> root, version}``. Readers resolve a table
  THROUGH the catalog (``catalog.read``) and get a cross-table
  consistent snapshot: every pin in one catalog version was published
  by one atomic catalog commit.

- ``MultiTableTransaction`` stages each table's write as a WAP
  snapshot (``wap_id = txn id``): durable, version-addressed,
  invisible to the tables' own main readers. ``commit()`` then
  publishes ONE catalog version re-pinning every written table at its
  staged snapshot — the atomic flip — then fast-forwards each staged
  snapshot onto its table's main (``publish_wap``, idempotent) and
  re-pins the catalog at the published versions so pins outlive the
  staged manifests' retention window. A crash anywhere after the flip
  loses nothing: catalog readers already see the new pins (staged
  snapshots are readable by version) and ``Catalog.heal()`` re-runs
  the idempotent publish + re-pin steps.

- Write-write conflicts are detected against the pin OBSERVED AT
  WRITE TIME: two transactions writing the same table serialize — the
  second's commit aborts with :class:`ConcurrentModificationError`
  (its staged snapshots simply expire), it never silently replaces
  the first's rows. Transactions touching DISJOINT tables merge.

Retention: the CURRENT catalog version's pins converge to their
tables' main heads, which vacuum always retains. Between the flip and
convergence the staged snapshots are protected DURABLY, not by the
retention clock: ``commit()`` tags each staged version (table-level
tags are unconditional vacuum pins) before the flip and releases the
tag once that table converges — so a crash can sit un-healed
arbitrarily long without losing catalog-visible data. A crash BEFORE
the flip leaves only orphan tags; ``release_stale_txn_tags`` sweeps
them after a grace window. Pins inside OLDER catalog versions age out
with each table's own retention policy (``keep_versions``), exactly
like any time travel — ``create_tag`` holds a historical catalog
state durably.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from octopufs_spark.manifest import (
    ConcurrentModificationError,
    Manifest,
    ManifestTable,
    _layout_key,
    _with_hidden_columns,
    write_and_commit,
)


class WedgedConvergenceError(RuntimeError):
    """A committed transaction's staged APPEND cannot publish file-wise
    (the table's schema evolution or hidden layout changed after
    staging) and no SparkSession was available to re-apply it by
    content. The flip already committed, so the pin is durable (the
    transaction's table-level tag protects it from vacuum) — run
    ``Catalog.heal(spark)`` to converge by content."""


def _reapply_append_content(t: ManifestTable, m: Manifest, spark: SparkSession) -> int:
    """Converge a pure-append WAP staging whose base contract moved:
    the table's schema-evolution log or hidden layout changed after
    staging, so its FILES cannot be adopted (they were written under
    the old contract) — but its ROWS can. Scan only the staged
    commit's added files through the staged manifest's OWN evolution
    log (the contract they were written under, converging their
    column names onto the head's), re-derive the head's hidden layout
    for the rewritten files, and append them as a normal main commit
    carrying the staged snapshot's ``wap_published`` marker. The
    marker walk runs INSIDE the commit build, so racing convergers
    (and publish_wap retries) settle on ONE published version —
    content is never applied twice; a loser's staging dir is an
    invisible orphan vacuum sweeps. Returns the published version."""
    wap = m.meta["wap"]
    base_v, staged_v, wap_id = wap.get("base"), m.version, wap.get("id")
    if m.added is None:
        # no publish-time added list: falling back to m.files (the
        # file-wise publish's safe fallback, which dedups per FILE)
        # would re-append every BASE row here — content re-apply has
        # no row-level dedup, so refuse instead of duplicating
        raise ConcurrentModificationError(
            f"staged snapshot v{staged_v} of {t.root} records no added-file "
            "list; cannot re-apply it by content — re-stage the write"
        )
    # equality delete vectors apply snapshot-wide: the committed truth
    # for the added rows is what read(version=staged) showed
    df = t._strip_hidden(t._read_files(spark, m, list(m.added)), m)
    hp = _layout_key(t.read_manifest().meta.get("hidden_partitions"))
    partition_by: list[str] = []
    if hp:
        # conform to the HEAD layout: a group missing the hidden
        # column would break the by-name union every read performs
        df = _with_hidden_columns(df, hp)
        partition_by = list(hp)
    content, _ = t._stage(df, "data", partition_by)
    marker = {
        "wap_published": {"id": wap_id, "staged_version": staged_v, "reapplied": True}
    }

    def build(parent: Manifest | None) -> list[str]:
        t._walk_wap_outcome(
            parent, base_v, staged_v, done="published",
            error=f"staged snapshot v{staged_v} was aborted at v{{at}}; nothing to re-apply",
        )
        live_hp = _layout_key(parent.meta.get("hidden_partitions") if parent else None)
        if live_hp != hp:
            # the hidden layout moved again between our scan and this
            # commit: our rewritten files carry the OBSERVED layout's
            # dir values, and mixing specs under one meta would let
            # bucket pruning skip them — abort cleanly, rerun heal
            raise ConcurrentModificationError(
                f"hidden layout of {t.root} changed while re-applying staged "
                f"v{staged_v} by content — rerun heal()"
            )
        pf = set(parent.files) if parent else set()
        return sorted((parent.files if parent else []) + [f for f in content if f not in pf])

    return t._commit_with_retry(build, "wap-publish", marker, carry=True)


class Catalog:
    """A catalog rooted at ``root`` (its own manifest log, no data
    files). Tables are registered by name with their root path."""

    def __init__(self, root: str):
        self.log = ManifestTable(root)

    # ---------- state ----------

    def snapshot(self, version: int | None = None) -> dict[str, dict]:
        """{name: {"root": ..., "version": ...}} at a catalog version.
        An EXPLICIT version that no longer exists propagates its
        missing-version error — only the empty-catalog default reads
        as {} (reporting a pruned historical version as 'no such
        table' would misdirect the caller)."""
        try:
            m = self.log.read_manifest(version)
        except FileNotFoundError:
            if version is not None:
                raise
            return {}
        return dict(m.meta.get("tables", {}))

    def current_version(self) -> int | None:
        return self.log.current_version()

    # ---------- commits ----------

    def _commit_pins(
        self, updates: dict[str, dict], op: str, expected: dict[str, int | None]
    ) -> int:
        """Publish a catalog version = live pins merged with
        ``updates``. ``expected`` holds, per updated table, the pin
        version the CALLER based its work on — if the live pin moved
        (a racing transaction re-pinned the same table), abort instead
        of silently replacing its rows. Both the check and the merge
        run in the commit build against the parent, so disjoint racers
        merge through the log's own CAS retry."""

        def build(parent: Manifest | None):
            live = dict(parent.meta.get("tables", {})) if parent else {}
            for name in updates:
                cur = (live.get(name) or {}).get("version")
                if cur != expected[name]:
                    raise ConcurrentModificationError(
                        f"catalog {self.log.root}: table {name!r} was re-pinned "
                        f"concurrently (v{cur}, expected v{expected[name]}) — "
                        "rerun the transaction against the new snapshot"
                    )
            return [], {"tables": {**live, **updates}}

        return self.log._commit_with_retry(build, op, None)

    def register(self, name: str, table: ManifestTable, version: int | None = None) -> int:
        """Pin an existing table into the catalog (its current main
        head by default)."""
        if version is None:
            version = table.current_version()
            if version is None:
                raise FileNotFoundError(f"no committed manifest under {table.root}")
        expected = {name: (self.snapshot().get(name) or {}).get("version")}
        return self._commit_pins(
            {name: {"root": table.root, "version": version}},
            "catalog-register",
            expected,
        )

    # ---------- reads ----------

    def table(self, name: str) -> tuple[ManifestTable, int]:
        pin = self.snapshot().get(name)
        if pin is None:
            raise KeyError(f"no table {name!r} in catalog {self.log.root}")
        return ManifestTable(pin["root"]), pin["version"]

    def read(
        self, spark: SparkSession, name: str, catalog_version: int | None = None
    ) -> DataFrame:
        """Read a table AT ITS PINNED VERSION — the cross-table
        consistent view. ``catalog_version`` time-travels the whole
        catalog (every table as of that catalog commit).

        The vacuum pre-check (one metadata call per data file) runs
        only for pins BEHIND the table's main head: the common case —
        a converged pin equal to the head — reads without it, since
        vacuum never removes the current snapshot's files.

        A CURRENT pin that still names a staged WAP snapshot (its
        transaction crashed between the catalog flip and the table
        publishes) is AUTO-HEALED here: the first reader converges the
        table's main and re-pins, so the durability story needs no
        operator ``heal()`` call. The hot path (pin == head) pays
        nothing — a staged snapshot can never equal
        ``current_version()`` (main resolution skips it) — while
        behind-head pins pay one extra manifest parse for the staged
        check (on top of the one ``t.read`` does itself; ~ms even at
        50k files, and that path already pays the per-file vacuum
        pre-check). Historical reads (``catalog_version`` given) never
        converge: an old pin legitimately names whatever was pinned
        then."""
        pin = self.snapshot(catalog_version).get(name)
        if pin is None:
            raise KeyError(f"no table {name!r} in catalog {self.log.root}")
        t = ManifestTable(pin["root"])
        current = catalog_version is None and pin["version"] == t.current_version()
        if catalog_version is None and not current:
            try:
                staged = "wap" in t.read_manifest(pin["version"]).meta
            except FileNotFoundError:
                staged = False
            if staged:
                # fail-soft: convergence WRITES (publish + re-pin), so a
                # reader without write access — read-only credentials, a
                # replica mount — or one losing a pathological publish
                # race falls back to reading the staged snapshot
                # directly, which is exactly what this read returned
                # before auto-heal existed (the pin's content is
                # committed catalog truth either way; a later writer or
                # heal() converges it)
                try:
                    pin = self._converge(name, pin, spark=spark)
                    t = ManifestTable(pin["root"])
                    current = pin["version"] == t.current_version()
                except (OSError, RuntimeError, ConcurrentModificationError):
                    pass
        return t.read(spark, version=pin["version"], check_vacuumed=not current)

    # ---------- catalog tags (durable multi-table pins) ----------

    def _member_tag(self, name: str, t_name: str) -> str:
        """Member-table tag name for catalog tag ``name``. Both the
        tag and the table name may contain the separator characters,
        and two catalogs can share a member table — so the name embeds
        a digest of (catalog root, tag, table), which cannot collide
        across boundaries the way naive concatenation can, plus a
        readable suffix."""
        import hashlib

        digest = hashlib.md5(
            f"{self.log.root}\x00{name}\x00{t_name}".encode()
        ).hexdigest()[:12]
        return f"catalog-{digest}-{name}"[:128]

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Durably pin a WHOLE catalog state: every member table is
        tagged at its pinned version (table-level tags are what each
        table's vacuum honors), then the catalog version itself is
        tagged — the commit point, created LAST so a crashed attempt
        leaves only member tags that a retry reuses. This closes the
        retention caveat on historical catalog reads: a
        ``read(..., catalog_version=tagged)`` stays materializable
        forever, not just within each table's keep window."""
        v = version if version is not None else self.log.current_version()
        if v is None:
            raise FileNotFoundError(f"no committed catalog under {self.log.root}")
        snap = self.snapshot(v)
        for t_name, pin in snap.items():
            t = ManifestTable(pin["root"])
            member = self._member_tag(name, t_name)
            try:
                t.create_tag(member, version=pin["version"])
            except FileExistsError:
                if t.tag_version(member) != pin["version"]:
                    raise  # a different state under this exact identity
        self.log.create_tag(name, version=v)
        return v

    def delete_tag(self, name: str) -> None:
        """Release a catalog tag and its member-table pins."""
        v = self.log.tag_version(name)
        for t_name, pin in self.snapshot(v).items():
            try:
                ManifestTable(pin["root"]).delete_tag(self._member_tag(name, t_name))
            except FileNotFoundError:
                pass  # half-created or already released
        self.log.delete_tag(name)

    def read_tagged(self, spark: SparkSession, name: str, table: str) -> DataFrame:
        """Read a member table as of a catalog tag."""
        return self.read(spark, table, catalog_version=self.log.tag_version(name))

    # ---------- transactions ----------

    def transaction(self) -> "MultiTableTransaction":
        return MultiTableTransaction(self)

    def _repin_published(self, name: str, root: str, staged_v: int, published_v: int) -> None:
        """Advance a pin from its staged version to the published one.
        A pin that MOVED in the meantime makes this step moot, never a
        failure: the transaction already committed at its flip, so the
        mover is either a healer (advanced it to our published version)
        or a LATER transaction that legitimately pinned past us (its
        own publish re-applies on a head that includes our rows). The
        publish that preceded this call still converged the table's
        main either way."""
        try:
            self._commit_pins(
                {name: {"root": root, "version": published_v}},
                "catalog-txn-publish",
                {name: staged_v},
            )
        except ConcurrentModificationError:
            pass

    def _converge(self, name: str, pin: dict, spark: SparkSession | None = None) -> dict:
        """Ensure a pin points at a PUBLISHED main snapshot: a pin
        still on a staged WAP snapshot (a transaction crashed between
        its flip and its publishes) is published — force-replace for a
        replace-type staging, since the flip already committed that
        content as the table's truth — and re-pinned. A pure APPEND
        staging wedged by a schema-evolution / hidden-layout change
        since staging (file-wise publish aborts even force-replace) is
        re-applied BY CONTENT when ``spark`` is available, else raises
        :class:`WedgedConvergenceError` (the pin stays durable — its
        transaction tag holds it — so a later ``heal(spark)``
        finishes). Returns the resulting pin. Idempotent and
        race-tolerant (concurrent convergers publish the same snapshot
        to the same outcome via the commit-build marker walk)."""
        t = ManifestTable(pin["root"])
        try:
            m = t.read_manifest(pin["version"])
        except FileNotFoundError:
            return pin  # vacuumed beyond repair: nothing to converge
        if "wap" not in m.meta:
            self._release_txn_tag(t, m)
            return pin
        try:
            pv = t.publish_wap(version=pin["version"], on_conflict="force-replace")
        except ConcurrentModificationError:
            if spark is None:
                raise WedgedConvergenceError(
                    f"staged snapshot v{pin['version']} of {t.root} cannot publish "
                    "file-wise (schema/layout evolved since staging); run "
                    "Catalog.heal(spark) to re-apply it by content"
                ) from None
            pv = _reapply_append_content(t, m, spark)
        self._repin_published(name, pin["root"], pin["version"], pv)
        self._release_txn_tag(t, m)
        return self.snapshot().get(name) or {**pin, "version": pv}

    @staticmethod
    def _release_txn_tag(t: ManifestTable, m: Manifest) -> None:
        """Drop the durable table-level tag a transaction created on
        its staged snapshot at commit time — convergence is done, the
        pin now names (or led to) a published main version that vacuum
        retains through normal retention."""
        import re as _re

        marker = (
            m.meta.get("wap") or m.meta.get("wap_published") or m.meta.get("wap_aborted") or {}
        )
        wid = marker.get("id")
        # only transaction-minted ids: an interactive WAP's arbitrary
        # wap_id could coincide with a USER tag name on the staged
        # version — deleting that would drop a deliberate retention pin
        if not wid or not _re.fullmatch(r"txn-[0-9a-f]{12}", wid):
            return
        # the tag sits on the STAGED version: m itself when the pin is
        # still staged, else the published marker records it
        staged_v = m.version if "wap" in m.meta else marker.get("staged_version")
        try:
            if staged_v is not None and t.tag_version(wid) == staged_v:
                t.delete_tag(wid)
        except (FileNotFoundError, KeyError):
            pass

    def release_stale_txn_tags(self, older_than_seconds: float = 86400.0) -> dict[str, list[str]]:
        """Sweep orphaned transaction tags: a crash between tag
        creation and the catalog flip leaves ``txn-*`` tags holding
        staged snapshots that will never be pinned (the transaction
        object is gone, so its flip can never land). A tag is released
        when (a) its name is a txn id, (b) the snapshot it pins is NOT
        the table's current catalog pin (a pinned staging is live
        convergence work, never stale), and (c) the staged commit is
        older than ``older_than_seconds`` — the grace window that
        separates a crashed pre-flip transaction from one still in
        flight, so keep it well above the longest transaction you run.
        Returns {table name: [released tags]}."""
        import re as _re
        import time as _time

        txn_pat = _re.compile(r"txn-[0-9a-f]{12}$")
        now = _time.time()
        out: dict[str, list[str]] = {}
        for name, pin in self.snapshot().items():
            t = ManifestTable(pin["root"])
            for tag, tagged_v in t.tags().items():
                if not txn_pat.fullmatch(tag) or tagged_v == pin["version"]:
                    continue
                try:
                    m = t.read_manifest(tagged_v)
                except FileNotFoundError:
                    t.delete_tag(tag)  # pins nothing readable anymore
                    out.setdefault(name, []).append(tag)
                    continue
                wap = m.meta.get("wap")
                if not wap or wap.get("id") != tag:
                    continue  # not a txn staging of this tag: user tag, leave it
                if now - (m.committed_at or now) > older_than_seconds:
                    t.delete_tag(tag)
                    out.setdefault(name, []).append(tag)
        return out

    def heal(
        self,
        spark: SparkSession | None = None,
        release_stale_txn_tags_after: float | None = None,
    ) -> dict[str, int]:
        """Complete the convergence steps of any committed transaction
        that crashed between its catalog flip and its table publishes:
        publish still-staged pinned snapshots and re-pin them at the
        published versions. With ``spark``, stagings wedged by a
        schema/layout change since staging are re-applied by content
        (without it those raise :class:`WedgedConvergenceError` and
        stay durably pinned). ``release_stale_txn_tags_after`` also
        runs :meth:`release_stale_txn_tags` with that grace window, so
        one periodic ``heal(spark, 86400)`` call is a complete
        maintenance pass. Idempotent; returns {name: converged-to
        version} for work actually done."""
        if release_stale_txn_tags_after is not None:
            self.release_stale_txn_tags(release_stale_txn_tags_after)
        out: dict[str, int] = {}
        for name, pin in self.snapshot().items():
            converged = self._converge(name, pin, spark=spark)
            if converged["version"] != pin["version"]:
                out[name] = converged["version"]
        return out


class MultiTableTransaction:
    """Stage writes to several tables, then land them as ONE atomic
    catalog flip. Usage::

        txn = catalog.transaction()
        txn.write("orders", orders_df, mode="append")
        txn.write("rollup", rollup_df)           # overwrite
        txn.commit()
    """

    def __init__(self, catalog: Catalog):
        self.catalog = catalog
        self.txn_id = f"txn-{uuid.uuid4().hex[:12]}"
        self._staged: dict[str, dict] = {}  # name -> {"root", "version"}
        self._expected: dict[str, int | None] = {}  # pin seen at write time
        self._done = False
        self._spark: SparkSession | None = None  # captured from the first write

    def write(
        self,
        name: str,
        df: DataFrame,
        mode: str = "overwrite",
        **write_kwargs,
    ) -> int:
        """Stage a write to a registered table (WAP snapshot, invisible
        to the table's main readers until the transaction commits)."""
        if self._done:
            raise RuntimeError("transaction already resolved")
        if name in self._staged:
            raise ValueError(f"table {name!r} already written in this transaction")
        pin = self.catalog.snapshot().get(name)
        if pin is None:
            raise KeyError(f"no table {name!r} in catalog {self.catalog.log.root}")
        # SERIALIZE behind any in-flight transaction first: if the pin
        # still names a staged snapshot (a prior transaction flipped
        # but hasn't converged — or crashed), converge it NOW. Staging
        # our write against main while the pin is staged would
        # otherwise let our commit pass the conflict check (expected ==
        # that staged pin) yet our snapshot would LACK the prior
        # transaction's rows — replacing its pin would lose them.
        self._spark = df.sparkSession
        pin = self.catalog._converge(name, pin, spark=df.sparkSession)
        table = ManifestTable(pin["root"])
        sv = write_and_commit(df, table, mode=mode, wap_id=self.txn_id, **write_kwargs)
        self._staged[name] = {"root": pin["root"], "version": sv}
        self._expected[name] = pin["version"]
        return sv

    def commit(self) -> int:
        """The atomic flip: one catalog commit re-pins every written
        table at its staged snapshot (conflict-checked against the
        pins observed at write time), then each staged snapshot is
        published onto its table's main and the catalog re-pins the
        published versions (both steps idempotent — a crash is
        repaired by ``Catalog.heal``). Returns the flip's catalog
        version."""
        if self._done:
            raise RuntimeError("transaction already resolved")
        if not self._staged:
            raise ValueError("empty transaction")
        # Durably pin every staged snapshot BEFORE the flip: a
        # table-level tag (named by the txn id) on the staged version
        # makes it vacuum-proof until convergence releases it. Without
        # this, a crash between the flip and phase 2 races each
        # table's retention window — once a staged manifest and its
        # files are vacuumed, the catalog pin names committed,
        # catalog-VISIBLE data that no longer exists. A crash before
        # the flip leaves only orphan tags, swept by
        # ``release_stale_txn_tags``.
        for name, pin in self._staged.items():
            t = ManifestTable(pin["root"])
            try:
                t.create_tag(self.txn_id, version=pin["version"])
            except FileExistsError:
                if t.tag_version(self.txn_id) != pin["version"]:
                    raise  # a different snapshot under this txn id
        try:
            cv = self.catalog._commit_pins(self._staged, "catalog-txn", self._expected)
        except BaseException:
            # the flip never landed: release the durable pins now (a
            # crash here instead leaves them for release_stale_txn_tags)
            for _name, pin in self._staged.items():
                try:
                    ManifestTable(pin["root"]).delete_tag(self.txn_id)
                except (FileNotFoundError, OSError):
                    pass
            raise
        self._done = True
        # phase 2: converge each table's main head + re-pin so the pin
        # outlives the staged manifest's retention window
        for name, pin in self._staged.items():
            table = ManifestTable(pin["root"])
            # force-replace: the flip committed this content as the
            # table's truth, so convergence is unconditional — a direct
            # overwrite-racing write loses to the transaction. The one
            # case that cannot publish file-wise (append staged, then
            # schema/layout evolved) re-applies by content.
            try:
                pv = table.publish_wap(version=pin["version"], on_conflict="force-replace")
            except ConcurrentModificationError:
                pv = _reapply_append_content(
                    table, table.read_manifest(pin["version"]), self._spark
                )
            self.catalog._repin_published(name, pin["root"], pin["version"], pv)
            self.catalog._release_txn_tag(table, table.read_manifest(pin["version"]))
        return cv

    def abort(self) -> None:
        """Mark every staged snapshot aborted (their files expire via
        vacuum); the catalog never saw them."""
        if self._done:
            raise RuntimeError("transaction already resolved")
        for _name, pin in self._staged.items():
            t = ManifestTable(pin["root"])
            t.abort_wap(version=pin["version"])
            try:  # a crashed earlier commit() attempt may have tagged
                t.delete_tag(self.txn_id)
            except FileNotFoundError:
                pass
        self._done = True
