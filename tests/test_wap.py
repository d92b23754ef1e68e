"""Write-audit-publish (staged snapshots) and named tags on manifest
tables — the Iceberg WAP / tag model: stage a commit invisibly, audit
it by explicit version, publish (or abort) it onto main; pin snapshots
under immutable names that vacuum must respect."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from octopufs_spark.manifest import (
    ConcurrentModificationError,
    ManifestTable,
    clone_table,
    compact_and_commit,
    write_and_commit,
)


@pytest.fixture()
def table(tmp_path):
    return ManifestTable(str(tmp_path / "tbl"))


def _df(spark, lo, hi):
    return spark.range(lo, hi).withColumn("v", F.col("id") * 2)


def _ids(df):
    return {r.id for r in df.collect()}


# ---------- staged snapshot visibility ----------


def test_staged_commit_invisible_to_main(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    sv = write_and_commit(_df(spark, 10, 15), table, mode="append", wap_id="w1")
    assert table.latest_version() == sv == 2
    assert table.current_version() == 1
    # default read ignores the staged head entirely
    assert _ids(table.read(spark)) == set(range(10))
    # the audit read sees base + staged batch
    assert _ids(table.read(spark, version=sv)) == set(range(15))


def test_commit_after_staged_builds_on_main_head(spark, table):
    """A normal append landing while an audit is in flight must NOT
    leak the staged content into main through its parent chain."""
    write_and_commit(_df(spark, 0, 10), table)
    write_and_commit(_df(spark, 10, 15), table, mode="append", wap_id="w1")
    v3 = write_and_commit(_df(spark, 100, 103), table, mode="append")
    m = table.read_manifest(v3)
    assert m.parent == 1  # skipped the staged v2
    assert _ids(table.read(spark)) == set(range(10)) | {100, 101, 102}


def test_version_as_of_skips_staged(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    sv = write_and_commit(_df(spark, 10, 15), table, mode="append", wap_id="w1")
    ts = table.commit_timestamp(sv)
    # AS OF a moment inside the audit window answers with main's head
    assert table.version_as_of(ts) == 1
    assert _ids(table.read(spark, timestamp=ts)) == set(range(10))


def test_history_marks_staged(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    write_and_commit(_df(spark, 10, 15), table, mode="append", wap_id="w1")
    by_v = {h["version"]: h for h in table.history()}
    assert by_v[2]["staged"] and by_v[2]["wap_id"] == "w1"
    assert not by_v[1]["staged"]


# ---------- publish ----------


def test_publish_fast_forward(spark, table):
    write_and_commit(_df(spark, 0, 10), table, stats=True)
    sv = write_and_commit(_df(spark, 10, 15), table, mode="append", wap_id="w1", stats=True)
    pv = table.publish_wap(wap_id="w1")
    m = table.read_manifest(pv)
    assert m.operation == "wap-publish"
    assert m.parent == 1 and sorted(m.files) == sorted(table.read_manifest(sv).files)
    assert m.meta["wap_published"] == {"id": "w1", "staged_version": sv}
    assert _ids(table.read(spark)) == set(range(15))
    # the staged commit's zone maps published with it
    assert set(m.meta["file_stats"]) == set(m.files)


def test_publish_reapplies_pure_append_on_advanced_head(spark, table):
    write_and_commit(_df(spark, 0, 10), table, stats=True)
    sv = write_and_commit(_df(spark, 10, 15), table, mode="append", wap_id="w1", stats=True)
    write_and_commit(_df(spark, 100, 103), table, mode="append", stats=True)
    pv = table.publish_wap(version=sv)
    assert _ids(table.read(spark)) == set(range(15)) | {100, 101, 102}
    m = table.read_manifest(pv)
    assert m.operation == "wap-publish" and m.parent == 3
    # skipping metadata: the racer's stats carried from the live head,
    # the staged files' stats merged in from the staged snapshot
    assert set(m.meta["file_stats"]) == set(m.files)


def test_publish_conflicts_when_staged_overwrite_races(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    sv = write_and_commit(_df(spark, 50, 55), table, mode="overwrite", wap_id="w1")
    write_and_commit(_df(spark, 100, 103), table, mode="append")
    with pytest.raises(ConcurrentModificationError, match="replaces files"):
        table.publish_wap(version=sv)
    # nothing published; main unchanged
    assert _ids(table.read(spark)) == set(range(10)) | {100, 101, 102}


def test_publish_conflicts_on_schema_evolution_since_staging(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    sv = write_and_commit(_df(spark, 10, 15), table, mode="append", wap_id="w1")
    table.rename_column("v", "val")  # main evolved under the audit
    with pytest.raises(ConcurrentModificationError, match="schema_evolution"):
        table.publish_wap(version=sv)


def test_publish_overwrite_fast_forward_is_replace_op(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    sv = write_and_commit(_df(spark, 50, 55), table, mode="overwrite", wap_id="w1")
    pv = table.publish_wap(version=sv)
    assert table.read_manifest(pv).operation == "wap-publish-replace"
    assert _ids(table.read(spark)) == set(range(50, 55))


def test_publish_is_idempotent(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    sv = write_and_commit(_df(spark, 10, 15), table, mode="append", wap_id="w1")
    pv = table.publish_wap(wap_id="w1")
    assert table.publish_wap(wap_id="w1") == pv
    assert table.publish_wap(version=sv) == pv
    assert table.latest_version() == pv  # no extra commit landed
    assert _ids(table.read(spark)) == set(range(15))


def test_concurrent_publishers_converge(spark, table):
    """A racer publishing the same staged snapshot inside this
    publisher's read->publish window: the build-time idempotence walk
    sees the racer's commit and returns its version — the batch never
    double-applies."""
    write_and_commit(_df(spark, 0, 10), table)
    sv = write_and_commit(_df(spark, 10, 15), table, mode="append", wap_id="w1")
    racer_pv = {}

    orig = table._commit_with_retry
    fired = {"done": False}

    def wrapped(build, operation, meta, *a, **kw):
        if not fired["done"] and operation == "wap-publish":
            fired["done"] = True
            racer_pv["v"] = ManifestTable(table.root).publish_wap(version=sv)
        return orig(build, operation, meta, *a, **kw)

    table._commit_with_retry = wrapped
    pv = table.publish_wap(version=sv)
    assert fired["done"] and pv == racer_pv["v"]
    assert _ids(table.read(spark)) == set(range(15))


def test_publish_reapplies_when_head_advances_mid_call(spark, table):
    """A direct append landing after publish_wap read the staged
    snapshot but before its commit built: the publish must see the
    advanced head in its build and re-apply the staged append onto it
    in ONE commit — not fast-forward over the racer's rows."""
    write_and_commit(_df(spark, 0, 10), table, stats=True)
    sv = write_and_commit(_df(spark, 10, 15), table, mode="append", wap_id="w1", stats=True)
    racer_v = {}

    orig = table._commit_with_retry
    fired = {"done": False}

    def wrapped(build, operation, meta, *a, **kw):
        if not fired["done"] and operation == "wap-publish":
            fired["done"] = True
            racer_v["v"] = write_and_commit(
                _df(spark, 100, 103), ManifestTable(table.root), mode="append", stats=True
            )
        return orig(build, operation, meta, *a, **kw)

    table._commit_with_retry = wrapped
    pv = table.publish_wap(version=sv)
    assert fired["done"]
    assert pv == racer_v["v"] + 1 == table.latest_version()
    m = table.read_manifest(pv)
    assert m.operation == "wap-publish" and m.parent == racer_v["v"]
    assert set(m.meta["file_stats"]) == set(m.files)
    assert _ids(table.read(spark)) == set(range(15)) | {100, 101, 102}


def test_publish_survives_vacuumed_base_manifest(spark, table):
    """A stale staged snapshot can outlive its BASE manifest: once main
    advances past the base, vacuum may prune it while the younger
    staged snapshot is still retention-protected. Publish must not
    need the base manifest — the staged commit carries its added list,
    removed-count, and the base's evolution/layout meta itself."""
    write_and_commit(_df(spark, 0, 10), table)
    sv = write_and_commit(_df(spark, 10, 15), table, mode="append", wap_id="w1", stats=True)
    write_and_commit(_df(spark, 100, 103), table, mode="append")
    # simulate vacuum pruning the base (v1): only its manifest goes —
    # its files are still referenced by the live head and survive
    table.fs.delete_file(f"{table._mdir}/v1.json")
    pv = table.publish_wap(version=sv)
    assert table.read_manifest(pv).operation == "wap-publish"
    assert _ids(table.read(spark)) == set(range(15)) | {100, 101, 102}


# ---------- abort ----------


def test_abort_blocks_publish_and_keeps_main_clean(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    sv = write_and_commit(_df(spark, 10, 15), table, mode="append", wap_id="w1")
    av = table.abort_wap(wap_id="w1")
    m = table.read_manifest(av)
    assert m.operation == "wap-abort" and m.meta["wap_aborted"]["staged_version"] == sv
    # the abort is a no-op main commit: same content, no gap in the log
    assert _ids(table.read(spark)) == set(range(10))
    assert table.versions() == [1, 2, 3]
    with pytest.raises(ValueError, match="aborted"):
        table.publish_wap(version=sv)
    # abort is idempotent too
    assert table.abort_wap(version=sv) == av


def test_abort_after_publish_refuses(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    sv = write_and_commit(_df(spark, 10, 15), table, mode="append", wap_id="w1")
    table.publish_wap(version=sv)
    with pytest.raises(ValueError, match="already published"):
        table.abort_wap(version=sv)


def test_expired_staged_snapshot_vacuums_and_publish_fails_loudly(spark, table):
    from octopufs_spark.manifest import SnapshotVacuumedError

    write_and_commit(_df(spark, 0, 10), table)
    sv = write_and_commit(_df(spark, 10, 15), table, mode="append", wap_id="w1")
    # retention 0 = outside any protection window: the abandoned staged
    # snapshot expires like any orphan; main survives (keep walks the
    # MAIN lineage, so the staged head can't evict the readable head)
    removed = table.vacuum(keep_versions=1, retention_seconds=0)
    assert f"_manifest/v{sv}.json" in removed
    assert _ids(table.read(spark)) == set(range(10))
    with pytest.raises((FileNotFoundError, SnapshotVacuumedError)):
        table.publish_wap(version=sv)


def test_retention_window_protects_inflight_audit(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    sv = write_and_commit(_df(spark, 10, 15), table, mode="append", wap_id="w1")
    table.vacuum(keep_versions=1, retention_seconds=3600)
    assert _ids(table.read(spark, version=sv)) == set(range(15))
    assert table.publish_wap(version=sv) > sv


# ---------- streaming ----------


def test_stream_skips_staged_and_emits_publish_exactly_once(spark, table, tmp_path):
    from octopufs_spark.sources import register_manifest_stream

    register_manifest_stream(spark)
    write_and_commit(_df(spark, 0, 10), table)
    sv = write_and_commit(_df(spark, 10, 15), table, mode="append", wap_id="w1")
    seen: list[int] = []  # every id ever emitted, duplicates included

    def drain() -> None:
        stream = spark.readStream.format("manifest_stream").option("path", table.root).load()
        q = (
            stream.writeStream.foreachBatch(
                lambda df, _bid: seen.extend(r.id for r in df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # staged snapshot emits nothing on main's stream
    drain()
    assert sorted(seen) == list(range(10))
    table.publish_wap(version=sv)
    # same checkpoint: only the published batch arrives, exactly once
    drain()
    assert sorted(seen) == list(range(15))


def test_stream_rejects_published_replace_unless_opted_in(spark, table, tmp_path):
    from octopufs_spark.sources import register_manifest_stream

    register_manifest_stream(spark)
    write_and_commit(_df(spark, 0, 10), table)
    sv = write_and_commit(_df(spark, 50, 55), table, mode="overwrite", wap_id="w1")
    table.publish_wap(version=sv)  # wap-publish-replace

    def drain(ckpt: str, skip: bool) -> set[int]:
        got: list[int] = []
        stream = (
            spark.readStream.format("manifest_stream")
            .option("path", table.root)
            .option("skipChangeCommits", str(skip).lower())
            .load()
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda df, _bid: got.extend(r.id for r in df.collect())
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return set(got)

    with pytest.raises(Exception, match="wap-publish-replace"):
        drain("ck1", skip=False)
    assert drain("ck2", skip=True) == set(range(10))


# ---------- tags ----------


def test_tag_create_read_delete(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    v = table.create_tag("baseline")
    assert v == 1 and table.tags() == {"baseline": 1}
    write_and_commit(_df(spark, 50, 55), table)  # overwrite
    assert _ids(table.read(spark, tag="baseline")) == set(range(10))
    with pytest.raises(FileExistsError):
        table.create_tag("baseline", version=2)  # tags never move silently
    # the losing publish removed its staged file
    assert not list(Path(table.root_path, "_manifest", "tags").glob("*.tmp.*"))
    table.delete_tag("baseline")
    assert table.tags() == {}
    with pytest.raises(FileNotFoundError):
        table.read(spark, tag="baseline")
    with pytest.raises(ValueError, match="invalid tag name"):
        table.create_tag("../escape")


def test_tag_protects_snapshot_from_vacuum(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    table.create_tag("keepme", version=1)
    write_and_commit(_df(spark, 10, 20), table, mode="append")
    compact_and_commit(spark, table)  # rewrites everything
    removed = table.vacuum(keep_versions=1, retention_seconds=0)
    assert removed  # the untagged middle version was pruned
    assert set(table.versions()) == {1, 3}
    assert _ids(table.read(spark, tag="keepme")) == set(range(10))
    assert _ids(table.read(spark)) == set(range(20))
    # dropping the tag releases the snapshot on the next pass
    table.delete_tag("keepme")
    table.vacuum(keep_versions=1, retention_seconds=0)
    assert table.versions() == [3]


def test_tag_named_like_version_file_is_inert(spark, table):
    """Regression: a tag whose name ends in v<digits> must not be
    mistaken for a manifest version by discovery or vacuum."""
    write_and_commit(_df(spark, 0, 10), table)
    write_and_commit(_df(spark, 10, 20), table, mode="append")
    table.create_tag("relv9", version=1)
    assert table.versions() == [1, 2]  # no phantom v9
    assert table.latest_version() == 2
    removed = table.vacuum(keep_versions=2, retention_seconds=0)
    assert not any("relv9" in r for r in removed)
    assert _ids(table.read(spark, tag="relv9")) == set(range(10))


def test_clone_of_staged_snapshot_is_normal_table(spark, table, tmp_path):
    write_and_commit(_df(spark, 0, 10), table)
    sv = write_and_commit(_df(spark, 10, 15), table, mode="append", wap_id="w1")
    c = clone_table(table, str(tmp_path / "clone"), version=sv)
    # the clone's v1 is plain main content — not itself staged
    assert c.current_version() == 1
    assert _ids(c.read(spark)) == set(range(15))


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    schedule=st.lists(
        st.sampled_from(["append", "stage", "publish", "abort", "compact"]),
        min_size=1,
        max_size=8,
    )
)
def test_wap_schedule_matches_model(spark, tmp_path_factory, schedule):
    """Model-based property: ANY interleaving of append / stage /
    publish / abort / compact leaves main holding exactly the seed,
    every normal append, and every PUBLISHED staged batch — aborted
    and still-staged batches contribute nothing. publish/abort resolve
    the OLDEST in-flight staging (queue order), so schedules cover
    publishes onto heads that advanced by appends, compactions, and
    other publishes since staging."""
    from octopufs_spark.manifest import compact_and_commit

    table = ManifestTable(str(tmp_path_factory.mktemp("wapsched") / "tbl"))
    write_and_commit(_df(spark, 0, 10), table)
    model: set[int] = set(range(10))  # expected MAIN content
    in_flight: list[tuple[int, range]] = []  # (staged_version, rows)
    nxt = [1]

    def fresh_range() -> range:
        lo = 100 * nxt[0]
        nxt[0] += 1
        return range(lo, lo + 5)

    for op in schedule:
        if op == "append":
            rg = fresh_range()
            write_and_commit(_df(spark, rg.start, rg.stop), table, mode="append")
            model.update(rg)
        elif op == "stage":
            rg = fresh_range()
            sv = write_and_commit(
                _df(spark, rg.start, rg.stop), table, mode="append", wap_id=f"w{rg.start}"
            )
            in_flight.append((sv, rg))
        elif op == "publish" and in_flight:
            sv, rg = in_flight.pop(0)
            table.publish_wap(version=sv)
            model.update(rg)
        elif op == "abort" and in_flight:
            sv, rg = in_flight.pop(0)
            table.abort_wap(version=sv)
        elif op == "compact":
            compact_and_commit(spark, table, target_file_bytes=512 * 1024 * 1024)
        assert _ids(table.read(spark)) == model, f"after {op}: main diverged from model"


def test_wap_mixed_op_fuzz(spark, table):
    """WAP under contention: concurrent normal appenders, stage→audit→
    publish/abort workers, a compactor, and a vacuumer against one
    table. Serializable outcome:

      final ids = seed + normal appends + PUBLISHED wap batches
                  (exactly once each) — aborted batches fully absent

    plus the structural invariant that makes WAP safe at all: no
    non-staged commit ever chains to a staged parent (staged content
    can only enter main through an explicit publish)."""
    import threading

    write_and_commit(_df(spark, 0, 100).repartition(4), table)

    lock = threading.Lock()
    appended: list[range] = []
    published: list[range] = []
    aborted: list[range] = []
    errors: list[BaseException] = []
    stop = threading.Event()

    def appender(w: int):
        for r in range(2):
            lo = 1000 * (w + 1) + 100 * r
            try:
                write_and_commit(_df(spark, lo, lo + 10), table, mode="append")
                with lock:
                    appended.append(range(lo, lo + 10))
            except BaseException as e:  # noqa: BLE001
                with lock:
                    errors.append(e)
                return

    def wap_worker(w: int):
        for r in range(2):
            lo = 5000 + 1000 * w + 100 * r
            wid = f"audit-{w}-{r}"
            try:
                sv = write_and_commit(
                    _df(spark, lo, lo + 10), table, mode="append", wap_id=wid
                )
                # the audit: staged batch must be whole at its version
                got = {
                    x.id
                    for x in table.read(spark, version=sv)
                    .where(F.col("id").between(lo, lo + 9))
                    .collect()
                }
                assert got == set(range(lo, lo + 10)), f"torn staged batch {wid}"
                if (w + r) % 3 == 0:
                    table.abort_wap(wap_id=wid)
                    with lock:
                        aborted.append(range(lo, lo + 10))
                else:
                    table.publish_wap(wap_id=wid)
                    with lock:
                        published.append(range(lo, lo + 10))
            except BaseException as e:  # noqa: BLE001
                with lock:
                    errors.append(e)
                return

    def compactor():
        from octopufs_spark.manifest import (
            ConcurrentModificationError as CME,
        )
        from octopufs_spark.manifest import compact_and_commit

        while not stop.is_set():
            try:
                compact_and_commit(spark, table, target_file_bytes=512 * 1024 * 1024)
            except (RuntimeError, CME):
                pass
            except BaseException as e:  # noqa: BLE001
                with lock:
                    errors.append(e)
                return

    def vacuumer():
        removed_live: list[str] = []
        while not stop.is_set():
            try:
                removed_live.extend(table.vacuum())  # default 24h retention
            except BaseException as e:  # noqa: BLE001
                with lock:
                    errors.append(e)
                return
        with lock:
            # everything here is younger than the retention window
            assert removed_live == []

    threads = [threading.Thread(target=appender, args=(w,)) for w in range(3)]
    threads += [threading.Thread(target=wap_worker, args=(w,)) for w in range(3)]
    ct, vt = threading.Thread(target=compactor), threading.Thread(target=vacuumer)
    ct.start()
    vt.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    stop.set()
    ct.join()
    vt.join()

    assert not errors, f"background thread crashed: {errors[0]!r}"
    assert len(published) + len(aborted) == 6  # every staging resolved

    # structural: main lineage never chains through a staged commit
    manifests = {v: table.read_manifest(v) for v in table.versions()}
    for m in manifests.values():
        if "wap" not in m.meta and m.parent in manifests:
            assert "wap" not in manifests[m.parent].meta, (
                f"v{m.version} (non-staged) chains to staged v{m.parent}"
            )

    rows = table.read(spark).collect()
    ids = {r.id for r in rows}
    assert len(rows) == len(ids), "duplicate rows: a batch landed twice"
    expect = set(range(100))
    for rg in appended:
        expect |= set(rg)
    for rg in published:
        expect |= set(rg)
    assert ids == expect
    for rg in aborted:
        assert not (ids & set(rg)), "aborted staged rows leaked into main"


def test_wap_on_partitioned_table(spark, table):
    base = _df(spark, 0, 10).withColumn("p", F.col("id") % 2)
    write_and_commit(base, table, partition_by=["p"])
    extra = _df(spark, 10, 14).withColumn("p", F.col("id") % 2)
    sv = write_and_commit(extra, table, mode="append", partition_by=["p"], wap_id="w1")
    assert _ids(table.read(spark)) == set(range(10))
    table.publish_wap(version=sv)
    got = table.read(spark)
    assert _ids(got) == set(range(14))
    # the hive layout survived the publish
    assert {r.p for r in got.select("p").distinct().collect()} == {0, 1}
