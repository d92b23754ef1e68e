"""Named branches on manifest tables (the Iceberg branch model):
writable refs whose commits chain off the branch head, stay invisible
to main, and land on main only through fast_forward. The branch head
is a CAS ref built from the same no-overwrite primitive as manifest
publishes, so racing branch committers get exactly one winner."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from octopufs_spark.manifest import (
    ConcurrentModificationError,
    ManifestTable,
    write_and_commit,
)


@pytest.fixture()
def table(tmp_path):
    return ManifestTable(str(tmp_path / "tbl"))


def _df(spark, lo, hi):
    return spark.range(lo, hi).withColumn("v", F.col("id") * 2)


def _ids(df):
    return {r.id for r in df.collect()}


@pytest.mark.slow  # >50 s; excluded from the default driver-window run
def test_branch_commits_invisible_to_main(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    assert table.create_branch("dev") == 1
    write_and_commit(_df(spark, 10, 15), table, mode="append", branch="dev")
    write_and_commit(_df(spark, 15, 20), table, mode="append", branch="dev")
    assert table.current_version() == 1
    assert _ids(table.read(spark)) == set(range(10))
    assert _ids(table.read(spark, branch="dev")) == set(range(20))
    assert table.branches() == {"dev": 3}


def test_branch_chains_and_carries_metadata(spark, table):
    write_and_commit(_df(spark, 0, 10), table, stats=True)
    table.create_branch("dev")
    write_and_commit(_df(spark, 10, 15), table, mode="append", branch="dev", stats=True)
    h = table.read_manifest(table.branch_head("dev"))
    bmeta = dict(h.meta["branch"])
    assert bmeta.pop("incarnation") == table.branch_incarnation("dev")
    assert bmeta == {"name": "dev", "base": 1, "removed": 0, "changed": False}
    # zone maps carried from the fork base plus the branch's own files
    assert set(h.meta["file_stats"]) == set(h.files)


def test_main_commit_after_branch_builds_on_main(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    table.create_branch("dev")
    write_and_commit(_df(spark, 10, 15), table, mode="append", branch="dev")
    v = write_and_commit(_df(spark, 100, 103), table, mode="append")
    assert table.read_manifest(v).parent == 1  # not the branch commit
    assert _ids(table.read(spark)) == set(range(10)) | {100, 101, 102}


def test_fast_forward_publishes_branch_line(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    table.create_branch("dev")
    write_and_commit(_df(spark, 10, 15), table, mode="append", branch="dev")
    write_and_commit(_df(spark, 15, 20), table, mode="append", branch="dev")
    pv = table.fast_forward("dev")
    m = table.read_manifest(pv)
    assert m.operation == "branch-fastforward" and m.parent == 1
    assert m.meta["branch_published"]["name"] == "dev"
    assert _ids(table.read(spark)) == set(range(20))


def test_fast_forward_requires_fork_point(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    table.create_branch("dev")
    write_and_commit(_df(spark, 10, 15), table, mode="append", branch="dev")
    write_and_commit(_df(spark, 100, 103), table, mode="append")  # main moved
    with pytest.raises(ConcurrentModificationError, match="fork point"):
        table.fast_forward("dev")
    assert _ids(table.read(spark)) == set(range(10)) | {100, 101, 102}


def test_fast_forward_of_untouched_branch_is_noop(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    table.create_branch("dev")
    assert table.fast_forward("dev") == 1
    assert table.latest_version() == 1  # no commit landed


def test_branch_overwrite_fast_forwards_as_replace(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    table.create_branch("dev")
    write_and_commit(_df(spark, 50, 55), table, branch="dev")  # overwrite on branch
    pv = table.fast_forward("dev")
    assert table.read_manifest(pv).operation == "branch-fastforward-replace"
    assert _ids(table.read(spark)) == set(range(50, 55))


def test_branch_create_duplicate_and_delete(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    table.create_branch("dev")
    with pytest.raises(FileExistsError):
        table.create_branch("dev")
    table.delete_branch("dev")
    assert table.branches() == {}
    with pytest.raises(FileNotFoundError):
        table.branch_head("dev")
    with pytest.raises(ValueError, match="invalid branch name"):
        table.create_branch("../escape")


def test_concurrent_branch_committers_cas(spark, table):
    """Two committers racing the same branch head: the CAS ref gives
    exactly one winner per advance; the loser rebuilds on the new head
    — both batches land, nothing is lost or doubled."""
    write_and_commit(_df(spark, 0, 10), table)
    table.create_branch("dev")
    errors: list[BaseException] = []

    def committer(lo: int):
        try:
            write_and_commit(
                _df(spark, lo, lo + 5), ManifestTable(table.root), mode="append", branch="dev"
            )
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    ts = [threading.Thread(target=committer, args=(lo,)) for lo in (100, 200, 300)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors, errors
    got = _ids(table.read(spark, branch="dev"))
    assert got == set(range(10)) | set(range(100, 105)) | set(range(200, 205)) | set(range(300, 305))
    assert _ids(table.read(spark)) == set(range(10))  # main untouched


def test_advance_branch_cas_rejects_stale_expected(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    table.create_branch("dev")
    write_and_commit(_df(spark, 10, 15), table, mode="append", branch="dev")
    # a committer that resolved the head BEFORE that commit must lose
    assert table._advance_branch("dev", 99, expected=1) is False
    assert table.branch_head("dev") == 2


def test_vacuum_protects_branch_head_only(spark, table):
    from octopufs_spark.manifest import compact_and_commit

    write_and_commit(_df(spark, 0, 10), table)
    table.create_branch("dev")
    write_and_commit(_df(spark, 10, 15), table, mode="append", branch="dev")
    write_and_commit(_df(spark, 15, 20), table, mode="append", branch="dev")
    write_and_commit(_df(spark, 100, 110), table, mode="append")
    compact_and_commit(spark, table)
    removed = table.vacuum(keep_versions=1, retention_seconds=0)
    assert removed
    # head of main + head of branch survive; the branch MIDDLE commit
    # (v2) and old main versions expired
    assert set(table.versions()) == {3, 5}
    assert _ids(table.read(spark, branch="dev")) == set(range(20))
    assert _ids(table.read(spark)) == set(range(10)) | set(range(100, 110))


@pytest.mark.slow  # >15 s; excluded from the default driver-window run
def test_stream_skips_branch_emits_fast_forward_once(spark, table, tmp_path):
    from octopufs_spark.sources import register_manifest_stream

    register_manifest_stream(spark)
    write_and_commit(_df(spark, 0, 10), table)
    table.create_branch("dev")
    write_and_commit(_df(spark, 10, 15), table, mode="append", branch="dev")
    seen: list[int] = []

    def drain() -> None:
        q = (
            spark.readStream.format("manifest_stream")
            .option("path", table.root)
            .load()
            .writeStream.foreachBatch(
                lambda df, _b: seen.extend(r.id for r in df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert sorted(seen) == list(range(10))  # branch commit invisible
    table.fast_forward("dev")
    drain()
    assert sorted(seen) == list(range(15))  # published line streamed once


def test_stream_a_branch(spark, table, tmp_path):
    """option("branch", name): the stream delivers the branch's
    LINEAGE — main history up to the fork plus the branch's own
    commits — while post-fork main appends, other branches, and the
    branch's own fast-forward never stream (no double delivery)."""
    from octopufs_spark.sources import register_manifest_stream

    register_manifest_stream(spark)
    write_and_commit(_df(spark, 0, 10), table)
    table.create_branch("dev")
    table.create_branch("other")
    write_and_commit(_df(spark, 10, 15), table, mode="append", branch="dev")
    write_and_commit(_df(spark, 100, 105), table, mode="append")  # post-fork main
    write_and_commit(_df(spark, 900, 905), table, mode="append", branch="other")
    seen: list[int] = []

    def drain() -> None:
        q = (
            spark.readStream.format("manifest_stream")
            .option("path", table.root)
            .option("branch", "dev")
            .load()
            .writeStream.foreachBatch(
                lambda df, _b: seen.extend(r.id for r in df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert sorted(seen) == list(range(15))  # fork history + dev commits only
    write_and_commit(_df(spark, 15, 20), table, mode="append", branch="dev")
    drain()
    assert sorted(seen) == list(range(20))  # incremental, exactly once


def test_branch_stream_skips_own_fast_forward(spark, table, tmp_path):
    from octopufs_spark.sources import register_manifest_stream

    register_manifest_stream(spark)
    write_and_commit(_df(spark, 0, 10), table)
    table.create_branch("dev")
    write_and_commit(_df(spark, 10, 15), table, mode="append", branch="dev")
    seen: list[int] = []

    def drain() -> None:
        q = (
            spark.readStream.format("manifest_stream")
            .option("path", table.root)
            .option("branch", "dev")
            .load()
            .writeStream.foreachBatch(
                lambda df, _b: seen.extend(r.id for r in df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    table.fast_forward("dev")
    drain()
    # the fast-forward re-lands the same rows on MAIN; the branch
    # stream already delivered them and must not emit them again
    assert sorted(seen) == list(range(15))


def test_branch_stream_requires_existing_ref(spark, table):
    from octopufs_spark.sources import ManifestStreamReader

    write_and_commit(_df(spark, 0, 10), table)
    with pytest.raises(FileNotFoundError, match="no branch"):
        ManifestStreamReader({"path": table.root, "branch": "nope"})


def test_as_of_timestamp_skips_branch_commits(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    table.create_branch("dev")
    bv = write_and_commit(_df(spark, 10, 15), table, mode="append", branch="dev")
    ts = table.commit_timestamp(bv)
    assert table.version_as_of(ts) == 1


def test_restore_of_branch_commit_lands_on_main(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    table.create_branch("dev")
    bv = write_and_commit(_df(spark, 10, 15), table, mode="append", branch="dev")
    rv = table.restore(bv)
    m = table.read_manifest(rv)
    assert "branch" not in m.meta  # marker stripped: a normal main commit
    assert table.current_version() == rv
    assert _ids(table.read(spark)) == set(range(15))


def test_branch_and_wap_are_exclusive(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    table.create_branch("dev")
    with pytest.raises(ValueError, match="not both"):
        write_and_commit(
            _df(spark, 10, 15), table, mode="append", branch="dev", wap_id="w"
        )


def test_branch_mixed_op_fuzz(spark, table):
    """Branches under contention: concurrent committers on TWO
    branches, main appenders, opportunistic fast-forwards, and a
    vacuumer. Serializable outcome: main holds the seed, every normal
    append, and — for each branch — EITHER the whole branch line
    (exactly once, if some fast-forward won while main sat at the
    fork) or none of it; branch reads always hold fork content + own
    commits and never another branch's or main's post-fork appends."""
    write_and_commit(_df(spark, 0, 100).repartition(4), table)
    table.create_branch("a")
    table.create_branch("b")

    lock = threading.Lock()
    appended: list[range] = []
    branch_batches: dict[str, list[range]] = {"a": [], "b": []}
    ff_won: dict[str, bool] = {"a": False, "b": False}
    errors: list[BaseException] = []
    stop = threading.Event()

    def main_appender(w: int):
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

    def branch_committer(name: str, w: int):
        for r in range(2):
            lo = 10000 + 1000 * (ord(name) - ord("a")) + 100 * (2 * w + r)
            try:
                write_and_commit(
                    _df(spark, lo, lo + 10),
                    ManifestTable(table.root),
                    mode="append",
                    branch=name,
                )
                with lock:
                    branch_batches[name].append(range(lo, lo + 10))
            except BaseException as e:  # noqa: BLE001
                with lock:
                    errors.append(e)
                return

    def ff_worker(name: str):
        while not stop.is_set():
            try:
                table.fast_forward(name)
                with lock:
                    ff_won[name] = True
                return
            except ConcurrentModificationError:
                return  # main moved: this branch will never land (by design)
            except BaseException as e:  # noqa: BLE001
                with lock:
                    errors.append(e)
                return

    def vacuumer():
        while not stop.is_set():
            try:
                assert table.vacuum() == []  # everything is young
            except BaseException as e:  # noqa: BLE001
                with lock:
                    errors.append(e)
                return

    threads = [threading.Thread(target=main_appender, args=(w,)) for w in range(2)]
    threads += [
        threading.Thread(target=branch_committer, args=(n, w))
        for n in ("a", "b")
        for w in range(2)
    ]
    vt = threading.Thread(target=vacuumer)
    vt.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # fast-forwards race the (now finished) main appenders' final state
    ffs = [threading.Thread(target=ff_worker, args=(n,)) for n in ("a", "b")]
    for t in ffs:
        t.start()
    for t in ffs:
        t.join()
    stop.set()
    vt.join()
    assert not errors, f"background thread crashed: {errors[0]!r}"

    # branch reads: fork content + exactly their own batches
    for n in ("a", "b"):
        got = _ids(table.read(spark, branch=n))
        want = set(range(100))
        for rg in branch_batches[n]:
            want |= set(rg)
        assert got == want, f"branch {n} diverged"

    ids = _ids(table.read(spark))
    expect = set(range(100))
    for rg in appended:
        expect |= set(rg)
    # main appenders landed -> main moved off both forks -> at most the
    # FF winners' lines are in (none, if appends finished first — which
    # they did, so ff_won can only be True if no main append landed)
    for n in ("a", "b"):
        if ff_won[n]:
            for rg in branch_batches[n]:
                expect |= set(rg)
    assert ids == expect
    for n in ("a", "b"):
        if not ff_won[n]:
            for rg in branch_batches[n]:
                assert not (ids & set(rg)), f"unpublished branch {n} leaked into main"


def test_compact_on_branch(spark, table):
    """OPTIMIZE scoped to a branch: the branch's many small files
    merge in a branch commit — main untouched — and the later
    fast-forward is the replace-flavored op (fork-base files left the
    branch's view)."""
    from octopufs_spark.manifest import compact_and_commit

    write_and_commit(_df(spark, 0, 20).repartition(4), table)
    table.create_branch("dev")
    write_and_commit(
        _df(spark, 20, 40).repartition(4), table, mode="append", branch="dev"
    )
    n_before = len(table.read_manifest(table.branch_head("dev")).files)
    cv = compact_and_commit(spark, table, branch="dev")
    assert cv is not None
    h = table.read_manifest(table.branch_head("dev"))
    assert h.version == cv and h.meta["branch"]["name"] == "dev"
    assert len(h.files) < n_before
    assert _ids(table.read(spark, branch="dev")) == set(range(40))
    assert _ids(table.read(spark)) == set(range(20))  # main untouched
    pv = table.fast_forward("dev")
    assert table.read_manifest(pv).operation == "branch-fastforward-replace"
    assert _ids(table.read(spark)) == set(range(40))


def test_merge_into_branch(spark, table):
    """MERGE targeted at a branch: upserts land as a branch commit
    (full-rewrite semantics, reconciliation against the BRANCH head),
    main untouched until fast-forward."""
    from octopufs_spark.merge import merge_upsert_manifest

    write_and_commit(_df(spark, 0, 10), table)
    table.create_branch("dev")
    changes = spark.range(5, 15).withColumn("v", F.col("id") * 2 + 777)
    mv = merge_upsert_manifest(spark, table, changes, keys=["id"], branch="dev")
    assert table.read_manifest(mv).meta["branch"]["name"] == "dev"
    got = {(r.id, r.v) for r in table.read(spark, branch="dev").collect()}
    want = {(i, i * 2) for i in range(5)} | {(i, i * 2 + 777) for i in range(5, 15)}
    assert got == want
    assert _ids(table.read(spark)) == set(range(10))  # main: pre-merge values
    pv = table.fast_forward("dev")
    # a merge rewrites its read set -> rows changed -> replace flavor
    assert table.read_manifest(pv).operation == "branch-fastforward-replace"
    assert {(r.id, r.v) for r in table.read(spark).collect()} == want


@pytest.mark.parametrize("kind", ["eq", "pos"])
def test_mor_delete_on_branch_fast_forwards_as_replace(spark, table, kind):
    """A MOR delete on a branch (by keys or by position) keeps the file
    set but hides rows, so the fast-forward must be the replace-flavored
    op — streaming it as a plain append would silently skip the row
    change (the same contract that makes delete_mor itself a change
    commit)."""
    from octopufs_spark.merge import delete_where_mor, delete_where_mor_positional

    write_and_commit(_df(spark, 0, 10), table)
    table.create_branch("dev")
    if kind == "eq":
        delete_where_mor(spark, table, spark.range(0, 3), ["id"], branch="dev")
    else:
        delete_where_mor_positional(spark, table, "id < 3", branch="dev")
    assert _ids(table.read(spark, branch="dev")) == set(range(3, 10))
    assert _ids(table.read(spark)) == set(range(10))
    pv = table.fast_forward("dev")
    assert table.read_manifest(pv).operation == "branch-fastforward-replace"
    assert _ids(table.read(spark)) == set(range(3, 10))


def test_stream_sink_replay_detected_with_branch_commit_on_top(spark, table):
    """Regression: the stream sink's replay check anchors on the MAIN
    head, not the newest manifest — a branch commit at the top of the
    log carries the branch lineage's fork-time txn map, and reading
    THAT map would miss a main mark landed after the fork, letting a
    replayed batch double-land."""
    from octopufs_spark.manifest import _commit_stream_batch

    write_and_commit(_df(spark, 0, 10), table)
    table.create_branch("dev")  # fork BEFORE the stream batch lands
    _commit_stream_batch(table, _df(spark, 100, 110), 7, "writer-x")
    assert _ids(table.read(spark)) == set(range(10)) | set(range(100, 110))
    # branch commit becomes the newest manifest (its txn map predates
    # the stream batch)
    write_and_commit(_df(spark, 500, 505), table, mode="append", branch="dev")
    n = len(table.versions())
    _commit_stream_batch(table, _df(spark, 100, 110), 7, "writer-x")  # replay
    assert len(table.versions()) == n, "replayed batch landed twice"
    rows = table.read(spark).collect()
    assert len(rows) == len({r.id for r in rows})


def test_auto_optimize_on_branch(spark, table):
    from octopufs_spark.manifest import auto_optimize

    base = _df(spark, 0, 20).withColumn("p", F.col("id") % 2)
    write_and_commit(base.repartition(2), table, partition_by=["p"])
    table.create_branch("dev")
    for lo in range(20, 60, 10):
        extra = _df(spark, lo, lo + 10).withColumn("p", F.col("id") % 2)
        write_and_commit(extra, table, mode="append", partition_by=["p"], branch="dev")
    done = auto_optimize(spark, table, min_files=3, branch="dev")
    assert done  # at least one partition compacted, as branch commits
    for v in done.values():
        assert table.read_manifest(v).meta["branch"]["name"] == "dev"
    assert _ids(table.read(spark, branch="dev")) == set(range(60))
    assert _ids(table.read(spark)) == set(range(20))  # main untouched


def test_stream_starting_timestamp(spark, table, tmp_path):
    from octopufs_spark.sources import register_manifest_stream

    register_manifest_stream(spark)
    write_and_commit(_df(spark, 0, 10), table)
    write_and_commit(_df(spark, 10, 20), table, mode="append")
    cut = table.commit_timestamp(2)
    write_and_commit(_df(spark, 20, 30), table, mode="append")

    def drain(ts, ckpt) -> list[int]:
        got: list[int] = []
        q = (
            spark.readStream.format("manifest_stream")
            .option("path", table.root)
            .option("startingTimestamp", str(ts))
            .load()
            .writeStream.foreachBatch(
                lambda df, _b: got.extend(r.id for r in df.collect())
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(got)

    # AT the v2 timestamp: v2 and v3 stream, v1 does not
    assert drain(cut, "ck1") == list(range(10, 30))
    # strictly after v2, before v3: only v3
    assert drain(cut + 0.0005, "ck2") == list(range(20, 30))
    # before all history: replay everything
    assert drain(0, "ck3") == list(range(30))


def test_table_detail(spark, table):
    from octopufs_spark.merge import delete_where_mor

    base = _df(spark, 0, 20).withColumn("p", F.col("id") % 2)
    write_and_commit(base.repartition(2), table, partition_by=["p"])
    delete_where_mor(spark, table, spark.range(0, 3), ["id"])
    table.create_tag("t1")
    table.create_branch("dev")
    d = table.detail()
    assert d["version"] == 2 and d["operation"] == "delete_mor"
    assert d["partition_columns"] == ["p"]
    assert d["num_files"] >= 2 and d["size_bytes"] > 0
    assert d["num_delete_vectors"] == 1
    assert d["tags"] == {"t1": 2} and d["branches"] == {"dev": 2}
    assert d["earliest_retained_version"] == 1


def test_commit_timestamps_monotonic_across_lineages(spark, table):
    """Review finding: a branch commit chains its in-commit timestamp
    off the BRANCH parent, so under a wall-clock regression a later
    main commit could land with a LOWER timestamp than an earlier
    branch version, breaking the global ordering AS-OF reads bisect
    on. The commit path now also ceilings on the newest manifest in
    the whole log."""
    from unittest import mock

    write_and_commit(_df(spark, 0, 10), table)
    table.create_branch("dev")
    write_and_commit(_df(spark, 10, 15), table, mode="append", branch="dev")
    bv_ts = table.commit_timestamp(table.branch_head("dev"))

    orig = type(table)._commit_with_retry

    def regressed(self, *a, **kw):
        # the wall clock steps back to the epoch during the commit
        with mock.patch("time.time", return_value=1.0):
            return orig(self, *a, **kw)

    type(table)._commit_with_retry = regressed
    try:
        mv = write_and_commit(_df(spark, 100, 105), table, mode="append")
    finally:
        type(table)._commit_with_retry = orig
    assert table.commit_timestamp(mv) > bv_ts
    # and the whole log is strictly increasing by version number
    ts = [table.commit_timestamp(v) for v in table.versions()]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)


def test_stream_starting_timestamp_on_unborn_table(spark, tmp_path):
    from octopufs_spark.sources import ManifestStreamReader

    r = ManifestStreamReader(
        {"path": str(tmp_path / "unborn"), "startingTimestamp": "0"}
    )
    assert r.initialOffset() == {"version": 0}


def test_tag_can_pin_branch_commit(spark, table):
    write_and_commit(_df(spark, 0, 10), table)
    table.create_branch("dev")
    bv = write_and_commit(_df(spark, 10, 15), table, mode="append", branch="dev")
    table.create_tag("dev-snap", version=bv)
    table.delete_branch("dev")
    table.vacuum(keep_versions=1, retention_seconds=0)
    # the ref is gone but the tag still pins the snapshot
    assert _ids(table.read(spark, tag="dev-snap")) == set(range(15))


def test_branch_keep_versions_extends_per_branch_retention(spark, table):
    """vacuum(branch_keep_versions=N) pins the top N commits of EVERY
    branch lineage (Iceberg per-ref minSnapshotsToKeep), not just the
    head — branch time travel survives maintenance the way main's
    keep_versions already does."""
    write_and_commit(_df(spark, 0, 5), table)
    table.create_branch("dev")
    for lo in (10, 20, 30):
        write_and_commit(_df(spark, lo, lo + 5), table, mode="append", branch="dev")
    dev_head = table.branch_head("dev")
    write_and_commit(_df(spark, 90, 95), table, mode="append")  # main advances
    table.vacuum(keep_versions=1, retention_seconds=0, branch_keep_versions=2)
    # head and head-1 of the branch stay readable...
    got = {r.id for r in table.read(spark, version=dev_head).collect()}
    assert got == set(range(5)) | set(range(10, 15)) | set(range(20, 25)) | set(range(30, 35))
    parent = table.read_manifest(dev_head).parent
    assert {r.id for r in table.read(spark, version=parent).collect()} == set(
        range(5)
    ) | set(range(10, 15)) | set(range(20, 25))
    # ...while head-2 aged out
    grandparent = table.read_manifest(parent).parent
    with pytest.raises(FileNotFoundError):
        table.read_manifest(grandparent)
    with pytest.raises(ValueError, match="branch_keep_versions"):
        table.vacuum(branch_keep_versions=0)


def test_expire_refs_releases_aged_out_tags_and_branches(spark, table):
    """expire_refs deletes refs whose HEAD commit is older than the
    max age (Iceberg maxRefAgeMs): without it an abandoned tag or
    branch pins its snapshot's files forever. Ref deletion only —
    the freed snapshots age out via the next vacuum."""
    write_and_commit(_df(spark, 0, 5), table)
    table.create_tag("old-release")
    table.create_branch("stale-dev")
    import time

    time.sleep(1.1)
    write_and_commit(_df(spark, 10, 15), table, mode="append")
    table.create_tag("fresh-release")
    out = table.expire_refs(tag_max_age_seconds=1.0, branch_max_age_seconds=1.0)
    assert out == {"tags": ["old-release"], "branches": ["stale-dev"]}
    assert "fresh-release" in table.tags() and "old-release" not in table.tags()
    assert table.branches() == {}
    # None leaves a kind untouched
    assert table.expire_refs(tag_max_age_seconds=None, branch_max_age_seconds=None) == {
        "tags": [],
        "branches": [],
    }


def test_branch_stream_detects_recreated_branch(spark, table, tmp_path):
    """Branch offsets carry the pinned fork base: a checkpointed query
    restarted after the branch was deleted and re-created under the
    same name must FAIL with a clear error — the new incarnation's
    version offsets name a different history, and silently following
    it could double-deliver post-old-fork main commits."""
    from octopufs_spark.sources import register_manifest_stream

    register_manifest_stream(spark)
    write_and_commit(_df(spark, 0, 5), table)
    table.create_branch("dev")
    write_and_commit(_df(spark, 10, 15), table, mode="append", branch="dev")
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def run():
        s = (
            spark.readStream.format("manifest_stream")
            .option("path", table.root)
            .option("branch", "dev")
            .load()
        )
        return (
            s.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = run()
    q.awaitTermination(120)
    assert {r.id for r in spark.read.parquet(out).collect()} == set(range(5)) | set(
        range(10, 15)
    )
    # re-create the branch from a later fork (a different incarnation)
    write_and_commit(_df(spark, 20, 25), table, mode="append")
    table.delete_branch("dev")
    table.create_branch("dev")
    write_and_commit(_df(spark, 30, 35), table, mode="append", branch="dev")
    q2 = run()
    with pytest.raises(Exception, match="re-created"):
        q2.awaitTermination(120)


def test_branch_recreated_from_same_head_detected(spark, table, tmp_path):
    """The hard case (name, base) cannot catch: delete + re-create from
    the SAME fork base. The incarnation nonce must (a) fail a restarted
    checkpoint loudly and (b) keep a fresh stream from mixing in the
    dead line's commits."""
    from octopufs_spark.sources import register_manifest_stream

    register_manifest_stream(spark)
    write_and_commit(_df(spark, 0, 5), table)
    table.create_branch("dev")
    first_inc = table.branch_incarnation("dev")
    assert first_inc
    write_and_commit(_df(spark, 10, 15), table, mode="append", branch="dev")

    def run(ckpt, out):
        s = (
            spark.readStream.format("manifest_stream")
            .option("path", table.root)
            .option("branch", "dev")
            .load()
        )
        return (
            s.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = run(str(tmp_path / "c1"), str(tmp_path / "o1"))
    q.awaitTermination(120)
    assert {r.id for r in spark.read.parquet(str(tmp_path / "o1")).collect()} == set(
        range(5)
    ) | set(range(10, 15))

    # re-create from the SAME head: base unchanged, incarnation new
    table.delete_branch("dev")
    table.create_branch("dev")
    assert table.branch_incarnation("dev") != first_inc
    write_and_commit(_df(spark, 30, 35), table, mode="append", branch="dev")

    # (a) the old checkpoint must fail loudly, never mix histories
    q2 = run(str(tmp_path / "c1"), str(tmp_path / "o1"))
    with pytest.raises(Exception, match="re-created"):
        q2.awaitTermination(120)

    # (b) a fresh stream follows ONLY the new line: fork history + its
    # commits — the dead line's rows (10..15) must not appear
    q3 = run(str(tmp_path / "c2"), str(tmp_path / "o2"))
    q3.awaitTermination(120)
    assert {r.id for r in spark.read.parquet(str(tmp_path / "o2")).collect()} == set(
        range(5)
    ) | set(range(30, 35))
