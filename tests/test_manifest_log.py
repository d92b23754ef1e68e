"""The manifest log without Spark: the log module's import surface, the
vacuum planner, vacuum racing itself, and the rewrite commit's read-set
rule. No test here starts a JVM."""

from __future__ import annotations

import subprocess
import sys
import threading
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from octopufs_spark.manifest_log import (
    ConcurrentModificationError,
    Manifest,
    ManifestLog,
    _plan_vacuum,
)


def _log_with_versions(root: Path, versions: int, files: int) -> ManifestLog:
    """A log of ``versions`` overwrites, each staging ``files`` one-row
    parquet files (ids ``v*1000 + i``) plus a ``_SUCCESS`` sidecar."""
    log = ManifestLog(str(root))
    for v in range(versions):
        staged = root / f"data-{v}"
        staged.mkdir(parents=True)
        for i in range(files):
            pq.write_table(pa.table({"id": [v * 1000 + i]}), staged / f"part-{i:04d}.parquet")
        (staged / "_SUCCESS").write_bytes(b"")
        log.commit_overwrite(f"data-{v}")
    return log


def test_log_module_imports_no_pyspark():
    code = (
        "import sys, octopufs_spark.manifest_log; "
        "print(sorted(m for m in sys.modules if m.split('.')[0] == 'pyspark'))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        check=True,
        cwd=Path(__file__).resolve().parents[1],
    )
    assert out.stdout.strip() == "[]"


def test_plan_vacuum_sidecars_and_vectors():
    """Sidecars stay while anything live sits at or under their dir;
    a dead dir's _SUCCESS and .crc files go; vector dirs are live."""
    manifests = {
        1: Manifest(version=1, files=["a/x.parquet"]),
        2: Manifest(
            version=2,
            files=["b/p=1/y.parquet"],
            meta={"delete_vectors": [{"path": "dv/v1/", "type": "positional"}]},
        ),
    }
    kept = [
        "_manifest/v2.json",
        "_manifest/tags/audit.json",
        "b/p=1/y.parquet",
        "b/_SUCCESS",
        "b/p=1/.y.parquet.crc",
        "dv/v1/part-0.parquet",
        "dv/v1/_SUCCESS",
        "dv/v1/.part-0.parquet.crc",
    ]
    dead = [
        "a/x.parquet",
        "a/_SUCCESS",
        "a/.x.parquet.crc",
        "gone/p=2/z.parquet",
        "gone/p=2/.z.parquet.crc",
        "gone/_SUCCESS",
        "_SUCCESS",
    ]
    rels = ["_manifest/v1.json", "_manifest/v3.json.tmp.0a1b2c3d"] + kept + dead
    manifest_drops, survivors, data_drops = _plan_vacuum(
        rels, {2}, lambda rel: False, manifests.__getitem__
    )
    assert manifest_drops == ["_manifest/v1.json", "_manifest/v3.json.tmp.0a1b2c3d"]
    assert survivors == {2}
    assert data_drops == dead


def test_plan_vacuum_young_manifest_keeps_its_snapshot():
    """A manifest inside the retention window survives unpinned, and
    its snapshot's files and sidecars stay with it."""
    manifests = {1: Manifest(version=1, files=["a/x.parquet"])}
    rels = ["_manifest/v1.json", "a/x.parquet", "a/_SUCCESS", "b/old.parquet"]
    young = {"_manifest/v1.json"}
    assert _plan_vacuum(rels, set(), young.__contains__, manifests.__getitem__) == (
        [],
        {1},
        ["b/old.parquet"],
    )


def test_vacuum_honours_tag_branch_and_keep_versions(tmp_path):
    log = _log_with_versions(tmp_path / "t", versions=6, files=2)
    log.create_tag("audit", version=2)
    log.create_branch("exp", version=3)
    removed = log.vacuum(keep_versions=2, retention_seconds=0)
    assert log.versions() == [2, 3, 5, 6]
    for v in log.versions():
        log._check_not_vacuumed(log.read_manifest(v))
    # v1 and v4 staged data-0 and data-3: manifests, files and sidecars go
    names = ("_SUCCESS", "part-0000.parquet", "part-0001.parquet")
    assert sorted(removed) == sorted(
        ["_manifest/v1.json", "_manifest/v4.json"]
        + [f"data-{d}/{n}" for d in (0, 3) for n in names]
    )


def test_concurrent_vacuums_both_succeed(tmp_path):
    """Two vacuums racing over one table: each treats what the other
    deleted as deleted, and the head stays readable."""
    root = tmp_path / "t"
    _log_with_versions(root, versions=6, files=60)
    errors: list[Exception] = []
    barrier = threading.Barrier(2, timeout=60)

    def vacuum() -> None:
        log = ManifestLog(str(root))
        barrier.wait()
        try:
            log.vacuum(retention_seconds=0)
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=vacuum) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    log = ManifestLog(str(root))
    assert log.versions() == [6]
    head = log.read_manifest()
    log._check_not_vacuumed(head)
    ids = pq.read_table([f"{log.root_path}/{f}" for f in head.files])["id"].to_pylist()
    assert sorted(ids) == [5000 + i for i in range(60)]
    left = {p.relative_to(root).parts[0] for p in root.rglob("*") if p.is_file()}
    assert left == {"_manifest", "data-5"}


def test_vacuum_deletes_hive_escaped_paths_under_a_uri_root(tmp_path):
    """Vacuum deletes the very paths it listed: a ``file://`` root with
    a dead file under a Hive-escaped dir (``%3A``, a space) loses it."""
    root = tmp_path / "t"
    _log_with_versions(root, versions=2, files=1)
    dead = root / "data-0" / "k=a%3Ab c" / "part-0000.parquet"
    dead.parent.mkdir()
    pq.write_table(pa.table({"id": [1]}), dead)
    removed = ManifestLog(root.as_uri()).vacuum(retention_seconds=0)
    assert "data-0/k=a%3Ab c/part-0000.parquet" in removed
    assert not dead.exists()


_A, _B = "data-0/part-0000.parquet", "data-0/part-0001.parquet"
_REWRITE, _APPENDED = "rw/part-0000.parquet", "app/part-0000.parquet"


_EVOLUTIONS = {
    "rename": lambda log: log.rename_column("id", "key"),
    "add": lambda log: log.add_column("x", "long"),
    "drop": lambda log: log.drop_column("id"),
}


def _vector(log: ManifestLog, step: str) -> dict:
    """Write a delete vector for ``step`` and return its entry: ``eq``
    (an equality vector on id 1) or ``pos:<file>`` (a positional vector
    naming row 0 of that file)."""
    root = Path(log.root_path)
    (root / "_dv").mkdir(exist_ok=True)
    path = f"_dv/dv-{len(list((root / '_dv').iterdir()))}.parquet"
    if step == "eq":
        pq.write_table(pa.table({"id": [1]}), root / path)
        return {"path": path, "keys": ["id"]}
    pq.write_table(pa.table({"file": [step[4:]], "pos": [0]}), root / path)
    return {"path": path, "type": "positional"}


def _commit(log: ManifestLog, step: str) -> str | None:
    """Commit one racer or setup step on ``log``: ``append`` (one
    file), ``overwrite`` (a new snapshot of fresh files), ``rw:<file>``
    (a rewrite of that file), a column change (``rename``, ``add``,
    ``drop`` of a column ``x``), ``layout`` (a hidden-partition layout
    adopted in place) or a merge-on-read delete of a :func:`_vector`
    step. Returns a vector's path."""
    root = Path(log.root_path)
    if step in _EVOLUTIONS:
        _EVOLUTIONS[step](log)
        return None
    if step == "layout":
        layout = {"hidden_partitions": {"id_bucket": ["bucket", "id", 4]}}
        log._commit_with_retry(lambda parent: list(parent.files), "set-layout", layout)
        return None
    if step == "append":
        (root / "app").mkdir()
        pq.write_table(pa.table({"id": [7]}), root / _APPENDED)
        log.commit_append([_APPENDED])
        return None
    if step == "overwrite":
        (root / "ow").mkdir()
        pq.write_table(pa.table({"id": [9]}), root / "ow" / "part-0000.parquet")
        log.commit_overwrite("ow")
        return None
    if step.startswith("rw:"):
        (root / "rw").mkdir()
        pq.write_table(pa.table({"id": [0]}), root / _REWRITE)
        log.commit_rewrite(log.read_manifest(), [step[3:]], [_REWRITE], "compact")
        return None
    dv = _vector(log, step)
    log.commit_rewrite(log.read_manifest(), [], [], "delete_mor", {"delete_vectors": [dv]})
    return dv["path"]


@pytest.mark.parametrize(
    "before, racers, replaced, inserts, published, vectors",
    [
        # a racing append carries forward
        ([], ["append"], [_A, _B], False, [_APPENDED, _REWRITE], "carried"),
        # a replaced file left the snapshot
        ([], ["overwrite"], [_A, _B], False, None, None),
        # a new equality vector would drop with nothing kept...
        ([], ["eq"], [_A, _B], False, None, None),
        # ...and carries while a kept file keeps it in force
        ([], ["eq"], [_A], False, [_B, _REWRITE], "carried"),
        ([], ["append", "eq"], [_A, _B], False, [_APPENDED, _REWRITE], "carried"),
        # a new positional vector naming a replaced file...
        ([], [f"pos:{_A}"], [_A], False, None, None),
        # ...or only a kept one
        ([], [f"pos:{_B}"], [_A], False, [_B, _REWRITE], "carried"),
        # re-inserting rows next to a carried file under a live equality vector
        (["eq"], ["append"], [_A, _B], True, None, None),
        (["eq"], [], [_A, _B], True, [_REWRITE], "dropped"),
        # a read positional vector naming only replaced files is dead
        ([f"pos:{_A}"], ["append"], [_A, _B], True, [_APPENDED, _REWRITE], "dropped"),
        ([f"pos:{_A}"], [], [_A], False, [_B, _REWRITE], "dropped"),
        # ...and one naming a kept file still hides its rows
        ([f"pos:{_B}"], [], [_A], False, [_B, _REWRITE], "carried"),
        # a column change or a layout since the read: the staged files
        # predate it, and a full rewrite would drop its log
        ([], ["rename"], [_A, _B], False, None, None),
        ([], ["add"], [_A], False, None, None),
        ([], ["drop"], [_A, _B], False, None, None),
        ([], ["layout"], [_A], False, None, None),
        # ...but one the read saw publishes
        (["rename"], ["append"], [_A, _B], False, [_APPENDED, _REWRITE], "carried"),
    ],
    ids=[
        "append-carried",
        "replaced-rewritten",
        "eq-nothing-kept",
        "eq-kept",
        "append-and-eq",
        "pos-names-replaced",
        "pos-names-kept",
        "inserts-eq-carried-file",
        "inserts-eq-nothing-kept",
        "inserts-pos-carried-file",
        "read-pos-names-replaced",
        "read-pos-names-kept",
        "rename-since-read",
        "add-since-read",
        "drop-since-read",
        "layout-since-read",
        "rename-before-read",
    ],
)
def test_commit_rewrite_rule(tmp_path, before, racers, replaced, inserts, published, vectors):
    """The read-set rule of ``commit_rewrite``, one row per case: each
    racer commits between the read and the rewrite. An abort publishes
    nothing; a publish keeps every racer's vector, and the read's
    vectors too unless nothing is kept or a positional vector names
    only replaced files (``vectors``: "carried" or "dropped")."""
    root = tmp_path / "t"
    log = _log_with_versions(root, versions=1, files=2)
    (root / "rw").mkdir()
    pq.write_table(pa.table({"id": [0, 1]}), root / _REWRITE)
    paths = [_commit(log, step) for step in before]
    read = log.read_manifest()
    paths += [_commit(log, step) for step in racers]
    head = log.latest_version()
    if published is None:
        with pytest.raises(ConcurrentModificationError):
            log.commit_rewrite(read, replaced, [_REWRITE], "rewrite", inserts=inserts)
        assert log.latest_version() == head
        return
    v = log.commit_rewrite(read, replaced, [_REWRITE], "rewrite", inserts=inserts)
    m = log.read_manifest(v)
    assert (m.version, m.operation, m.files) == (head + 1, "rewrite", published)
    live = [dv["path"] for dv in m.meta.get("delete_vectors", [])]
    assert live == ([p for p in paths if p] if vectors == "carried" else [])


def test_rewrite_keeps_a_rename_it_did_not_read(tmp_path):
    """Two appends, a read, a ``rename_column``, then a full rewrite of
    the read files: the rewrite aborts, and the rename stays in the log
    (publishing would have carried no file of the old name, and with
    them the rename's log)."""
    root = tmp_path / "t"
    log = ManifestLog(str(root))
    for i in range(2):
        (root / f"app{i}").mkdir(parents=True)
        pq.write_table(pa.table({"id": [i]}), root / f"app{i}" / "part-0000.parquet")
        log.commit_append([f"app{i}/part-0000.parquet"])
    read = log.read_head()
    log.rename_column("id", "key")
    head = log.latest_version()
    (root / "rw").mkdir()
    pq.write_table(pa.table({"id": [0, 1]}), root / _REWRITE)
    with pytest.raises(ConcurrentModificationError, match="schema_evolution changed"):
        log.commit_rewrite(read, list(read.files), [_REWRITE], "compact")
    assert log.latest_version() == head
    assert log.read_manifest().meta["schema_evolution"] == [["rename", "id", "key"]]


@pytest.mark.parametrize(
    "before, racers, adds, retires, outcome",
    [
        # an equality delete carries past a racing append and vector
        ([], ["append", "eq"], "eq", 0, [_APPENDED, _A, _B]),
        # a positional delete aborts when a file it names left...
        ([], [f"rw:{_A}"], f"pos:{_A}", 0, "concurrent rewrite"),
        # ...and publishes when only a file it does not name was rewritten
        ([], [f"rw:{_B}"], f"pos:{_A}", 0, [_A, _REWRITE]),
        # a consolidation aborts when a vector it retires is gone...
        (["eq", "eq"], ["overwrite"], "eq", 2, "retired delete vector"),
        # ...and carries a racing equality vector
        (["eq", "eq"], ["eq"], "eq", 2, [_A, _B]),
    ],
    ids=[
        "eq-delete-carries-racers",
        "pos-delete-names-rewritten",
        "pos-delete-names-kept",
        "consolidate-retired-gone",
        "consolidate-carries-racing-eq",
    ],
)
def test_commit_rewrite_vector_rule(tmp_path, before, racers, adds, retires, outcome):
    """The vector rows of the read-set rule: a commit that replaces no
    file adds the vector ``adds`` and retires the first ``retires``
    vectors it read. An abort (``outcome``: the message) publishes
    nothing; a publish keeps the live files (``outcome``) and every
    vector but the retired ones, its own last."""
    log = _log_with_versions(tmp_path / "t", versions=1, files=2)
    paths = [_commit(log, step) for step in before]
    read = log.read_manifest()
    racer_paths = [p for p in (_commit(log, step) for step in racers) if p]
    head = log.latest_version()
    dv = _vector(log, adds)
    op = "dv-consolidate" if retires else "delete_mor"
    args = (read, [], [], op, {"delete_vectors": [dv]})
    if isinstance(outcome, str):
        with pytest.raises(ConcurrentModificationError, match=outcome):
            log.commit_rewrite(*args, retired=paths[:retires])
        assert log.latest_version() == head
        return
    m = log.read_manifest(log.commit_rewrite(*args, retired=paths[:retires]))
    assert (m.version, m.operation, m.files) == (head + 1, op, outcome)
    live = [v["path"] for v in m.meta["delete_vectors"]]
    assert live == paths[retires:] + racer_paths + [dv["path"]]
    assert "replaced_vector_paths" not in m.meta


def _schema(*cols: str) -> dict:
    """A recorded ``data_schema``: nullable bigint columns ``cols``."""
    fields = [{"name": c, "type": "long", "nullable": True, "metadata": {}} for c in cols]
    return {"type": "struct", "fields": fields}


_S1, _S2 = _schema("id"), _schema("id", "x")


def _stage(log: ManifestLog, prefix: str, schema: dict | None) -> tuple[list[str], dict]:
    """Write one pyarrow file under a fresh ``prefix`` dir; returns the
    files and the commit meta a stager of ``schema`` records."""
    root = Path(log.root_path)
    n = len(list(root.glob(f"{prefix}*")))
    rel = f"{prefix}{n}/part-0000.parquet"
    (root / rel).parent.mkdir(parents=True)
    pq.write_table(pa.table({"id": [n]}), root / rel)
    return [rel], ({"data_schema": schema} if schema is not None else {})


def _append(log: ManifestLog, schema: dict | None, **kw) -> int:
    files, meta = _stage(log, "app", schema)
    return log.commit_append(files, meta, **kw)


def _overwrite(log: ManifestLog, schema: dict | None, **kw) -> int:
    files, meta = _stage(log, "ow", schema)
    return log._commit_with_retry(files, "overwrite", meta, **kw)


def _data_schema(log: ManifestLog, version: int | None = None) -> dict | None:
    return log.read_manifest(version).meta.get("data_schema")


@pytest.mark.parametrize(
    "appended, expected",
    [(_S1, _S1), (_S2, None), (None, None)],
    ids=["same-schema", "other-schema", "no-schema"],
)
def test_append_keeps_data_schema_only_when_equal(tmp_path, appended, expected):
    """An append keeps the snapshot's schema when its files were staged
    with the same one; another schema or none leaves the snapshot with
    no schema, and it never comes back while those files are live."""
    log = ManifestLog(str(tmp_path / "t"))
    _overwrite(log, _S1)
    assert _data_schema(log) == _S1
    _append(log, appended)
    assert _data_schema(log) == expected
    _append(log, _S1)
    assert _data_schema(log) == expected


def test_full_rewrite_sets_the_new_schema(tmp_path):
    """A commit that keeps no parent file publishes the schema of what
    it staged, whatever the parent had."""
    log = ManifestLog(str(tmp_path / "t"))
    _overwrite(log, _S1)
    _append(log, None)
    assert _data_schema(log) is None
    _overwrite(log, _S2)
    assert _data_schema(log) == _S2
    read = log.read_manifest()
    files, meta = _stage(log, "rw", _S1)
    v = log.commit_rewrite(read, read.files, files, "compact", meta)
    assert _data_schema(log, v) == _S1
    # a rewrite that keeps a file of another schema publishes none
    _append(log, _S2)
    read = log.read_manifest()
    files, meta = _stage(log, "rw", _S2)
    v = log.commit_rewrite(read, read.added, files, "compact", meta)
    assert _data_schema(log, v) is None


def test_commits_that_stage_nothing_carry_the_schema(tmp_path):
    """A merge-on-read delete and a rename keep every file: the schema
    carries. Reads replay the rename on top of it."""
    log = ManifestLog(str(tmp_path / "t"))
    _overwrite(log, _S1)
    _commit(log, "eq")
    assert _data_schema(log) == _S1
    log.rename_column("id", "key")
    m = log.read_manifest()
    assert (m.operation, m.meta["data_schema"]) == ("rename_column", _S1)
    _append(log, _S1)
    assert _data_schema(log) == _S1


@pytest.mark.parametrize("head_schema", [_S1, _S2], ids=["head-same", "head-changed"])
def test_publish_wap_reapply_schema_from_live_head(tmp_path, head_schema):
    """A pure-append WAP snapshot re-applied on an advanced head keeps
    its schema only if the LIVE head has the same one: the base's
    schema at staging time does not decide."""
    log = ManifestLog(str(tmp_path / "t"))
    _overwrite(log, _S1)
    staged = _append(log, _S1, wap_id="w")
    assert _data_schema(log, staged) == _S1
    _overwrite(log, head_schema)
    v = log.publish_wap(wap_id="w")
    m = log.read_manifest(v)
    assert m.operation == "wap-publish" and len(m.files) == 2
    assert m.meta.get("data_schema") == (_S1 if head_schema == _S1 else None)


@pytest.mark.parametrize("head_schema", [_S2, _S1], ids=["head-same", "head-changed"])
def test_reapply_append_content_schema_from_live_head(tmp_path, head_schema):
    """``multitable._reapply_append_content`` re-stages the rows under
    the head's contract (here: schema ``_S2``); the commit keeps that
    schema only when the live head has it too."""
    from octopufs_spark import multitable

    class Table(ManifestLog):
        """The Spark side of a table, stubbed: the rows are re-staged
        as one pyarrow file with schema ``_S2``."""

        def _read_files(self, spark, m, files):
            return None

        @staticmethod
        def _strip_hidden(df, m):
            return df

        def _stage(self, df, prefix, partition_by):
            return _stage(self, prefix, _S2)

    log = Table(str(tmp_path / "t"))
    _overwrite(log, _S1)
    staged = _append(log, _S1, wap_id="w")
    _overwrite(log, head_schema)
    v = multitable._reapply_append_content(log, log.read_manifest(staged), spark=None)
    m = log.read_manifest(v)
    assert m.meta["wap_published"]["reapplied"] and len(m.files) == 2
    assert m.meta.get("data_schema") == (_S2 if head_schema == _S2 else None)


def test_restore_and_clone_publish_only_a_valid_schema(tmp_path):
    """Restore and clone republish a snapshot's own files, so they
    publish that snapshot's schema — none for a snapshot without one —
    never the schema of the head they replace."""
    from octopufs_spark.manifest import ManifestTable, clone_table

    log = ManifestTable(str(tmp_path / "t"))
    v1 = _overwrite(log, _S1)
    v2 = _append(log, None)
    _overwrite(log, _S2)
    assert _data_schema(log, log.restore(v1)) == _S1
    assert _data_schema(log, log.restore(v2)) is None
    assert _data_schema(clone_table(log, str(tmp_path / "c1"), version=v1)) == _S1
    assert _data_schema(clone_table(log, str(tmp_path / "c2"), version=v2)) is None
    assert _data_schema(clone_table(log, str(tmp_path / "c3"))) is None


def test_files_without_a_schema_publish_none(tmp_path):
    """Files no stager described (promotion, foreign writers) leave the
    snapshot without a schema, even next to files that have one."""
    log = ManifestLog(str(tmp_path / "t"))
    _overwrite(log, _S1)
    files, _ = _stage(log, "promote", None)
    v = log.commit_rewrite(log.read_manifest(), [], files, "promote-partitions")
    assert _data_schema(log, v) is None
    _overwrite(log, None)
    assert _data_schema(log) is None
