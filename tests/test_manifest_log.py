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


def _commit(log: ManifestLog, step: str) -> str | None:
    """Commit one racer or setup step on ``log``: ``append`` (one
    file), ``overwrite`` (a new snapshot of fresh files), ``eq`` (an
    equality delete vector on id 1) or ``pos:<file>`` (a positional
    vector naming row 0 of that file). Returns a vector's path."""
    root = Path(log.root_path)
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
    (root / "_dv").mkdir(exist_ok=True)
    path = f"_dv/dv-{len(list((root / '_dv').iterdir()))}.parquet"
    if step == "eq":
        pq.write_table(pa.table({"id": [1]}), root / path)
        dv = {"path": path, "keys": ["id"]}
    else:
        pq.write_table(pa.table({"file": [step[4:]], "pos": [0]}), root / path)
        dv = {"path": path, "type": "positional"}
    log._commit_with_retry(lambda p: list(p.files), "delete_mor", {"delete_vectors": [dv]})
    return path


@pytest.mark.parametrize(
    "before, racers, replaced, inserts, published",
    [
        # a racing append carries forward
        ([], ["append"], [_A, _B], False, [_APPENDED, _REWRITE]),
        # a replaced file left the snapshot
        ([], ["overwrite"], [_A, _B], False, None),
        # a new equality vector would drop with nothing kept...
        ([], ["eq"], [_A, _B], False, None),
        # ...and carries while a kept file keeps it in force
        ([], ["eq"], [_A], False, [_B, _REWRITE]),
        ([], ["append", "eq"], [_A, _B], False, [_APPENDED, _REWRITE]),
        # a new positional vector naming a replaced file...
        ([], [f"pos:{_A}"], [_A], False, None),
        # ...or only a kept one
        ([], [f"pos:{_B}"], [_A], False, [_B, _REWRITE]),
        # re-inserting rows next to a carried file under a live equality vector
        (["eq"], ["append"], [_A, _B], True, None),
        (["eq"], [], [_A, _B], True, [_REWRITE]),
        ([f"pos:{_A}"], ["append"], [_A, _B], True, [_APPENDED, _REWRITE]),
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
    ],
)
def test_commit_rewrite_rule(tmp_path, before, racers, replaced, inserts, published):
    """The read-set rule of ``commit_rewrite``, one row per case: each
    racer commits between the read and the rewrite. An abort publishes
    nothing; a publish keeps every racer's vector and, with a kept
    file, the read's vectors too."""
    root = tmp_path / "t"
    log = _log_with_versions(root, versions=1, files=2)
    (root / "rw").mkdir()
    pq.write_table(pa.table({"id": [0, 1]}), root / _REWRITE)
    vectors = [_commit(log, step) for step in before]
    read = log.read_manifest()
    vectors += [_commit(log, step) for step in racers]
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
    kept = [f for f in published if f != _REWRITE]
    assert live == ([p for p in vectors if p] if kept else [])
