"""The manifest log without Spark: the log module's import surface, the
vacuum planner, and vacuum racing itself. No test here starts a JVM."""

from __future__ import annotations

import subprocess
import sys
import threading
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from octopufs_spark.manifest_log import Manifest, ManifestLog, _plan_vacuum


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
