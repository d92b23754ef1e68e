"""Move/delete/copy/delta tests (reference patterns: DeltaTest.scala,
TestSubFolderCopy/Move, retry behavior)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

from octopufs_spark.fs import distributed, list_tree
from octopufs_spark.fs.core import MAX_ATTEMPTS, retry_failed
from octopufs_spark.fs.delta import get_delta, synchronize
from octopufs_spark.fs.distributed import copy_files, copy_folder
from octopufs_spark.fs.local import (
    delete_folder,
    delete_paths,
    move_folder_content,
    move_paths,
)
from octopufs_spark.fs.model import FsOperationResult, Paths
from tests.conftest import build_random_tree, failing_copy_jobs, jobs_of


def _tree_snapshot(root: str) -> set[tuple[str, int]]:
    base = str(Path(root))
    return {
        (e.path[len(base) + 1 :], e.byte_size) for e in list_tree(root) if not e.is_dir
    }


def test_move_paths_and_false_negatives(tmp_path, seeded_rng):
    files = build_random_tree(tmp_path / "src", seeded_rng, depth=1)
    pairs = [Paths(str(f), str(tmp_path / "dst" / f.name)) for f in files]
    (tmp_path / "dst").mkdir()
    # pre-move one file to its target: rename will fail but the
    # false-negative check (source gone ∧ target exists) marks success
    pre = pairs[0]
    Path(pre.source_path).rename(pre.target_path)
    results = move_paths(pairs)
    assert all(r.success for r in results)
    assert not Path(pairs[1].source_path).exists()
    assert Path(pairs[1].target_path).exists()


def test_delete_paths_idempotent(tmp_path, seeded_rng):
    files = build_random_tree(tmp_path / "t", seeded_rng, depth=1)
    targets = [str(f) for f in files[:2]] + [str(tmp_path / "t" / "never_existed.txt")]
    results = delete_paths(targets)
    # deleting a missing path is success (concurrent-delete tolerance)
    assert all(r.success for r in results)


def test_delete_folder_content_only_preserves_node(tmp_path, seeded_rng):
    build_random_tree(tmp_path / "t", seeded_rng, depth=2)
    delete_folder(str(tmp_path / "t"), delete_content_only=True)
    assert (tmp_path / "t").exists()
    assert list(Path(tmp_path / "t").iterdir()) == []


def test_distributed_copy_folder(spark, tmp_path, seeded_rng):
    build_random_tree(tmp_path / "src", seeded_rng)
    results = copy_folder(spark, str(tmp_path / "src"), str(tmp_path / "dst"))
    assert all(r.success for r in results)
    assert _tree_snapshot(str(tmp_path / "src")) == _tree_snapshot(str(tmp_path / "dst"))


def test_distributed_copy_retry_exhaustion(spark, tmp_path):
    # a nonexistent source fails all attempts → total-failure abort
    pairs = [Paths(str(tmp_path / "missing.txt"), str(tmp_path / "out.txt"))]
    with pytest.raises(RuntimeError):
        copy_files(spark, pairs)


def test_copy_self_copy_fails_alone(spark, tmp_path, copy_path):
    """A pair whose target is its own source, spelled another way,
    fails alone and leaves the source whole; the other pair lands."""
    (tmp_path / "a.bin").write_bytes(b"a" * 50)
    (tmp_path / "b.bin").write_bytes(b"b" * 50)
    pairs = [
        Paths(str(tmp_path / "a.bin"), str(tmp_path / "out" / "a.bin")),
        Paths(str(tmp_path / "b.bin"), f"file://{tmp_path}/b.bin"),
    ]
    jobs = failing_copy_jobs(spark, pairs, "distributed copy failed")
    assert (tmp_path / "out" / "a.bin").read_bytes() == b"a" * 50
    assert (tmp_path / "b.bin").read_bytes() == b"b" * 50
    assert bool(jobs) == (copy_path == "spark")


def test_copy_unresolvable_path_fails_alone(spark, tmp_path, copy_path):
    (tmp_path / "a.bin").write_bytes(b"a")
    pairs = [
        Paths("nosuchscheme://bucket/a.bin", str(tmp_path / "out" / "x.bin")),
        Paths(str(tmp_path / "a.bin"), str(tmp_path / "out" / "a.bin")),
    ]
    jobs = failing_copy_jobs(spark, pairs, "distributed copy failed")
    assert sorted(p.name for p in (tmp_path / "out").iterdir()) == ["a.bin"]
    assert bool(jobs) == (copy_path == "spark")


def test_copy_missing_source_retries_then_raises(spark, tmp_path, copy_path):
    """The missing source's pair is retried alone, and that retry,
    failing every pair it holds, ends the copy."""
    (tmp_path / "a.bin").write_bytes(b"a")
    pairs = [
        Paths(str(tmp_path / "a.bin"), str(tmp_path / "out" / "a.bin")),
        Paths(str(tmp_path / "gone.bin"), str(tmp_path / "out" / "gone.bin")),
    ]
    jobs = failing_copy_jobs(spark, pairs, "distributed copy failed for 1/1 files")
    assert sorted(p.name for p in (tmp_path / "out").iterdir()) == ["a.bin"]
    assert len(jobs) == (2 if copy_path == "spark" else 0)


def test_copy_batch_failing_every_pair_raises_at_once(spark, tmp_path, copy_path, monkeypatch):
    calls = []
    real = distributed._copy_pair
    monkeypatch.setattr(distributed, "_copy_pair", lambda r, s, d: calls.append(s) or real(r, s, d))
    pairs = [Paths(str(tmp_path / f"gone{i}.bin"), str(tmp_path / f"out{i}.bin")) for i in range(2)]
    jobs = failing_copy_jobs(spark, pairs, "distributed copy failed for 2/2 files")
    if copy_path == "spark":
        assert len(jobs) == 1  # one attempt, no retry
    else:
        assert jobs == [] and len(calls) == 2


def test_copy_runs_a_spark_job_only_above_the_limit(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(distributed, "DRIVER_COPY_BYTES", 1000)
    for name, size in [("small", 400), ("large", 600)]:
        (tmp_path / name).mkdir()
        for i in range(2):
            (tmp_path / name / f"f{i}.bin").write_bytes(bytes([i]) * size)
    for name, want in [("small", 0), ("large", 1)]:
        src, dst = str(tmp_path / name), str(tmp_path / f"{name}_copy")
        results, jobs = jobs_of(spark, lambda: copy_folder(spark, src, dst))
        assert len(results) == 2 and all(r.success for r in results)
        assert len(jobs) == want, name
        assert _tree_snapshot(src) == _tree_snapshot(dst)


def test_copy_probe_sweeps_both_paths(spark, tmp_path):
    """``tools/copy_probe.py`` stays runnable: one tiny point, measured
    on the driver path and on the Spark path."""
    tool = Path(__file__).resolve().parents[1] / "tools" / "copy_probe.py"
    spec = importlib.util.spec_from_file_location("copy_probe", tool)
    probe = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(probe)
    limit = distributed.DRIVER_COPY_BYTES
    (rec,) = probe.sweep(spark, [4096], [8192, 2**40], repeats=1, work=str(tmp_path))
    assert distributed.DRIVER_COPY_BYTES == limit
    assert {k: rec[k] for k in ("file_bytes", "files", "batch_bytes")} == {
        "file_bytes": 4096, "files": 2, "batch_bytes": 8192,
    }  # fmt: skip
    for path in ("driver", "spark"):
        assert rec[f"{path}_cpu_s"] >= 0 and rec[f"{path}_wall_s"] > 0
    assert list(tmp_path.iterdir()) == []


def test_get_delta_directions(spark, tmp_path, seeded_rng):
    files = build_random_tree(tmp_path / "a", seeded_rng, depth=1)
    copy_folder(spark, str(tmp_path / "a"), str(tmp_path / "b"))
    (tmp_path / "a" / "only_src.txt").write_text("s")
    (tmp_path / "a" / "0_src.txt").write_text("s")
    (tmp_path / "b" / "only_trg.txt").write_text("t")
    nested = tmp_path / "a" / "n1" / "n2"
    nested.mkdir(parents=True)
    (nested / "deep.txt").write_text("d")
    # same relative path, new size: the diff key is (rel_path, byte_size)
    rewritten = files[-1]
    rewritten.write_bytes(rewritten.read_bytes() + b"grown")
    rel = str(rewritten.relative_to(tmp_path / "a"))
    sc = spark.sparkContext
    group = f"get_delta_{tmp_path.name}"
    sc.setJobGroup(group, "get_delta must not launch Spark jobs")
    try:
        missing, extra = get_delta(spark, str(tmp_path / "a"), str(tmp_path / "b"))
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert missing == sorted(["0_src.txt", "n1/n2/deep.txt", "only_src.txt", rel])
    assert extra == sorted(["only_trg.txt", rel])
    assert jobs == []


def test_retry_failed_reruns_only_the_failed_subset():
    fails_left = {"b": 2}
    batches = []

    def flaky(batch):
        batches.append(list(batch))
        out = []
        for item in batch:
            ok = fails_left.get(item, 0) == 0
            if not ok:
                fails_left[item] -= 1
            out.append(FsOperationResult(item, ok))
        return out

    results = retry_failed(flaky, ["a", "b", "c"], "flaky op")
    assert results == [FsOperationResult(x, True) for x in ("a", "b", "c")]
    assert batches == [["a", "b", "c"], ["b"], ["b"]]

    calls = []

    def broken(batch):
        calls.append(list(batch))
        return [FsOperationResult(item, item != "x") for item in batch]

    with pytest.raises(RuntimeError, match="flaky op failed for 1 paths"):
        retry_failed(broken, ["x", "y"], "flaky op")
    assert calls == [["x", "y"]] + [["x"]] * (MAX_ATTEMPTS - 1)


def test_synchronize_preserves_sums(spark, tmp_path, seeded_rng):
    """rsync invariant: after synchronize the trees are identical
    (reference: DeltaTest.scala:18-21,49-59 sum preservation)."""
    build_random_tree(tmp_path / "a", seeded_rng)
    copy_folder(spark, str(tmp_path / "a"), str(tmp_path / "b"))
    (tmp_path / "b" / "stale.txt").write_text("x" * 100)
    (tmp_path / "a" / "fresh.txt").write_text("y" * 50)
    synchronize(spark, str(tmp_path / "a"), str(tmp_path / "b"))
    assert _tree_snapshot(str(tmp_path / "a")) == _tree_snapshot(str(tmp_path / "b"))


def test_move_folder_content_with_bystander(tmp_path, seeded_rng):
    """Target is emptied then filled; source folder kept on request
    (reference: TestTableContentMove bystander patterns)."""
    build_random_tree(tmp_path / "src", seeded_rng, depth=1)
    (tmp_path / "trg").mkdir()
    (tmp_path / "trg" / "old.txt").write_text("stale")
    snapshot = _tree_snapshot(str(tmp_path / "src"))
    move_folder_content(str(tmp_path / "src"), str(tmp_path / "trg"), keep_source_folder=True)
    assert (tmp_path / "src").exists()
    assert _tree_snapshot(str(tmp_path / "trg")) == snapshot
    assert not (tmp_path / "trg" / "old.txt").exists()


def test_move_folder_content_unsafe_guard(tmp_path):
    (tmp_path / "src").mkdir()
    (tmp_path / "trg").mkdir()
    (tmp_path / "trg" / "keep.txt").write_text("data")
    with pytest.raises(RuntimeError):
        move_folder_content(str(tmp_path / "src"), str(tmp_path / "trg"))
