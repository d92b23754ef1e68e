"""Object-store integration suite — runs on two schemes.

The fs toolkit is pyarrow.fs-generic (octopufs_spark/fs/core.py:27).
This module runs the same operations against a non-``file://``
filesystem two ways:

  * by DEFAULT against ``mock://`` — the in-process object-store
    stand-in (octopufs_spark/fs/mockfs.py), a pyarrow
    ``FileSystemHandler`` with a deterministic path mapping that
    executor processes resolve without coordination — so the scheme
    dispatch, handler-mediated streams, and distributed copy/move
    paths run in every CI pass;
  * against a REAL remote filesystem when
    ``OCTOPUFS_REMOTE_URI=s3://bucket/prefix`` (or gs://, hdfs://) is
    set — mirroring the reference's env-gated ACL/HDFS suites
    (reference: src/test/scala/AclTest.scala:25, gated on a live
    hdfs://localhost:8020). Credentials come from the environment the
    respective pyarrow filesystem reads natively (AWS_*,
    GOOGLE_APPLICATION_CREDENTIALS, HADOOP_CONF_DIR, ...).

Tests that round-trip through Spark's JVM readers (manifest tables)
need a scheme Hadoop can open and skip on mock://.
"""

from __future__ import annotations

import os
import uuid

import pytest

REMOTE_BASE = os.environ.get("OCTOPUFS_REMOTE_URI", "").rstrip("/") or "mock://octopufs-it"
IS_MOCK = REMOTE_BASE.startswith("mock://")

requires_jvm_scheme = pytest.mark.skipif(
    IS_MOCK,
    reason="needs a Hadoop-readable scheme (spark.read.parquet) — set "
    "OCTOPUFS_REMOTE_URI to a real store to run",
)


@pytest.fixture()
def remote_prefix():
    """A unique prefix under the configured base; removed afterwards."""
    from octopufs_spark.fs.core import get_filesystem

    base = f"{REMOTE_BASE}/octopufs-it-{uuid.uuid4().hex[:12]}"
    yield base
    fs, path = get_filesystem(base)
    try:
        fs.delete_dir(path)
    except FileNotFoundError:
        pass


def _put(uri: str, payload: bytes) -> None:
    from octopufs_spark.fs.core import get_filesystem

    fs, path = get_filesystem(uri)
    parent = path.rsplit("/", 1)[0]
    fs.create_dir(parent, recursive=True)
    with fs.open_output_stream(path) as f:
        f.write(payload)


def _get(uri: str) -> bytes:
    from octopufs_spark.fs.core import get_filesystem

    fs, path = get_filesystem(uri)
    with fs.open_input_stream(path) as f:
        return f.read()


def test_list_and_sizes_remote(remote_prefix):
    from octopufs_spark.fs.core import get_filesystem, get_size, list_tree

    _put(f"{remote_prefix}/a/one.bin", b"x" * 10)
    _put(f"{remote_prefix}/a/b/two.bin", b"y" * 20)
    els = list_tree(remote_prefix)
    files = {e.path.rsplit("/", 1)[-1]: e.byte_size for e in els if not e.is_dir}
    assert files == {"one.bin": 10, "two.bin": 20}
    _, root_path = get_filesystem(remote_prefix)
    assert get_size(remote_prefix, skip_file_details=False).get_size_of_path(root_path) == 30


def test_copy_single_and_roundtrip(remote_prefix):
    from octopufs_spark.fs.core import copy_single_file

    _put(f"{remote_prefix}/src/f.bin", b"payload")
    assert copy_single_file(f"{remote_prefix}/src/f.bin", f"{remote_prefix}/dst/f.bin")
    assert _get(f"{remote_prefix}/dst/f.bin") == b"payload"


def test_distributed_copy_folder_remote(spark, remote_prefix):
    from octopufs_spark.fs.core import list_tree
    from octopufs_spark.fs.distributed import copy_folder

    for i in range(6):
        _put(f"{remote_prefix}/src/part-{i}.bin", bytes([i]) * (i + 1))
    results = copy_folder(spark, f"{remote_prefix}/src", f"{remote_prefix}/trg")
    assert all(r.success for r in results) and len(results) == 6
    got = {
        e.path.rsplit("/", 1)[-1]: e.byte_size
        for e in list_tree(f"{remote_prefix}/trg")
        if not e.is_dir
    }
    assert got == {f"part-{i}.bin": i + 1 for i in range(6)}


def test_move_delete_remote(remote_prefix):
    from octopufs_spark.fs.core import list_tree
    from octopufs_spark.fs.local import delete_paths, move_paths
    from octopufs_spark.fs.model import Paths

    _put(f"{remote_prefix}/m/a.bin", b"a")
    _put(f"{remote_prefix}/m/b.bin", b"b")
    res = move_paths([Paths(f"{remote_prefix}/m/a.bin", f"{remote_prefix}/m/a2.bin")])
    assert all(r.success for r in res)
    names = {e.path.rsplit("/", 1)[-1] for e in list_tree(f"{remote_prefix}/m") if not e.is_dir}
    assert names == {"a2.bin", "b.bin"}
    delete_paths([f"{remote_prefix}/m/b.bin"])
    names = {e.path.rsplit("/", 1)[-1] for e in list_tree(f"{remote_prefix}/m") if not e.is_dir}
    assert names == {"a2.bin"}


@pytest.mark.parametrize("scheme", ["file", "remote"])
def test_escaped_and_spaced_paths(spark, scheme, remote_prefix, tmp_path):
    """Paths are taken as listed: a Hive ``k=a%3Ab`` dir and a name
    with a space are deleted, moved and copied as named, never
    percent-decoded into a path that does not exist (which reads as
    "already gone"), and a folder's listed children are deleted on
    every scheme."""
    from octopufs_spark.fs.core import get_filesystem, list_tree
    from octopufs_spark.fs.delta import synchronize
    from octopufs_spark.fs.distributed import copy_folder
    from octopufs_spark.fs.local import delete_folder, delete_paths, move_paths
    from octopufs_spark.fs.model import Paths

    prefix = f"file://{tmp_path}" if scheme == "file" else remote_prefix
    fs, base = get_filesystem(prefix)
    escaped = ["k=a%3Ab/f.bin", "with space/g 1.bin"]
    names = ["k=a%3Ab/part-0.bin", "k=a%3Ab/keep.bin", "with space/part 1.bin",
             "m/a%3Ab.bin", "src/keep.bin", "trg/keep.bin",
             "trg/ts=2024-01-01 00%3A00%3A00/x.bin"]  # fmt: skip
    names += [f"src/{rel}" for rel in escaped]
    for rel in names:
        fs.create_dir(f"{base}/{rel}".rsplit("/", 1)[0], recursive=True)
        with fs.open_output_stream(f"{base}/{rel}") as f:
            f.write(b"x")

    def listed() -> set[str]:
        return {e.path[len(base) + 1 :] for e in list_tree(prefix) if not e.is_dir}

    res = delete_paths([f"{prefix}/k=a%3Ab/part-0.bin", f"{prefix}/with space/part 1.bin"])
    assert all(r.success for r in res)
    res = move_paths([Paths(f"{prefix}/m/a%3Ab.bin", f"{prefix}/m/b%3Ac.bin")])
    assert all(r.success for r in res)
    src = {f"src/{rel}" for rel in ["keep.bin", *escaped]}
    rest = {*src, "trg/keep.bin", "trg/ts=2024-01-01 00%3A00%3A00/x.bin"}
    assert listed() == {"k=a%3Ab/keep.bin", "m/b%3Ac.bin", *rest}
    delete_paths([f"{prefix}/k=a%3Ab"])  # a directory, recursively
    assert listed() == {"m/b%3Ac.bin", *rest}
    # synchronize deletes the target's extras and copies what it lacks,
    # both by their listed names
    synchronize(spark, f"{prefix}/src", f"{prefix}/trg")
    trg = {"trg" + rel[3:] for rel in src}
    assert listed() == {"m/b%3Ac.bin", *src, *trg}
    res = copy_folder(spark, f"{prefix}/src", f"{prefix}/cp")
    assert len(res) == 3 and all(r.success for r in res)
    cp = {"cp" + rel[3:] for rel in src}
    assert listed() == {"m/b%3Ac.bin", *src, *trg, *cp}
    with fs.open_input_stream(f"{base}/cp/with space/g 1.bin") as f:
        assert f.read() == b"x"
    delete_folder(f"{prefix}/trg", delete_content_only=True)
    assert listed() == {"m/b%3Ac.bin", *src, *cp}


def test_batches_span_buckets_and_schemes(monkeypatch, tmp_path):
    """Each path of a batch is resolved on its own: a delete or rename
    batch whose paths live in two buckets, or that mixes a ``file://``
    URI with a plain local path, touches exactly the named objects."""
    from octopufs_spark.fs import mockfs
    from octopufs_spark.fs.local import delete_paths, move_paths
    from octopufs_spark.fs.model import Paths

    monkeypatch.setattr(mockfs, "MOCKFS_ROOT", str(tmp_path / "mock"))
    for uri in ["mock://a/t/x.bin", "mock://b/t/y.bin", "mock://a/t/m.bin", "mock://b/t/keep.bin"]:
        _put(uri, b"x")

    def on_disk(root) -> set[str]:
        return {str(p.relative_to(root)) for p in root.rglob("*") if p.is_file()}

    res = delete_paths(["mock://a/t/x.bin", "mock://b/t/y.bin"])
    assert all(r.success for r in res)
    assert on_disk(tmp_path / "mock") == {"a/t/m.bin", "b/t/keep.bin"}
    res = move_paths([Paths("mock://a/t/m.bin", "mock://b/t/m.bin")])
    assert all(r.success for r in res)
    assert on_disk(tmp_path / "mock") == {"b/t/m.bin", "b/t/keep.bin"}

    local = tmp_path / "local"
    for rel in ["a/x.bin", "b/y.bin", "c/keep.bin"]:
        (local / rel).parent.mkdir(parents=True, exist_ok=True)
        (local / rel).write_bytes(b"x")
    res = delete_paths([f"file://{local}/a/x.bin", f"{local}/b"])
    assert all(r.success for r in res)
    assert on_disk(local) == {"c/keep.bin"}
    with pytest.raises(ValueError, match="across filesystems"):
        move_paths([Paths(f"file://{local}/c/keep.bin", "mock://b/t/keep2.bin")])


def test_copy_task_resolves_each_pair(monkeypatch, tmp_path):
    """One copy task may hold pairs on different filesystems: each pair
    is copied on its own source's and target's filesystem, by the names
    as written, and a failing pair fails alone."""
    from octopufs_spark.fs import mockfs
    from octopufs_spark.fs.distributed import _copy_partition

    monkeypatch.setattr(mockfs, "MOCKFS_ROOT", str(tmp_path / "mock"))
    local = tmp_path / "local"
    _put(f"file://{local}/k=a%3Ab/f.bin", b"local")
    _put("mock://b/src/g 1.bin", b"mock")
    pairs = [
        (f"file://{local}/k=a%3Ab/f.bin", "mock://b/trg/k=a%3Ab/f.bin"),
        ("mock://b/src/g 1.bin", f"file://{local}/trg/g 1.bin"),
        (f"file://{local}/missing.bin", "mock://b/trg/missing.bin"),
        (f"file:{local}/k=a%3Ab/f.bin", f"{local}/trg/k=a%3Ab/f.bin"),
    ]
    assert list(_copy_partition(iter(pairs))) == [
        (pairs[0][0], True), (pairs[1][0], True), (pairs[2][0], False), (pairs[3][0], True),
    ]  # fmt: skip

    def on_disk(root) -> dict[str, bytes]:
        return {str(p.relative_to(root)): p.read_bytes() for p in root.rglob("*") if p.is_file()}

    assert on_disk(local) == {
        "k=a%3Ab/f.bin": b"local", "trg/g 1.bin": b"mock", "trg/k=a%3Ab/f.bin": b"local",
    }  # fmt: skip
    assert on_disk(tmp_path / "mock") == {"b/src/g 1.bin": b"mock", "b/trg/k=a%3Ab/f.bin": b"local"}


def test_move_folder_content_on_mock(monkeypatch, tmp_path):
    """A folder's children move on the object-store scheme too (the
    listed paths carry no scheme), and the safety marker is cleared."""
    from octopufs_spark.fs import mockfs
    from octopufs_spark.fs.local import move_folder_content

    monkeypatch.setattr(mockfs, "MOCKFS_ROOT", str(tmp_path))
    for uri in ["mock://b/src/a.bin", "mock://b/src/k=a%3Ab/x.bin", "mock://b/trg/old.bin"]:
        _put(uri, b"x")
    res = move_folder_content("mock://b/src", "mock://b/trg")
    assert len(res) == 2 and all(r.success for r in res)
    got = {str(p.relative_to(tmp_path)) for p in tmp_path.rglob("*") if p.is_file()}
    assert got == {"b/trg/a.bin", "b/trg/k=a%3Ab/x.bin"}


def test_delta_synchronize_remote(spark, remote_prefix):
    from octopufs_spark.fs.delta import get_delta, synchronize

    _put(f"{remote_prefix}/src/keep.bin", b"k")
    _put(f"{remote_prefix}/src/new.bin", b"n")
    _put(f"{remote_prefix}/trg/keep.bin", b"k")
    _put(f"{remote_prefix}/trg/stale.bin", b"s")
    missing, extra = get_delta(spark, f"{remote_prefix}/src", f"{remote_prefix}/trg")
    assert missing == ["new.bin"] and extra == ["stale.bin"]
    synchronize(spark, f"{remote_prefix}/src", f"{remote_prefix}/trg")
    missing, extra = get_delta(spark, f"{remote_prefix}/src", f"{remote_prefix}/trg")
    assert missing == [] and extra == []


@requires_jvm_scheme
def test_manifest_commit_remote(spark, remote_prefix):
    """Manifest tables (atomic publish via no-overwrite rename) work on
    the remote store — the property the whole design exists for."""
    from octopufs_spark.manifest import ManifestTable, write_and_commit

    table = ManifestTable(f"{remote_prefix}/mtbl")
    v = write_and_commit(spark.range(0, 50), table)
    assert v == 1
    assert table.read(spark).count() == 50


def test_cross_scheme_move_refused(remote_prefix, tmp_path):
    """Moves are metadata renames within ONE filesystem; a remote->local
    move must be refused up front (reference: checkIfFsIsTheSame,
    fs/package.scala:126-129) — the scheme-boundary check the regular
    file://-only suite can never exercise."""
    from octopufs_spark.fs.core import check_if_fs_is_the_same

    with pytest.raises(ValueError, match="same filesystem"):
        check_if_fs_is_the_same(f"{remote_prefix}/a.bin", f"file://{tmp_path}/a.bin")
    # same scheme on both sides passes
    check_if_fs_is_the_same(f"{remote_prefix}/a.bin", f"{remote_prefix}/b.bin")


def test_distributed_copy_retry_exhaustion_remote(spark, remote_prefix):
    """A copy whose source never exists fails all 5 attempts and raises
    — the retry loop must behave identically on a non-file:// scheme
    (reference: DistributedExecution.scala:72-83)."""
    from octopufs_spark.fs.distributed import copy_files
    from octopufs_spark.fs.model import Paths

    with pytest.raises(RuntimeError, match="distributed copy failed"):
        copy_files(
            spark,
            [Paths(f"{remote_prefix}/nope/missing.bin", f"{remote_prefix}/trg/x.bin")],
        )


def test_mock_partial_failure_merges_with_retry(spark, remote_prefix):
    """One good file + one missing file: the good copy lands, the bad
    one exhausts retries and raises — partial results must not mask the
    failure (reference merges partial successes before retrying)."""
    from octopufs_spark.fs.core import list_tree
    from octopufs_spark.fs.distributed import copy_files
    from octopufs_spark.fs.model import Paths

    _put(f"{remote_prefix}/src/good.bin", b"ok")
    with pytest.raises(RuntimeError, match="distributed copy failed"):
        copy_files(
            spark,
            [
                Paths(f"{remote_prefix}/src/good.bin", f"{remote_prefix}/trg/good.bin"),
                Paths(f"{remote_prefix}/src/gone.bin", f"{remote_prefix}/trg/gone.bin"),
            ],
        )
    copied = {
        e.path.rsplit("/", 1)[-1]
        for e in list_tree(f"{remote_prefix}/trg")
        if not e.is_dir
    }
    assert copied == {"good.bin"}


def test_copy_contract_on_the_store(spark, remote_prefix, copy_path, monkeypatch):
    """On the store, as on local disk: a self-copy and an unresolvable
    path fail only their own pairs, a missing source is retried and
    then raises, and a batch failing every pair raises at once."""
    from octopufs_spark.fs import distributed
    from octopufs_spark.fs.core import list_tree
    from octopufs_spark.fs.model import Paths
    from tests.conftest import failing_copy_jobs

    _put(f"{remote_prefix}/src/good.bin", b"ok")
    _put(f"{remote_prefix}/src/self.bin", b"self")
    good = Paths(f"{remote_prefix}/src/good.bin", f"{remote_prefix}/trg/good.bin")
    bad = [
        Paths(f"{remote_prefix}/src/self.bin", f"{remote_prefix}/src/self.bin"),
        Paths("nosuchscheme://bucket/x.bin", f"{remote_prefix}/trg/x.bin"),
        Paths(f"{remote_prefix}/src/gone.bin", f"{remote_prefix}/trg/gone.bin"),
    ]
    for pair in bad:
        jobs = failing_copy_jobs(spark, [good, pair], "distributed copy failed for 1/1 files")
        assert len(jobs) == (2 if copy_path == "spark" else 0), pair
    copied = {e.path.rsplit("/", 1)[-1] for e in list_tree(f"{remote_prefix}/trg") if not e.is_dir}
    assert copied == {"good.bin"}
    assert _get(f"{remote_prefix}/src/self.bin") == b"self"

    calls = []
    real = distributed._copy_pair
    monkeypatch.setattr(distributed, "_copy_pair", lambda r, s, d: calls.append(s) or real(r, s, d))
    jobs = failing_copy_jobs(spark, bad, "distributed copy failed for 3/3 files")
    if copy_path == "spark":
        assert len(jobs) == 1
    else:
        assert jobs == [] and len(calls) == 3


def test_copy_mixes_schemes_in_one_batch(spark, remote_prefix, tmp_path, copy_path):
    """One batch copies store to local disk, local disk to the store
    (by ``file://`` URI and by plain path) and store to store."""
    from octopufs_spark.fs.distributed import copy_files
    from octopufs_spark.fs.model import Paths
    from tests.conftest import jobs_of

    _put(f"{remote_prefix}/src/m.bin", b"mock")
    _put(f"file://{tmp_path}/src/f.bin", b"file")
    pairs = [
        Paths(f"{remote_prefix}/src/m.bin", f"file://{tmp_path}/trg/m.bin"),
        Paths(f"file://{tmp_path}/src/f.bin", f"{remote_prefix}/trg/f.bin"),
        Paths(f"{tmp_path}/src/f.bin", f"{remote_prefix}/trg/plain.bin"),
        Paths(f"{remote_prefix}/src/m.bin", f"{remote_prefix}/trg/m2.bin"),
    ]
    results, jobs = jobs_of(spark, lambda: copy_files(spark, pairs))
    assert [r.success for r in results] == [True] * 4
    assert len(jobs) == (1 if copy_path == "spark" else 0)
    assert (tmp_path / "trg" / "m.bin").read_bytes() == b"mock"
    assert _get(f"{remote_prefix}/trg/f.bin") == b"file"
    assert _get(f"{remote_prefix}/trg/plain.bin") == b"file"
    assert _get(f"{remote_prefix}/trg/m2.bin") == b"mock"


def test_driver_copy_threads_share_one_resolver(spark, remote_prefix, tmp_path):
    """The driver pool's threads share one resolver whose heads they
    open on first use: with a thread switch at nearly every bytecode,
    a batch spanning three heads copies each file to its own target."""
    import sys

    from octopufs_spark.fs.distributed import copy_files
    from octopufs_spark.fs.model import Paths
    from tests.conftest import jobs_of

    heads = [remote_prefix, f"file://{tmp_path}", f"file:{tmp_path}"]
    pairs = []
    for i in range(60):
        pairs.append(Paths(f"{heads[i % 3]}/src/f{i}.bin", f"{heads[(i + 1) % 3]}/trg/f{i}.bin"))
        _put(pairs[-1].source_path, str(i).encode() * 50)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        results, jobs = jobs_of(spark, lambda: copy_files(spark, pairs))
    finally:
        sys.setswitchinterval(interval)
    assert jobs == [] and [r.success for r in results] == [True] * 60
    for i, p in enumerate(pairs):
        assert _get(p.target_path) == str(i).encode() * 50


def test_compaction_on_object_store(spark, remote_prefix):
    """Compaction rewrites in executor tasks through ``core``'s scheme
    dispatch, so a ``mock://`` tree — which Spark's JVM readers cannot
    open — compacts like a local one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from octopufs_spark import compact
    from octopufs_spark.fs.core import get_filesystem, list_tree

    for leaf in ("p=0", "p=1"):
        for i in range(5):
            buf = pa.BufferOutputStream()
            pq.write_table(pa.table({"id": [i, i + 10]}), buf)
            _put(f"{remote_prefix}/t/{leaf}/part-{i}.parquet", buf.getvalue().to_pybytes())
    assert compact.do_it_all(spark, [f"{remote_prefix}/t"]) == 2
    fs, _ = get_filesystem(remote_prefix)
    data = [
        e.path
        for e in list_tree(f"{remote_prefix}/t")
        if not e.is_dir and not e.path.rsplit("/", 1)[-1].startswith(("_", "."))
    ]
    assert sorted(p.split("/")[-2] for p in data) == ["p=0", "p=1"]
    assert sum(pq.ParquetFile(fs.open_input_file(p)).metadata.num_rows for p in data) == 20
    assert compact.do_it_all(spark, [f"{remote_prefix}/t"]) == 0
