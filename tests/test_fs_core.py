"""Inventory / sizes / safety-check tests (reference patterns:
TestGetSize.scala, SafetyFuseTest.scala)."""

from __future__ import annotations

from pathlib import Path

import pytest

from octopufs_spark.fs import (
    FsSizes,
    SafetyFuse,
    does_move_look_safe,
    get_size,
    list_tree,
    to_nice_size_string,
)
from tests.conftest import build_random_tree


def test_list_tree_counts(tmp_path, seeded_rng):
    files = build_random_tree(tmp_path / "t", seeded_rng)
    elements = list_tree(str(tmp_path / "t"))
    listed_files = [e for e in elements if not e.is_dir]
    assert len(listed_files) == len(files)
    total = sum(f.stat().st_size for f in files)
    assert sum(e.byte_size for e in listed_files) == total


def test_collapsed_equals_detailed_size(tmp_path, seeded_rng):
    """Roll-up listing must preserve total size
    (reference invariant: TestGetSize.scala:14-25)."""
    build_random_tree(tmp_path / "t", seeded_rng)
    detailed = get_size(str(tmp_path / "t"), skip_file_details=False)
    collapsed = get_size(str(tmp_path / "t"), skip_file_details=True)
    root = str(tmp_path / "t")
    assert detailed.get_size_of_path(root) == collapsed.get_size_of_path(root)
    assert detailed.get_size_of_path(root) > 0


def test_fs_sizes_prefix_sum(tmp_path, seeded_rng):
    build_random_tree(tmp_path / "t", seeded_rng)
    sizes = FsSizes(list_tree(str(tmp_path / "t")))
    whole = sizes.get_size_of_path(str(tmp_path / "t"))
    subs = [e.path for e in list_tree(str(tmp_path / "t")) if e.is_dir]
    assert all(sizes.get_size_of_path(s) <= whole for s in subs)


def test_nice_size_string():
    assert to_nice_size_string(512) == "512.00 B"
    assert to_nice_size_string(2048) == "2.00 KB"
    assert to_nice_size_string(3 * 1024**3) == "3.00 GB"


def test_does_move_look_safe(tmp_path):
    src = tmp_path / "src"
    trg = tmp_path / "trg"
    src.mkdir()
    trg.mkdir()
    (trg / "x.txt").write_text("data")
    # empty source + non-empty target = rerun signature → unsafe
    assert not does_move_look_safe(str(src), str(trg))
    (src / "y.txt").write_text("new")
    assert does_move_look_safe(str(src), str(trg))


def test_does_move_look_safe_missing_source_raises(tmp_path):
    # Reference contract (fs/package.scala:141-146): a nonexistent
    # source is an error, not an empty listing.
    trg = tmp_path / "trg"
    trg.mkdir()
    with pytest.raises(FileNotFoundError):
        does_move_look_safe(str(tmp_path / "no_such_src"), str(trg))


def test_safety_fuse_state_machine(tmp_path):
    fuse = SafetyFuse(str(tmp_path / "tx"))
    assert not fuse.is_in_progress()
    fuse.start_transaction()
    assert fuse.is_in_progress()
    fuse.end_transaction()
    assert not fuse.is_in_progress()
    # ending a never-started transaction is an operator error
    with pytest.raises(RuntimeError):
        fuse.end_transaction()


HEADS = ["file:", "file://", "", "mock://b"]


def _escaped_file(head: str, tmp_path) -> tuple[str, str]:
    """(URI, in-filesystem path) of a file under a ``%3A`` directory with
    a space in its name, written through ``get_filesystem``."""
    from octopufs_spark.fs.core import get_filesystem

    rest = f"{tmp_path}/t{HEADS.index(head)}/k=a%3Ab/my file.bin"
    fs, path = get_filesystem(head + rest)
    fs.create_dir(path.rsplit("/", 1)[0], recursive=True)
    with fs.open_output_stream(path) as f:
        f.write(b"x")
    return head + rest, path


def test_paths_are_taken_as_written(monkeypatch, tmp_path):
    """A ``%3A`` and a space stay as written on every spelling: the
    scheme and authority are cut off and the rest names the object."""
    from octopufs_spark.fs import mockfs

    monkeypatch.setattr(mockfs, "MOCKFS_ROOT", str(tmp_path / "mock"))
    for head in HEADS:
        uri, path = _escaped_file(head, tmp_path)
        rest = uri[len(head) :]
        assert path == ("b" + rest if head == "mock://b" else rest), head
        disk = tmp_path / "mock" / "b" / rest.lstrip("/") if head == "mock://b" else Path(rest)
        assert disk.read_bytes() == b"x", head


@pytest.mark.parametrize("head", HEADS)
def test_to_uri_inverts_get_filesystem(monkeypatch, tmp_path, head):
    """``to_uri`` puts a root's scheme and authority back on what a
    listing under it returns."""
    from octopufs_spark.fs import mockfs
    from octopufs_spark.fs.core import get_filesystem, list_tree, to_uri

    monkeypatch.setattr(mockfs, "MOCKFS_ROOT", str(tmp_path / "mock"))
    uri, path = _escaped_file(head, tmp_path)
    root = uri.rsplit("/", 2)[0]
    (listed,) = [e.path for e in list_tree(root) if not e.is_dir]
    assert listed == path
    assert to_uri(root, listed) == uri
    assert get_filesystem(uri)[1] == path
