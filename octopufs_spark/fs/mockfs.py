"""In-process object-store stand-in: a ``mock://`` pyarrow filesystem.

The fs toolkit is pyarrow.fs-generic (fs/core.py:27), but without
network access the sandbox only ever exercised ``file://`` — leaving
the "different scheme, different FileSystem instance" code paths
(scheme dispatch, cross-fs move refusal, handler-mediated streams in
executor tasks) untested until a real bucket was available. This
module closes that gap (round-3 verdict item 7): a pure-Python
``pyarrow.fs.FileSystemHandler`` that maps

    mock://<bucket>/<key...>  ->  <MOCKFS_ROOT>/<bucket>/<key...>

onto local disk. The mapping is DETERMINISTIC and path-only (no
driver-held state), so Spark executor processes resolve the same URI
to the same bytes — exactly the property object-store URIs have —
letting the distributed copy/move/delta suites run against a
non-``file://`` scheme in CI. The reference gates the analogous
suites on live HDFS (reference: src/test/scala/AclTest.scala:25);
here the same tests run unconditionally against the mock scheme and
against a real store when ``OCTOPUFS_REMOTE_URI`` points at one.

Object-store semantics emulated:
  * flat-namespace tolerance: ``create_dir`` is cheap and implicit
    parents appear on write (local dirs double for key prefixes);
  * ``move`` works only within the filesystem (pyarrow enforces the
    cross-fs case; ``check_if_fs_is_the_same`` sees distinct
    ``type_name``s for mock vs local);
  * streams are byte streams opened through the handler — no local
    path ever leaks to the caller.
"""

from __future__ import annotations

import os

from pyarrow import fs as pafs

SCHEME = "mock://"
# Fixed root so any process (driver, executor worker) resolves
# identically without coordination. Override via env BEFORE the first
# resolution if a test host needs a different volume.
MOCKFS_ROOT = os.environ.get("OCTOPUFS_MOCKFS_ROOT", "/tmp/octopufs_mockfs")


class MockRemoteHandler(pafs.FileSystemHandler):
    """Delegates to a rooted LocalFileSystem under a distinct scheme."""

    def __init__(self, root: str | None = None):
        # resolve the module-level root at CALL time, not at class
        # definition: tests repoint MOCKFS_ROOT per-fixture for isolation
        self.root = (root if root is not None else MOCKFS_ROOT).rstrip("/")
        self._local = pafs.LocalFileSystem()
        os.makedirs(self.root, exist_ok=True)

    # -- path translation ---------------------------------------------------
    def _abs(self, path: str) -> str:
        p = path.lstrip("/")
        return f"{self.root}/{p}" if p else self.root

    def _rel(self, abs_path: str) -> str:
        return abs_path[len(self.root) :].lstrip("/")

    def _reinfo(self, info: pafs.FileInfo) -> pafs.FileInfo:
        return pafs.FileInfo(
            self._rel(info.path),
            type=info.type,
            size=info.size if info.type == pafs.FileType.File else None,
            mtime=info.mtime,
        )

    # -- identity -----------------------------------------------------------
    def get_type_name(self) -> str:
        return "mock-remote"

    def normalize_path(self, path: str) -> str:
        return path.strip("/")

    def __eq__(self, other) -> bool:
        return isinstance(other, MockRemoteHandler) and other.root == self.root

    def __ne__(self, other) -> bool:
        return not self.__eq__(other)

    # -- metadata -----------------------------------------------------------
    def get_file_info(self, paths) -> list[pafs.FileInfo]:
        return [
            self._reinfo(self._local.get_file_info(self._abs(p))) for p in paths
        ]

    def get_file_info_selector(self, selector: pafs.FileSelector) -> list[pafs.FileInfo]:
        sel = pafs.FileSelector(
            self._abs(selector.base_dir),
            allow_not_found=selector.allow_not_found,
            recursive=selector.recursive,
        )
        return [self._reinfo(i) for i in self._local.get_file_info(sel)]

    # -- tree mutation ------------------------------------------------------
    # Mutations notify the ACL backend (fs/mock_acl.py) so entries
    # follow node lifecycle like a real ADLS/HDFS store: create-time
    # DEFAULT inheritance, delete drops, rename carries. Hooks no-op
    # unless an ACL sidecar exists.
    def create_dir(self, path: str, recursive: bool) -> None:
        self._local.create_dir(self._abs(path), recursive=recursive)
        from octopufs_spark.fs import mock_acl

        mock_acl.on_create(path, is_dir=True)

    def delete_dir(self, path: str) -> None:
        self._local.delete_dir(self._abs(path))
        from octopufs_spark.fs import mock_acl

        mock_acl.on_delete(path)

    def delete_dir_contents(self, path: str, missing_dir_ok: bool = False) -> None:
        try:
            self._local.delete_dir_contents(self._abs(path))
        except FileNotFoundError:
            if not missing_dir_ok:
                raise
        from octopufs_spark.fs import mock_acl

        mock_acl.on_delete(path, contents_only=True)

    def delete_root_dir_contents(self) -> None:
        # Refuse: the mock root hosts every "bucket"; wiping it from one
        # filesystem object would cross test boundaries.
        raise NotImplementedError("mockfs refuses delete of the shared root")

    def delete_file(self, path: str) -> None:
        self._local.delete_file(self._abs(path))
        from octopufs_spark.fs import mock_acl

        mock_acl.on_delete(path)

    def move(self, src: str, dest: str) -> None:
        dest_abs = self._abs(dest)
        os.makedirs(os.path.dirname(dest_abs), exist_ok=True)
        self._local.move(self._abs(src), dest_abs)
        from octopufs_spark.fs import mock_acl

        mock_acl.on_move(src, dest)

    def copy_file(self, src: str, dest: str) -> None:
        dest_abs = self._abs(dest)
        os.makedirs(os.path.dirname(dest_abs), exist_ok=True)
        self._local.copy_file(self._abs(src), dest_abs)
        from octopufs_spark.fs import mock_acl

        mock_acl.on_create(dest)  # copies are new nodes: inherit, don't clone

    # -- streams ------------------------------------------------------------
    def open_input_stream(self, path: str):
        return self._local.open_input_stream(self._abs(path))

    def open_input_file(self, path: str):
        return self._local.open_input_file(self._abs(path))

    def open_output_stream(self, path: str, metadata=None):
        abs_path = self._abs(path)
        os.makedirs(os.path.dirname(abs_path), exist_ok=True)
        from octopufs_spark.fs import mock_acl

        mock_acl.on_create(path)
        return self._local.open_output_stream(abs_path)

    def open_append_stream(self, path: str, metadata=None):
        abs_path = self._abs(path)
        os.makedirs(os.path.dirname(abs_path), exist_ok=True)
        return self._local.open_append_stream(abs_path)


def mock_filesystem() -> pafs.PyFileSystem:
    """A PyFileSystem over the shared mock root (cheap to construct —
    build per call, including inside executor tasks)."""
    return pafs.PyFileSystem(MockRemoteHandler())

