"""Driver-threaded metadata operations: move / delete with retry.

Rebuild of the reference's LocalExecution (reference:
fs/LocalExecution.scala). Renames and deletes on object stores are
single metadata calls — no cluster needed; a large thread pool on the
driver saturates the storage API instead (reference: 1000-thread pool,
helpers/implicits.scala:13; ≈1 min for tens of thousands of paths,
README.md:11). Every mutating op retries its failed subset through the
shared ``core.retry_failed`` (at most 5 attempts, reference:
README.md:6); renames also reconcile false-negatives (a "failed"
rename whose source vanished and target exists actually succeeded —
reference: fs/LocalExecution.scala:151-157).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyarrow import fs as pafs

from octopufs_spark.fs.core import (
    check_if_fs_is_the_same,
    does_move_look_safe,
    get_filesystem,
    retry_failed,
)
from octopufs_spark.fs.model import FsOperationResult, Paths
from octopufs_spark.fs.safety import SafetyFuse

OP_TIMEOUT_S = 600  # reference: helpers/implicits.scala:15
DEFAULT_WORKERS = 256


def _run_threaded(fn, items, max_workers: int = DEFAULT_WORKERS) -> list:
    if not items:
        return []
    with ThreadPoolExecutor(max_workers=min(max_workers, len(items))) as pool:
        futures = [pool.submit(fn, it) for it in items]
        return [f.result(timeout=OP_TIMEOUT_S) for f in futures]


def _is_false_negative(fs: pafs.FileSystem, p: Paths) -> bool:
    """A rename that reported failure but actually happened: source
    gone, target there (reference: getFalseNegatives,
    fs/LocalExecution.scala:151-157)."""
    src_gone = fs.get_file_info(p.source_path).type == pafs.FileType.NotFound
    return src_gone and fs.get_file_info(p.target_path).type != pafs.FileType.NotFound


def move_paths(paths: list[Paths]) -> list[FsOperationResult]:
    """Parallel renames with retry + false-negative reconciliation
    (reference: movePaths, fs/LocalExecution.scala:70-97)."""
    if not paths:
        return []
    fs, _ = get_filesystem(paths[0].source_path)

    def mv(p: Paths) -> FsOperationResult:
        sp = _strip_pair(p)
        try:
            fs.move(sp.source_path, sp.target_path)
            return FsOperationResult(p.source_path, True)
        except Exception:
            return FsOperationResult(p.source_path, _is_false_negative(fs, sp))

    return retry_failed(lambda batch: _run_threaded(mv, batch), paths, "move")


def delete_paths(paths: list[str]) -> list[FsOperationResult]:
    """Parallel recursive deletes with retry
    (reference: deletePaths, fs/LocalExecution.scala:106-128)."""
    if not paths:
        return []
    fs, _ = get_filesystem(paths[0])

    def rm(path: str) -> FsOperationResult:
        p = _strip(path)
        try:
            info = fs.get_file_info(p)
            if info.type == pafs.FileType.NotFound:
                return FsOperationResult(path, True)  # already gone — success
            if info.type == pafs.FileType.Directory:
                fs.delete_dir(p)
            else:
                fs.delete_file(p)
            return FsOperationResult(path, True)
        except Exception:
            return FsOperationResult(path, False)

    return retry_failed(lambda batch: _run_threaded(rm, batch), paths, "delete")


def delete_folder(folder_uri: str, delete_content_only: bool = False) -> None:
    """Delete a folder, or only its children — preserving the folder
    node itself (and thus its ACLs/permissions on stores that attach
    them) (reference: deleteFolder, fs/LocalExecution.scala:136-149)."""
    fs, folder = get_filesystem(folder_uri)
    if delete_content_only:
        children = fs.get_file_info(pafs.FileSelector(folder, recursive=False, allow_not_found=True))
        delete_paths([c.path for c in children])
    else:
        info = fs.get_file_info(folder)
        if info.type != pafs.FileType.NotFound:
            fs.delete_dir(folder)


def move_folder_content(
    src_uri: str, trg_uri: str, keep_source_folder: bool = False
) -> list[FsOperationResult]:
    """Move all first-level children of src into trg
    (reference: moveFolderContent, fs/LocalExecution.scala:26-61).

    Same-FS check → rerun-safety guard → SafetyFuse transaction around
    the destructive phase (clear target, rename children) → optional
    source-folder removal.
    """
    check_if_fs_is_the_same(src_uri, trg_uri)
    if not does_move_look_safe(src_uri, trg_uri):
        raise RuntimeError(f"move {src_uri} -> {trg_uri} looks unsafe (empty source, non-empty target)")

    fs, src = get_filesystem(src_uri)
    _, trg = get_filesystem(trg_uri)
    fuse = SafetyFuse(src_uri)
    if not fuse.is_in_progress():
        # Delete completes BEFORE the fuse arms (reference order,
        # fs/LocalExecution.scala:40-45): re-running an interrupted
        # delete is safe, so a crash mid-delete must leave the fuse
        # unset — an armed fuse would make the rerun skip this phase
        # and rename children into a partially-cleared target.
        delete_folder(trg_uri, delete_content_only=True)
        fuse.start_transaction()
    children = fs.get_file_info(pafs.FileSelector(src, recursive=False))
    pairs = [
        Paths(c.path, f"{trg}/{c.path.rsplit('/', 1)[-1]}")
        for c in children
        if not c.path.endswith("_open_transaction")
    ]
    fs.create_dir(trg, recursive=True)
    results = move_paths(pairs)
    fuse.end_transaction()
    if not keep_source_folder:
        delete_folder(src_uri)
    return results


def _strip(uri: str) -> str:
    """URI → in-filesystem path (pyarrow APIs want fs-relative paths).

    Always resolves via from_uri: Spark's catalog spells local URIs as
    ``file:/x`` (single slash, no ``://``), which pyarrow rejects as a
    raw path.
    """
    return get_filesystem(uri)[1]


def _strip_pair(p: Paths) -> Paths:
    return Paths(_strip(p.source_path), _strip(p.target_path))
