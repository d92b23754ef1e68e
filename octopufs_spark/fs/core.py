"""Core filesystem access: resolve, list, size, safety checks.

Rebuild of the reference's fs package (reference: fs/package.scala).
Listing is a parallel breadth-first walk (reference runs each level's
listStatus as parallel Futures, fs/package.scala:35-50); here a
ThreadPoolExecutor walks directories concurrently, which hides
object-store listing latency the same way.
"""

from __future__ import annotations

import logging
from concurrent.futures import ThreadPoolExecutor

from pyarrow import fs as pafs

from octopufs_spark.fs.model import FsElement, FsOperationResult

log = logging.getLogger(__name__)

# The reference sizes its pool for HTTP-bound metadata calls
# (reference: helpers/implicits.scala:13 — 1000 threads). Local FS
# needs far less; object stores want more.
DEFAULT_LIST_WORKERS = 64

MAX_ATTEMPTS = 5  # reference: attempt > 4 guards


def retry_failed(run_batch, items: list, what: str) -> list[FsOperationResult]:
    """Run ``run_batch`` over ``items``, then re-run it on the failed
    subset only, at most ``MAX_ATTEMPTS`` batches in all — the one retry
    rule of every fan-out op (reference: README.md:6; the ``attempt > 4``
    guards of LocalExecution, DistributedExecution and AclManager).

    ``run_batch(batch)`` returns one result per item, in batch order,
    and owns its op's own rules (rename reconciliation, missing-path
    tolerance, abort on total failure). Returns each item's last result
    in input order; raises once the attempts are used up.
    """
    results: list[FsOperationResult] = [None] * len(items)
    pending = list(range(len(items)))
    for attempt in range(MAX_ATTEMPTS):
        if not pending:
            break
        if attempt:
            log.warning("retrying %d failed %s ops (attempt %d)", len(pending), what, attempt + 1)
        outcome = run_batch([items[i] for i in pending])
        for i, r in zip(pending, outcome):
            results[i] = r
        pending = [i for i, r in zip(pending, outcome) if not r.success]
    if pending:
        raise RuntimeError(f"{what} failed for {len(pending)} paths after {MAX_ATTEMPTS} attempts")
    return results


def get_filesystem(uri: str) -> tuple[pafs.FileSystem, str]:
    """Resolve a pyarrow FileSystem + in-fs path for a URI.

    (reference: getFileSystem, fs/package.scala:23-25; spaces sanitized
    there — pyarrow handles percent-encoding itself.) ``mock://`` URIs
    resolve to the in-process object-store stand-in (fs/mockfs.py) so
    the non-``file://`` code paths run without network access;
    everything else goes through pyarrow's native scheme dispatch
    (file, s3, gs, hdfs, ...).
    """
    if uri.startswith("mock://"):
        from octopufs_spark.fs import mockfs

        return mockfs.resolve(uri)
    return pafs.FileSystem.from_uri(uri)


def _info_to_element(info: pafs.FileInfo) -> FsElement:
    is_dir = info.type == pafs.FileType.Directory
    return FsElement(info.path, is_dir, 0 if is_dir else (info.size or 0))


def list_tree(
    uri: str,
    drop_file_detail: bool = False,
    max_workers: int = DEFAULT_LIST_WORKERS,
    tolerate_vanished: bool = False,
) -> list[FsElement]:
    """Recursive listing of a tree as FsElements.

    (reference: listLevel/list, fs/package.scala:35-55.)
    ``drop_file_detail`` collapses each folder's files into one
    synthetic ``summed_up_files`` element to bound memory on huge trees
    (reference: sumUpFiles, fs/package.scala:59-62).

    ``tolerate_vanished`` lets a SUBDIR that disappears between
    discovery (level N) and its own listing (level N+1) contribute
    nothing instead of raising — concurrent writers delete their
    ``_temporary`` staging dirs constantly, and a maintenance walk
    (vacuum) that crashes on a vanished dir cannot run alongside
    writers at all. It is strictly OPT-IN and narrowed to
    FileNotFoundError: a commit-time file discovery or a distributed
    copy must NEVER treat a transient listing failure as an empty
    directory (a throttling OSError swallowed there would publish a
    manifest silently missing a partition), and the tree ROOT stays
    strict in every mode (a missing root is the caller's signal —
    ``versions()`` relies on it).
    """
    filesystem, root = get_filesystem(uri)
    out: list[FsElement] = []

    def list_one(dir_path: str) -> tuple[list[pafs.FileInfo], list[str]]:
        infos = filesystem.get_file_info(pafs.FileSelector(dir_path, recursive=False))
        subdirs = [i.path for i in infos if i.type == pafs.FileType.Directory]
        return infos, subdirs

    def list_one_tolerant(dir_path: str) -> tuple[list[pafs.FileInfo], list[str]]:
        try:
            return list_one(dir_path)
        except FileNotFoundError:
            return [], []

    level, strict = [root], True
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        while level:
            sub_lister = (
                list_one_tolerant if (tolerate_vanished and not strict) else list_one
            )
            results = list(pool.map(sub_lister, level))
            strict = False
            next_level: list[str] = []
            for dir_path, (infos, subdirs) in zip(level, results):
                files = [i for i in infos if i.type != pafs.FileType.Directory]
                dirs = [i for i in infos if i.type == pafs.FileType.Directory]
                out.extend(_info_to_element(i) for i in dirs)
                if drop_file_detail and files:
                    total = sum(i.size or 0 for i in files)
                    out.append(FsElement(f"{dir_path}/summed_up_files", False, total))
                else:
                    out.extend(_info_to_element(i) for i in files)
                next_level.extend(subdirs)
            level = next_level
    return out


class FsSizes:
    """Cached listing with prefix-sum lookups (reference: fs/package.scala:79-87)."""

    def __init__(self, elements: list[FsElement]):
        self.elements = elements

    def get_size_of_path(self, prefix: str) -> int:
        matched = [e for e in self.elements if e.path.startswith(prefix) and not e.is_dir]
        total = sum(e.byte_size for e in matched)
        log.info("%d files under %s totaling %s", len(matched), prefix, to_nice_size_string(total))
        return total


def get_size(uri: str, skip_file_details: bool = True) -> FsSizes:
    """Full-tree size report, ≈`du` (reference: getSize, fs/package.scala:112-119)."""
    elements = list_tree(uri, drop_file_detail=skip_file_details)
    sizes = FsSizes(elements)
    _, root = get_filesystem(uri)
    log.info("Size of %s: %s", uri, to_nice_size_string(sizes.get_size_of_path(root)))
    return sizes


def to_nice_size_string(size: float) -> str:
    """Human-readable size (reference: toNiceSizeString, fs/package.scala:70-73)."""
    for unit in ("B", "KB", "MB", "GB"):
        if abs(size) < 1024.0:
            return f"{size:.2f} {unit}"
        size /= 1024.0
    return f"{size:.2f} TB"


def check_if_fs_is_the_same(src_uri: str, trg_uri: str) -> None:
    """Moves are metadata renames only within one filesystem
    (reference: checkIfFsIsTheSame, fs/package.scala:126-129)."""
    src_fs, _ = get_filesystem(src_uri)
    trg_fs, _ = get_filesystem(trg_uri)
    if src_fs.type_name != trg_fs.type_name:
        raise ValueError(
            f"source and target must be on the same filesystem: "
            f"{src_fs.type_name} != {trg_fs.type_name}"
        )


def does_move_look_safe(src_uri: str, trg_uri: str) -> bool:
    """Refuse a move whose source is empty while the target has content —
    the signature of an already-run (and thus destructive-on-rerun)
    promotion (reference: doesMoveLookSafe, fs/package.scala:139-152)."""
    fs_src, src = get_filesystem(src_uri)
    fs_trg, trg = get_filesystem(trg_uri)
    if fs_src.get_file_info(src).type == pafs.FileType.NotFound:
        # Reference throws here (fs/package.scala:141-146): a missing
        # source is an error, not an empty listing — proceeding would
        # surface later as an opaque rename failure.
        raise FileNotFoundError(f"Source folder {src_uri} does not exist")
    src_infos = fs_src.get_file_info(pafs.FileSelector(src, recursive=False))
    trg_info = fs_trg.get_file_info(trg)
    trg_nonempty = (
        trg_info.type == pafs.FileType.Directory
        and len(fs_trg.get_file_info(pafs.FileSelector(trg, recursive=False))) > 0
    )
    if src_infos:
        return True
    if not trg_nonempty:
        return True
    log.warning("move looks unsafe: %s is empty but %s has content", src_uri, trg_uri)
    return False


def copy_single_file(src_uri: str, trg_uri: str, overwrite: bool = True) -> bool:
    """One-file byte copy (reference: copySingleFile, fs/package.scala:165-171)."""
    try:
        src_fs, src = get_filesystem(src_uri)
        trg_fs, trg = get_filesystem(trg_uri)
        if not overwrite and trg_fs.get_file_info(trg).type != pafs.FileType.NotFound:
            return False
        trg_fs.create_dir(trg.rsplit("/", 1)[0], recursive=True)
        with src_fs.open_input_stream(src) as r, trg_fs.open_output_stream(trg) as w:
            while True:
                chunk = r.read(8 * 1024 * 1024)
                if not chunk:
                    break
                w.write(chunk)
        return True
    except Exception:
        log.exception("copy failed %s -> %s", src_uri, trg_uri)
        return False
