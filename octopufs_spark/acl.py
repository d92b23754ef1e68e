"""POSIX-ACL management: modify / clear / reset / synchronize.

Rebuild of the reference's AclManager (reference: acl/AclManager.scala).
ADLS-style POSIX ACLs (ACCESS + DEFAULT scopes, grantee object ids)
don't exist on a local filesystem, so the *algorithms* — tree walk,
parent inheritance, DEFAULT→ACCESS conversion for files — run against
an abstract ``AclStore``; the shipped local backend keeps a JSON
sidecar per tree (chmod bits alone can't express named grantees).
All mutations are driver-threaded with the retry loop every metadata
op in this engine shares, ``fs.core.retry_failed`` (reference:
1000-thread pool helpers/implicits.scala:13, attempt>4 guards
acl/AclManager.scala:73,162,279,308): single-HTTP-call operations need
IO parallelism, not a cluster.
"""

from __future__ import annotations

import json
import threading
from dataclasses import asdict, dataclass
from pathlib import Path

from octopufs_spark.fs.core import get_filesystem, list_tree, retry_failed
from octopufs_spark.fs.local import _run_threaded
from octopufs_spark.fs.model import FsOperationResult

DEFAULT_WORKERS = 64

ACCESS = "ACCESS"
DEFAULT = "DEFAULT"
SCOPES = ("user", "group", "other", "mask")


@dataclass(frozen=True)
class FsPermission:
    """One ACL entry (reference: AclManager.FsPermission,
    acl/AclManager.scala:198-205): scope ∈ {user,group,other,mask},
    ``rwx``-string permission, level ∈ {ACCESS,DEFAULT}, grantee id."""

    scope: str
    permission: str
    level: str = ACCESS
    grantee: str = ""

    def __post_init__(self) -> None:
        if self.scope not in SCOPES:
            raise ValueError(f"bad scope {self.scope!r}")
        if self.level not in (ACCESS, DEFAULT):
            raise ValueError(f"bad level {self.level!r}")
        if len(self.permission) != 3:
            raise ValueError(f"permission must be rwx-style, got {self.permission!r}")

    def key(self) -> tuple[str, str, str]:
        """Identity of an entry: same (scope, level, grantee) is
        replaced on modify rather than duplicated."""
        return (self.scope, self.level, self.grantee)

    def as_access(self) -> "FsPermission":
        """DEFAULT folder entry → ACCESS file entry
        (reference: getAccessScopeAclFromDefault, acl/AclManager.scala:331-336)."""
        return FsPermission(self.scope, self.permission, ACCESS, self.grantee)


class AclStore:
    """Abstract permission store: get/replace the ACL of a path."""

    def get_acl(self, path: str) -> list[FsPermission]:
        raise NotImplementedError

    def set_acl(self, path: str, entries: list[FsPermission]) -> None:
        """Replace the full ACL (reference setAcl semantics)."""
        raise NotImplementedError

    def modify_acl(self, path: str, entries: list[FsPermission]) -> None:
        """Incremental merge (reference modifyAclEntries semantics):
        same-(scope,level,grantee) entries replaced, others kept."""
        current = {e.key(): e for e in self.get_acl(path)}
        for e in entries:
            current[e.key()] = e
        self.set_acl(path, list(current.values()))

    def remove_acl(self, path: str) -> None:
        """Drop all entries (reference removeAcl)."""
        self.set_acl(path, [])


class SidecarAclStore(AclStore):
    """Local backend: one JSON sidecar file per tree root.

    Local filesystems can't hold named-grantee POSIX ACLs, so entries
    live in ``<root>/.octopufs_acls.json`` keyed by path. The algorithms
    above this class are storage-agnostic — an ADLS backend would map
    get/set to getAclStatus/setAcl HTTP calls 1:1.
    """

    def __init__(self, root_uri: str):
        _, root = get_filesystem(root_uri)
        self._file = Path(root) / ".octopufs_acls.json"
        self._data: dict[str, list[dict]] = {}
        # _apply_threaded drives this store from a many-thread pool;
        # the shared dict + sidecar file need mutual exclusion or
        # concurrent read-modify-write cycles lose entries and
        # interleaved writes corrupt the JSON on disk.
        self._lock = threading.Lock()
        if self._file.exists():
            self._data = json.loads(self._file.read_text())

    def _flush(self) -> None:
        # Atomic replace: a reader (or a crash) never observes a
        # half-written sidecar.
        tmp = self._file.with_suffix(".json.tmp")
        tmp.write_text(json.dumps(self._data, indent=0, sort_keys=True))
        tmp.replace(self._file)

    def _norm(self, path: str) -> str:
        return get_filesystem(path)[1] if ":" in path.split("/", 1)[0] or "://" in path else path

    def get_acl(self, path: str) -> list[FsPermission]:
        with self._lock:
            return [FsPermission(**d) for d in self._data.get(self._norm(path), [])]

    def modify_acl(self, path: str, entries: list[FsPermission]) -> None:
        # Base-class modify is get→merge→set; take the lock across the
        # whole cycle so two threads can't interleave and drop entries.
        with self._lock:
            current = {e.key(): e for e in self._get_acl_locked(path)}
            for e in entries:
                current[e.key()] = e
            self._set_acl_locked(path, list(current.values()))

    def set_acl(self, path: str, entries: list[FsPermission]) -> None:
        with self._lock:
            self._set_acl_locked(path, entries)

    def _get_acl_locked(self, path: str) -> list[FsPermission]:
        return [FsPermission(**d) for d in self._data.get(self._norm(path), [])]

    def _set_acl_locked(self, path: str, entries: list[FsPermission]) -> None:
        p = self._norm(path)
        if entries:
            self._data[p] = [asdict(e) for e in sorted(entries, key=lambda e: e.key())]
        else:
            self._data.pop(p, None)
        self._flush()


class PosixChmodAclStore(AclStore):
    """REAL local backend for the POSIX subset: user/group/other
    ACCESS entries map onto kernel-enforced mode bits via ``os.chmod``
    (verifiable with ``stat``), so the shared algorithms above —
    folder-tree apply, DEFAULT→ACCESS conversion, synchronizeAcls
    inheritance — drive actual enforcement, not a model.

    Plain POSIX without extended ACLs (no ``setfacl`` in this
    environment) has no named grantees, no mask, and no DEFAULT
    scope; named-grantee entries are refused loudly (a silent drop
    would fake security), while DEFAULT/mask entries are IGNORED with
    the documented rationale that they exist only on ACL-capable
    filesystems — the same tree algorithms then run unchanged against
    HDFS/ADLS stores that do support them.
    """

    _BITS = {"user": 6, "group": 3, "other": 0}

    def get_acl(self, path: str) -> list[FsPermission]:
        import os

        mode = os.stat(path).st_mode
        out = []
        for scope, shift in self._BITS.items():
            bits = (mode >> shift) & 0o7
            perm = ("r" if bits & 4 else "-") + ("w" if bits & 2 else "-") + (
                "x" if bits & 1 else "-"
            )
            out.append(FsPermission(scope, perm, ACCESS, ""))
        return out

    def set_acl(self, path: str, entries: list[FsPermission]) -> None:
        import os

        applicable: dict[str, str] = {}
        for e in entries:
            if e.grantee:
                raise ValueError(
                    f"named grantee {e.grantee!r} needs an ACL-capable "
                    "filesystem (HDFS/ADLS); plain POSIX mode bits cannot "
                    "hold it"
                )
            if e.level == DEFAULT or e.scope == "mask":
                continue  # no default ACLs / mask without extended ACLs
            applicable[e.scope] = e.permission
        if not entries:
            # remove_acl semantics: drop everything we own
            applicable = {}
        mode = 0
        for scope, shift in self._BITS.items():
            perm = applicable.get(scope, "---")
            bits = (4 if perm[0] == "r" else 0) | (2 if perm[1] == "w" else 0) | (
                1 if perm[2] == "x" else 0
            )
            mode |= bits << shift
        os.chmod(path, mode)


def _apply_threaded(fn, paths: list[str]) -> list[FsOperationResult]:
    """Threaded apply with the shared retry; a path that vanished
    counts as success (reference: modifyAcls, acl/AclManager.scala:57-75 —
    files deleted concurrently shouldn't fail the job)."""

    def one(path: str) -> FsOperationResult:
        try:
            fn(path)
        except FileNotFoundError:
            pass
        except Exception:
            return FsOperationResult(path, False)
        return FsOperationResult(path, True)

    return retry_failed(
        lambda batch: _run_threaded(one, batch, DEFAULT_WORKERS), paths, "ACL op"
    )


def modify_acls(
    store: AclStore, paths: list[str], permissions: list[FsPermission]
) -> list[FsOperationResult]:
    """Merge entries into many paths, threaded + retried
    (reference: modifyAcls, acl/AclManager.scala:57-75)."""
    return _apply_threaded(lambda p: store.modify_acl(p, permissions), paths)


def modify_folder_acl(
    store: AclStore, folder_uri: str, permission: FsPermission
) -> list[FsOperationResult]:
    """Recursive tree apply: ACCESS on every element, DEFAULT
    additionally on directories (reference: modifyFolderAcl,
    acl/AclManager.scala:110-126)."""
    elements = list_tree(folder_uri)
    _, root = get_filesystem(folder_uri)
    dirs = [root] + [e.path for e in elements if e.is_dir]
    files = [e.path for e in elements if not e.is_dir]
    access = permission.as_access()
    default = FsPermission(permission.scope, permission.permission, DEFAULT, permission.grantee)
    out = _apply_threaded(lambda p: store.modify_acl(p, [access, default]), dirs)
    out += _apply_threaded(lambda p: store.modify_acl(p, [access]), files)
    return out


def modify_table_acl(
    store: AclStore, spark, table: str, permission: FsPermission
) -> list[FsOperationResult]:
    """ACCESS+DEFAULT on the table folder, ACCESS on every file, file
    list taken from the metastore cache (reference: modifyTableAcl,
    acl/AclManager.scala:32-45)."""
    from octopufs_spark import catalog

    loc = catalog.get_table_location(spark, table)
    files = catalog.get_list_of_table_files(spark, table)
    access = permission.as_access()
    default = FsPermission(permission.scope, permission.permission, DEFAULT, permission.grantee)
    out = _apply_threaded(lambda p: store.modify_acl(p, [access, default]), [loc])
    out += _apply_threaded(lambda p: store.modify_acl(p, [access]), files)
    return out


def clear_folder_acl(store: AclStore, folder_uri: str) -> list[FsOperationResult]:
    """removeAcl on the whole tree (reference: clearFolderAcl,
    acl/AclManager.scala:135-142)."""
    elements = list_tree(folder_uri)
    _, root = get_filesystem(folder_uri)
    paths = [root] + [e.path for e in elements]
    return _apply_threaded(store.remove_acl, paths)


def reset_acl_entries(store: AclStore, path: str, entries: list[FsPermission]) -> None:
    """setAcl replace, vs incremental modify (reference: resetAclEntries,
    acl/AclManager.scala:183-189)."""
    store.set_acl(path, entries)


def synchronize_acls(
    store: AclStore, apply_to_uri: str, take_from_uri: str
) -> list[FsOperationResult]:
    """Copy a source tree's ACL layout onto a target tree
    (reference: synchronizeAcls, acl/AclManager.scala:214-316).

    Algorithm (identical to the reference):
    1. list both trees;
    2. fetch source folder ACLs into a map;
    3. walk target dirs in path-length order (parents first,
       reference sorts by path length :260): a dir whose prefix-swapped
       twin exists in the source takes that ACL, otherwise it inherits
       its parent's resolved ACL;
    4. apply to folders as remove-then-modify;
    5. every file gets its parent folder's DEFAULT entries converted to
       ACCESS scope (reference :297-314, :331-336).
    """
    _, src_root = get_filesystem(take_from_uri)
    _, trg_root = get_filesystem(apply_to_uri)
    src_elements = list_tree(take_from_uri)
    trg_elements = list_tree(apply_to_uri)

    src_dirs = [src_root] + [e.path for e in src_elements if e.is_dir]
    src_acls: dict[str, list[FsPermission]] = {}

    def fetch(p: str) -> None:
        src_acls[p] = store.get_acl(p)

    _apply_threaded(fetch, src_dirs)

    resolved: dict[str, list[FsPermission]] = {}
    trg_dirs = sorted(
        [trg_root] + [e.path for e in trg_elements if e.is_dir], key=len
    )
    for d in trg_dirs:
        twin = src_root + d[len(trg_root):]
        if twin in src_acls and src_acls[twin]:
            resolved[d] = src_acls[twin]
        elif d == trg_root:
            resolved[d] = src_acls.get(src_root, [])
        else:
            parent = d.rsplit("/", 1)[0]
            resolved[d] = resolved.get(parent, [])

    def apply_dir(d: str) -> None:
        store.remove_acl(d)
        store.modify_acl(d, resolved[d])

    results = _apply_threaded(apply_dir, trg_dirs)

    file_entries: dict[str, list[FsPermission]] = {}
    for e in trg_elements:
        if not e.is_dir:
            parent = e.path.rsplit("/", 1)[0]
            file_entries[e.path] = [
                p.as_access() for p in resolved.get(parent, []) if p.level == DEFAULT
            ]

    def apply_file(p: str) -> None:
        store.set_acl(p, file_entries[p])

    results += _apply_threaded(apply_file, list(file_entries))
    return results
