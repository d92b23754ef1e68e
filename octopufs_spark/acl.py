"""POSIX-ACL management: modify / clear / reset / synchronize.

Rebuild of the reference's AclManager (reference: acl/AclManager.scala).
ADLS-style POSIX ACLs (ACCESS + DEFAULT scopes, grantee object ids)
don't exist on a local filesystem, so the *algorithms* — tree walk,
parent inheritance, DEFAULT→ACCESS conversion for files — run against
an abstract ``AclStore``; the shipped local backend keeps a JSON
sidecar per tree (chmod bits alone can't express named grantees).
The tree ops build their whole path → entries map on the driver, where
the listing already is, and hand it to the store in one bulk call; the
store decides how to write it. A store where each path is its own call
(chmod, an ADLS ``setAcl``) fans out over driver threads under the
retry loop every metadata op in this engine shares,
``fs.core.retry_failed`` (reference: 1000-thread pool
helpers/implicits.scala:13, attempt>4 guards
acl/AclManager.scala:73,162,279,308): single-HTTP-call operations need
IO parallelism, not a cluster. A store that keeps every entry in one
file writes that file once per op.
"""

from __future__ import annotations

import json
import os
import threading
from dataclasses import asdict, dataclass

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


class AclStore:
    """Abstract permission store.

    Per-path pair: ``get_acl`` / ``set_acl`` (``modify_acl`` and
    ``remove_acl`` derive from them). Bulk pair: ``get_acls`` /
    ``apply``, the only calls the tree algorithms make. The bulk
    defaults fan out one path per thread under ``fs.core.retry_failed``,
    right for stores where each path is its own call (chmod, an ADLS
    ``setAcl``); a store that keeps every entry in one file overrides
    them to read once and write once per op.
    """

    def get_acl(self, path: str) -> list[FsPermission]:
        raise NotImplementedError

    def set_acl(self, path: str, entries: list[FsPermission]) -> None:
        """Replace the full ACL (reference setAcl semantics)."""
        raise NotImplementedError

    def modify_acl(self, path: str, entries: list[FsPermission]) -> None:
        """Incremental merge (reference modifyAclEntries semantics):
        same-(scope,level,grantee) entries replaced, others kept."""
        self.set_acl(path, _merged(self.get_acl(path), entries))

    def remove_acl(self, path: str) -> None:
        """Drop all entries (reference removeAcl)."""
        self.set_acl(path, [])

    def get_acls(self, paths: list[str]) -> dict[str, list[FsPermission]]:
        """ACL of every path; a path that vanished is left out
        (reference: getAclsForPaths)."""
        out: dict[str, list[FsPermission]] = {}

        def fetch(p: str) -> None:
            out[p] = self.get_acl(p)

        _apply_threaded(fetch, list(paths))
        return out

    def apply(
        self, updates: dict[str, list[FsPermission]], merge: bool
    ) -> list[FsOperationResult]:
        """Write every path's entries: ``merge`` → ``modify_acl``, else
        ``set_acl``. One result per path, in ``updates`` order."""
        write = self.modify_acl if merge else self.set_acl
        return _apply_threaded(lambda p: write(p, updates[p]), list(updates))


def _merged(current: list[FsPermission], entries: list[FsPermission]) -> list[FsPermission]:
    by_key = {e.key(): e for e in current}
    by_key.update((e.key(), e) for e in entries)
    return list(by_key.values())


# Process-wide: every sidecar store, whatever its root, and the mock://
# data-plane hooks serialise their read-modify-write cycles on it.
_LOCK = threading.Lock()


class SidecarAclStore(AclStore):
    """Local backend: one JSON sidecar file per tree root.

    Local filesystems can't hold named-grantee POSIX ACLs, so entries
    live in ``<root>/.octopufs_acls.json`` keyed by path. Every write,
    bulk or per-path, is one ``_edit``: under the process-wide lock it
    re-reads the file (another store instance, or a mock:// data-plane
    hook, may have written it since), applies the change and flushes by
    atomic replace, so a reader or a crash sees the old file or the new
    one, never a mix. ``apply`` is one ``_edit`` for the whole op under
    ``fs.core.retry_failed``: an ``OSError`` fails the batch and the
    batch is rerun. A missing sidecar reads as empty; a corrupt one
    raises rather than reading as empty, which would let the next write
    wipe every entry.
    """

    def __init__(self, root_uri: str):
        _, root = get_filesystem(root_uri)
        self._path = os.path.join(root, ".octopufs_acls.json")

    def _file(self) -> str:
        return self._path

    def _norm(self, path: str) -> str:
        return get_filesystem(path)[1]

    def _read(self) -> tuple[str, dict[str, list[dict]]]:
        """(file text, path → entry-dicts map)."""
        try:
            with open(self._file()) as f:
                text = f.read()
        except FileNotFoundError:
            text = "{}"
        return text, json.loads(text)

    def _edit(self, change) -> None:
        """``change(data)`` edits the path → entry-dicts map in place;
        the file is rewritten only if its content changed."""
        with _LOCK:
            before, data = self._read()
            change(data)
            after = json.dumps(data, indent=0, sort_keys=True)
            if after == before:
                return
            os.makedirs(os.path.dirname(self._file()), exist_ok=True)
            tmp = self._file() + ".tmp"
            with open(tmp, "w") as f:
                f.write(after)
            os.replace(tmp, self._file())

    def _put(self, updates: dict[str, list[FsPermission]], merge: bool) -> None:
        def change(data: dict[str, list[dict]]) -> None:
            for path, entries in updates.items():
                p = self._norm(path)
                if merge:
                    entries = _merged([FsPermission(**d) for d in data.get(p, [])], entries)
                if entries:
                    data[p] = [asdict(e) for e in sorted(entries, key=FsPermission.key)]
                else:
                    data.pop(p, None)

        self._edit(change)

    def get_acl(self, path: str) -> list[FsPermission]:
        return self.get_acls([path])[path]

    def get_acls(self, paths: list[str]) -> dict[str, list[FsPermission]]:
        _, data = self._read()
        return {p: [FsPermission(**d) for d in data.get(self._norm(p), [])] for p in paths}

    def set_acl(self, path: str, entries: list[FsPermission]) -> None:
        self._put({path: entries}, merge=False)

    def modify_acl(self, path: str, entries: list[FsPermission]) -> None:
        self._put({path: entries}, merge=True)

    def apply(
        self, updates: dict[str, list[FsPermission]], merge: bool
    ) -> list[FsOperationResult]:
        def run(batch: list[str]) -> list[FsOperationResult]:
            try:
                self._put({p: updates[p] for p in batch}, merge)
            except OSError:
                return [FsOperationResult(p, False) for p in batch]
            return [FsOperationResult(p, True) for p in batch]

        return retry_failed(run, list(updates), "ACL op")


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


def modify_acls(
    store: AclStore, paths: list[str], permissions: list[FsPermission]
) -> list[FsOperationResult]:
    """Merge entries into many paths, one result per path
    (reference: modifyAcls, acl/AclManager.scala:57-75)."""
    done = {r.path: r for r in store.apply(dict.fromkeys(paths, permissions), merge=True)}
    return [done[p] for p in paths]


def _tree_updates(
    dirs: list[str], files: list[str], permission: FsPermission
) -> dict[str, list[FsPermission]]:
    """ACCESS + DEFAULT on every dir, ACCESS on every file."""
    access = permission.as_access()
    default = FsPermission(permission.scope, permission.permission, DEFAULT, permission.grantee)
    return {**dict.fromkeys(dirs, [access, default]), **dict.fromkeys(files, [access])}


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
    return store.apply(_tree_updates(dirs, files, permission), merge=True)


def modify_table_acl(
    store: AclStore, spark, table: str, permission: FsPermission
) -> list[FsOperationResult]:
    """ACCESS+DEFAULT on the table folder, ACCESS on every file, file
    list taken from the metastore cache (reference: modifyTableAcl,
    acl/AclManager.scala:32-45)."""
    from octopufs_spark import catalog

    loc = catalog.get_table_location(spark, table)
    files = catalog.get_list_of_table_files(spark, table)
    return store.apply(_tree_updates([loc], files, permission), merge=True)


def clear_folder_acl(store: AclStore, folder_uri: str) -> list[FsOperationResult]:
    """removeAcl on the whole tree (reference: clearFolderAcl,
    acl/AclManager.scala:135-142)."""
    elements = list_tree(folder_uri)
    _, root = get_filesystem(folder_uri)
    paths = [root] + [e.path for e in elements]
    return store.apply(dict.fromkeys(paths, []), merge=False)


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
    2. fetch source folder ACLs into a map (one ``get_acls``);
    3. walk target dirs in path-length order (parents first,
       reference sorts by path length :260): a dir whose prefix-swapped
       twin exists in the source takes that ACL, otherwise it inherits
       its parent's resolved ACL;
    4. every folder's ACL is replaced by its resolved one (the
       reference's remove-then-modify);
    5. every file gets its parent folder's DEFAULT entries converted to
       ACCESS scope (reference :297-314, :331-336).
    Folders and files go to the store in one ``apply``.
    """
    _, src_root = get_filesystem(take_from_uri)
    _, trg_root = get_filesystem(apply_to_uri)
    src_elements = list_tree(take_from_uri)
    trg_elements = list_tree(apply_to_uri)

    src_acls = store.get_acls([src_root] + [e.path for e in src_elements if e.is_dir])

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

    updates = dict(resolved)
    for e in trg_elements:
        if not e.is_dir:
            parent = e.path.rsplit("/", 1)[0]
            updates[e.path] = [
                p.as_access() for p in resolved.get(parent, []) if p.level == DEFAULT
            ]
    return store.apply(updates, merge=False)
