"""Outside-in tracing: spans around calls into the library's public
functions, plus process-level counters (JVM status store, peak RSS).

Nothing is patched inside a function body. ``Tracer.install`` replaces
each listed function with a timing wrapper at EVERY module that bound
it — ``promotor`` imports ``copy_files`` by name, ``fs.delta`` and
``catalog`` import ``list_tree`` — so calls through a re-bound name are
traced too. Spans stay in memory; ``summary`` derives per-name call
counts, inclusive time and per-layer self time once, at the end.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import sys
import threading
import time
from collections import defaultdict

from octopufs_spark.acl import AclStore

# layer -> (module, public functions or "Class.method" names)
TRACED: dict[str, tuple[str, tuple[str, ...]]] = {
    "session": ("octopufs_spark.session", ("get_spark",)),
    "fs.core": ("octopufs_spark.fs.core", ("list_tree", "get_size", "copy_single_file")),
    "fs.local": (
        "octopufs_spark.fs.local",
        ("move_paths", "delete_paths", "delete_folder", "move_folder_content"),
    ),
    "fs.distributed": ("octopufs_spark.fs.distributed", ("copy_files", "copy_folder")),
    "fs.delta": ("octopufs_spark.fs.delta", ("get_delta", "synchronize")),
    "acl": (
        "octopufs_spark.acl",
        ("modify_folder_acl", "synchronize_acls", "modify_acls", "clear_folder_acl"),
    ),
    "compact": (
        "octopufs_spark.compact",
        ("do_it_all", "do_partition_coalesce", "do_auto_coalesce", "get_lowest_folders"),
    ),
    "catalog": (
        "octopufs_spark.catalog",
        (
            "refresh_metadata",
            "filter_partitions",
            "get_table_location",
            "validate_compatibility",
            "get_files_only_of_folders",
        ),
    ),
    "promotor": (
        "octopufs_spark.promotor",
        (
            "copy_overwrite_partitions",
            "copy_table_partitions",
            "delete_table_partitions",
            "move_table_partitions",
            "move_folders",
        ),
    ),
    "manifest": (
        "octopufs_spark.manifest",
        (
            "write_and_commit",
            "compact_and_commit",
            "ManifestTable.read",
            "ManifestTable.read_pruned",
            "ManifestTable.prune_plan",
            "ManifestTable.vacuum",
        ),
    ),
    "merge": ("octopufs_spark.merge", ("merge_upsert_manifest", "delete_where_mor")),
}
LAYERS = (
    "session", "fs.core", "fs.local", "fs.distributed", "fs.delta", "acl", "compact",
    "catalog", "promotor", "manifest", "merge", "queries", "llm",
)  # fmt: skip


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every method a
    cheap no-op so the untraced run shares the code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[int, int, str, float, float]] = []  # id, parent, name, t0, t1
        self.counts: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._ids = iter(range(1, 1 << 62))
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._hooks: dict[str, object] = {}
        self._count_lock = threading.Lock()
        self.stats = None  # SparkStats of the live session, for hooks

    def reset(self) -> None:
        self.spans.clear()
        self.counts.clear()
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def paused(self):
        """No spans or counts inside: the benchmark's own checks."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    # ---- spans ----
    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _parent(self, stack: list[int]) -> int:
        # a library thread pool's worker has no open span of its own:
        # attribute its calls to the innermost span open on the caller
        if stack:
            return stack[-1]
        return self._main_stack[-1] if self._main_stack else 0

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name`` (with its hook)."""
        if not self.enabled:
            return fn(*args, **kwargs)
        before, after = self._hooks.get(name, (None, None))
        stack = self._stack()
        sid = next(self._ids)
        parent = self._parent(stack)
        state = None
        if before is not None:
            h0 = time.perf_counter()
            state = before(self, args)
            self._add_overhead(time.perf_counter() - h0)
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append((sid, parent, name, t0, t1))
        if after is not None:
            after(self, state, args, result)
            self._add_overhead(time.perf_counter() - t1)
        return result

    def _add_overhead(self, seconds: float) -> None:
        with self._count_lock:
            self.overhead_s += seconds

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            with self._count_lock:
                self.counts[name] += value

    def hook(self, name: str, before=None, after=None) -> None:
        """Count at a span's boundary: ``before(tracer, args)`` returns a
        state for ``after(tracer, state, args, result)``. Both run
        outside the span and count as tracing overhead."""
        self._hooks[name] = (before, after)

    # ---- patching ----
    def install(self) -> None:
        """Wrap every TRACED function at its definition and at every
        module under ``octopufs_spark`` that imported it by name."""
        if not self.enabled:
            return
        wrappers: dict[int, tuple[object, object]] = {}
        for layer, (modname, names) in TRACED.items():
            mod = importlib.import_module(modname)
            for qual in names:
                if "." in qual:
                    cls_name, meth = qual.split(".")
                    cls = getattr(mod, cls_name)
                    setattr(cls, meth, self._wrapper(f"{layer}.{meth}", getattr(cls, meth)))
                    continue
                orig = getattr(mod, qual)
                wrappers[id(orig)] = (orig, self._wrapper(f"{layer}.{qual}", orig))
        for modname, mod in list(sys.modules.items()):
            if not (modname.startswith("octopufs_spark") and mod is not None):
                continue
            for attr, val in list(vars(mod).items()):
                hit = wrappers.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])

    def _wrapper(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return traced

    # ---- analysis ----
    def summary(self) -> dict[str, dict[str, float]]:
        """{span name: {calls, s}} with inclusive time summed over calls,
        plus ``layer:<layer>: {self_s}`` — the wall time during which
        some span of the layer ran outside all of its child spans
        (concurrent spans of a library thread pool count once)."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for _sid, parent, _name, t0, t1 in self.spans:
            children[parent].append((t0, t1))
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        own: dict[str, list[tuple[float, float]]] = defaultdict(list)
        for sid, _parent, name, t0, t1 in self.spans:
            out[name]["calls"] += 1
            out[name]["s"] += t1 - t0
            lo = t0
            for a, b in _merged(children.get(sid, ())):
                if a > lo:
                    own[layer_of(name)].append((lo, min(a, t1)))
                lo = max(lo, b)
            if lo < t1:
                own[layer_of(name)].append((lo, t1))
        for layer, intervals in own.items():
            out["layer:" + layer]["self_s"] = sum(b - a for a, b in _merged(intervals))
        return out


def layer_of(span_name: str) -> str:
    for layer in sorted(LAYERS, key=len, reverse=True):
        if span_name.startswith(layer + "."):
            return layer
    return span_name.split(".", 1)[0]


def _merged(intervals) -> list[tuple[float, float]]:
    """Sorted union of intervals."""
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


class SparkStats:
    """Cumulative counters of the JVM AppStatusStore, read through py4j
    the way bench.py's ``StageMetrics`` does: stages come newest-first,
    so a delta walks only the stages newer than its mark."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._jvm = spark._jvm
        self._gw = sc._gateway

    def mark(self) -> tuple[int, int]:
        stages = self._stages()
        top_stage = stages.apply(0).stageId() if stages.size() > 0 else -1
        return top_stage, self._top_job()

    def _top_job(self) -> int:
        ids = self._sc.statusTracker().getJobIdsForGroup()
        return max(ids) if ids else -1

    def _stages(self):
        return self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(self._jvm.double, 0), self._jvm.java.util.ArrayList(),
        )  # fmt: skip

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        """Totals over stages and jobs started after ``mark``."""
        out = dict.fromkeys(
            ("jobs", "tasks", "shuffle_write_bytes", "input_bytes", "executor_run_s", "gc_s"), 0.0
        )
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= mark[0]:
                break
            out["tasks"] += s.numTasks()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["input_bytes"] += s.inputBytes()
            out["executor_run_s"] += s.executorRunTime() / 1000.0
            out["gc_s"] += s.jvmGcTime() / 1000.0
        out["jobs"] = float(self._top_job() - mark[1])
        return out

    def jvm_pid(self) -> int:
        return int(self._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mib(pids: list[int]) -> float:
    """Sum of the processes' peak resident set sizes (VmHWM), MiB."""
    total_kib = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kib += int(line.split()[1])
        except OSError:
            pass
    return total_kib / 1024.0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads (names cut to 15 characters by the kernel)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(command, fields after it) of a /proc stat file."""
    try:
        with open(path) as f:
            text = f.read()
    except OSError:
        return None
    head, tail = text.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def _cpu_ticks(fields: list[str], reaped: bool) -> int:
    # after the command: state, ppid, ..., utime, stime, cutime, cstime
    return sum(int(x) for x in fields[11 : 15 if reaped else 13])


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by process ``root`` (this
    one by default) and every descendant, live or reaped: the driver,
    the Spark JVM and its Python workers. The JVM's JIT compiler
    threads are left out: they burn CPU while a fresh JVM warms up and
    idle in a long-lived one, and when their bursts land varies from
    run to run."""
    stat: dict[int, tuple[int, str, float]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(f"/proc/{name}/stat")) is not None:
            comm, fields = st
            stat[int(name)] = (int(fields[1]), comm, _cpu_ticks(fields, True) * _TICK_S)
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _comm, _cpu) in stat.items():
        kids[ppid].append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in stat:
            _ppid, comm, cpu = stat[pid]
            total += cpu - (_jit_s(pid) if comm == "java" else 0.0)
        todo.extend(kids.get(pid, ()))
    return total


def _jit_s(pid: int) -> float:
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        st = _stat(f"/proc/{pid}/task/{tid}/stat")
        if st is not None and st[0].startswith(JIT_THREADS):
            ticks += _cpu_ticks(st[1], False)
    return ticks * _TICK_S


def host_cpu() -> list[int]:
    """Cumulative host CPU jiffies from /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_noise(before: list[int], after: list[int]) -> dict[str, float]:
    """Shares of host CPU time spent in iowait and stolen by the
    hypervisor between two ``host_cpu`` samples: noise the run did not
    cause."""
    d = [b - a for a, b in zip(before, after)]
    total = max(1, sum(d))
    return {"host_iowait_pct": 100.0 * d[4] / total, "host_steal_pct": 100.0 * d[7] / total}


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                pass
    return total


# ---------------- counters recorded at layer boundaries ----------------


def _local_path(u: str) -> str:
    return "/" + u.split(":", 1)[1].lstrip("/") if ":" in u else u


def _files_under(uris) -> int:
    n = 0
    for u in uris:
        for _dirpath, _dirs, files in os.walk(_local_path(u)):
            n += sum(1 for f in files if not f.startswith((".", "_")))
    return n


def _head_files(table) -> set[str]:
    try:
        return set(table.read_manifest().files)
    except (FileNotFoundError, ValueError):
        return set()


def _copy_files_after(tr, mark, args, result):
    paths = args[1]
    tr.count("fs.distributed.copy_files.files", len(paths))
    tr.count(
        "fs.distributed.copy_files.bytes",
        sum(os.path.getsize(_local_path(p.source_path)) for p in paths),
    )
    spark = tr.stats.since(mark)
    tr.count("fs.distributed.copy_files.tasks", spark["tasks"])
    tr.count("fs.distributed.copy_files.executor_run_s", spark["executor_run_s"])


def _get_delta_after(tr, mark, args, result):
    tr.count("fs.delta.get_delta.spark_jobs", tr.stats.since(mark)["jobs"])
    tr.count("fs.delta.diff_entries", len(result[0]) + len(result[1]))


def _new_bytes_after(counter):
    def after(tr, before, args, result):
        table = args[1]
        new = _head_files(table) - before
        tr.count(counter, sum(os.path.getsize(f"{table.root_path}/{f}") for f in new))

    return after


def install_hooks(tr: Tracer) -> None:
    mark = lambda tr, a: tr.stats.mark()  # noqa: E731
    # the table is the second argument of both write_and_commit and merge_upsert_manifest
    head = lambda tr, a: _head_files(a[1])  # noqa: E731
    count_arg = lambda name: lambda tr, s, a, r: tr.count(name, len(a[0]))  # noqa: E731
    count_result = lambda name: lambda tr, s, a, r: tr.count(name, len(r))  # noqa: E731
    tr.hook("fs.core.list_tree", after=count_result("fs.core.list_tree.entries"))
    tr.hook("fs.distributed.copy_files", mark, _copy_files_after)
    tr.hook("fs.local.move_paths", after=count_arg("fs.local.move_paths.paths"))
    tr.hook("fs.local.delete_paths", after=count_arg("fs.local.delete_paths.paths"))
    tr.hook("fs.delta.get_delta", mark, _get_delta_after)
    tr.hook("acl.modify_folder_acl", after=count_result("acl.paths"))
    tr.hook("acl.synchronize_acls", after=count_result("acl.paths"))

    def compact_after(tr, files_in, args, result):
        tr.count("compact.folders_rewritten", result)
        tr.count("compact.files_in", files_in)
        tr.count("compact.files_out", _files_under(args[1]))

    tr.hook("compact.do_it_all", lambda tr, a: _files_under(a[1]), compact_after)

    def prune_after(tr, state, args, result):
        keep, skipped = result
        tr.count("manifest.prune.files_kept", len(keep))
        tr.count("manifest.prune.files_skipped", skipped)

    tr.hook("manifest.prune_plan", after=prune_after)
    tr.hook("manifest.write_and_commit", head, _new_bytes_after("manifest.append_bytes"))
    tr.hook("merge.merge_upsert_manifest", head, _new_bytes_after("merge.bytes_rewritten"))


class CountingAclStore(AclStore):
    """Delegating ``AclStore`` that counts calls, time in the store and
    the bytes its sidecar file is rewritten with."""

    def __init__(self, inner, tracer: Tracer, sidecar: str):
        self._inner, self._tr, self._sidecar = inner, tracer, sidecar

    def _do(self, fn, *args, writes: bool):
        t0 = time.perf_counter()
        result = fn(*args)
        self._tr.count("acl.store_calls")
        self._tr.count("acl.store_s", time.perf_counter() - t0)
        if writes:
            self._tr.count("acl.store_bytes_written", os.path.getsize(self._sidecar))
        return result

    def get_acl(self, path):
        return self._do(self._inner.get_acl, path, writes=False)

    def set_acl(self, path, entries):
        return self._do(self._inner.set_acl, path, entries, writes=True)

    def modify_acl(self, path, entries):
        return self._do(self._inner.modify_acl, path, entries, writes=True)

    def remove_acl(self, path):
        return self._do(self._inner.remove_acl, path, writes=True)
