"""Benchmark entry point: one workload, one closed-loop run.

    python3 perfbench/run.py --workload small_files --seed 1 --seconds 10 --trace 0

Builds the workload's seeded inputs under ``.perfbench_scratch/`` in
the checkout (set-up: Spark session start, fixtures, warm-up cycles;
timed as ``setup_s``), then runs a fixed number of cycles, one per
``CYCLE_S`` of ``--seconds`` and at least two, checking every output. The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics of the outside-in traced run with ``--trace 1``.
The line before it is an informational report (wall-clock cycle and
per-op latencies with sample counts and tails, set-up phases,
workload-specific figures); see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import compileall
import contextlib
import json
import math
import os
import shutil
import sys
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HARD_CAP_S = 150.0  # stop measuring early rather than overrun the run's time limit
CYCLE_S = 5.0  # nominal seconds per measured cycle on a 4-CPU host


def isolate(scratch: str) -> dict[str, str]:
    """Point every temp/scratch location of Spark and the library at
    ``scratch``; returns the Spark conf that finishes the job."""
    for sub in ("tmp", "spark-local", "warehouse", "mockfs"):
        os.makedirs(f"{scratch}/{sub}", exist_ok=True)
    # Spark's Python workers import the library: put the checkout on
    # their path, or every distributed-copy task fails on import
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = f"{scratch}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{scratch}/spark-local"
    os.environ["OCTOPUFS_MOCKFS_ROOT"] = f"{scratch}/mockfs"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    import tempfile

    tempfile.tempdir = None
    return {
        "spark.sql.warehouse.dir": f"{scratch}/warehouse",
        "spark.local.dir": f"{scratch}/spark-local",
        # a fixed-size heap keeps the JVM's resident set from tracking
        # when the collector happens to grow it; no hsperfdata file in
        # /tmp; JIT compiler threads that live as long as the JVM, so
        # their CPU never folds into the process total (see tree_cpu_s)
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={scratch}/tmp -Xms1g -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


class Ctx:
    """What a workload needs from the run: session, tracer, seed."""

    def __init__(self, seed: int, tracer, slots: int):
        self.seed, self.tracer, self.slots = seed, tracer, slots
        self.spark = None
        self.stats = None
        self.untimed_s = 0.0

    @contextlib.contextmanager
    def untimed(self):
        """Time spent inside is left out of ``setup_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t0

    def acl_store(self, root_uri: str):
        """(store the workload calls the library with, plain store for
        the benchmark's own checks)."""
        from octopufs_spark.acl import SidecarAclStore
        from perfbench.trace import CountingAclStore

        store = SidecarAclStore(root_uri)
        if not self.tracer.enabled:
            return store, store
        sidecar = os.path.join(root_uri[len("file://"):], ".octopufs_acls.json")
        return CountingAclStore(store, self.tracer, sidecar), store


def shutdown(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def run(args, scratch: str) -> tuple[dict, dict]:
    from octopufs_spark import session
    from perfbench import trace, workloads

    conf = isolate(scratch)
    slots = len(os.sched_getaffinity(0))
    tracer = trace.Tracer(enabled=bool(args.trace))
    tracer.install()
    trace.install_hooks(tracer)
    ctx = Ctx(args.seed, tracer, slots)
    wl = workloads.WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    ctx.spark = session.get_spark(
        "perfbench", master=f"local[{slots}]", shuffle_partitions=slots, extra_conf=conf
    )
    ctx.spark.sparkContext.setLogLevel("ERROR")
    t_spark = time.perf_counter()
    ctx.stats = tracer.stats = trace.SparkStats(ctx.spark)
    wl.setup(ctx, f"{scratch}/work")
    t_inputs, untimed_inputs = time.perf_counter(), ctx.untimed_s
    warm = wl.warmup()
    setup_s = time.perf_counter() - t0 - ctx.untimed_s
    phases = {
        "spark_s": t_spark - t0,
        "inputs_s": t_inputs - t_spark - untimed_inputs,
        "warmup_s": setup_s - (t_inputs - t0 - untimed_inputs),
    }
    get_spark = tracer.summary().get("session.get_spark", {})
    tracer.reset()

    cycles = []
    mark = ctx.stats.mark()
    cpu0 = trace.host_cpu()
    t_start = time.perf_counter()
    error = None
    # a fixed amount of work, whatever the host's speed: one cycle per
    # CYCLE_S of --seconds, at least two
    n_cycles = max(2, math.ceil(args.seconds / CYCLE_S))
    while len(cycles) < n_cycles and time.perf_counter() - t0 < HARD_CAP_S:
        try:
            cycles.append(wl.cycle(len(warm) + len(cycles)))
        except Exception as e:  # a failed library call ends the run
            error = e
            print(f"perfbench: {args.workload} cycle failed: {e!r}", file=sys.stderr)
            break
    wall = time.perf_counter() - t_start
    attempted = sum(c.attempted for c in warm + cycles) + (1 if error else 0)
    failed = sum(c.failed for c in warm + cycles) + (1 if error else 0)
    pids = [os.getpid(), ctx.stats.jvm_pid()]
    if not cycles:
        raise RuntimeError(f"no cycle completed: {error!r}")

    cycle_s = workloads.cycle_estimate(cycles)
    cycle_cpu_s = workloads.cycle_estimate(cycles, "cpu")
    report = {
        "workload": args.workload,
        "cycles": len(cycles),
        "wall_s": wall,
        "setup": phases,
        "cycle_s": [c.s for c in cycles],
        "cycle_p50_s": cycle_s,
        "ops_per_s": median([c.ops for c in cycles]) / cycle_s,
        "mb_per_s": median([c.bytes for c in cycles]) / cycle_s / 2**20,
        "failed_ratio": failed / max(1, attempted),
        **trace.host_noise(cpu0, trace.host_cpu()),
        **wl.report(cycles),
        **latency_report(cycles),
    }
    if args.trace:
        metrics = per_layer(tracer, ctx.stats.since(mark), cycles, get_spark, wall, slots, report)
        metrics["trace.cycle_p50_s"] = (cycle_s, "s")
        metrics["trace.cycle_cpu_s"] = (cycle_cpu_s, "s")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "cycle_cpu_s": (cycle_cpu_s, "s"),
            "peak_rss_mb": (trace.peak_rss_mib(pids), "MiB"),
        }
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    return report, out


def latency_report(cycles) -> dict:
    """``<op>_p50_s`` per timed op: median, sample count, median CPU
    seconds, and the highest percentile with at least ten samples
    beyond it."""
    lat: dict[str, list[float]] = {}
    cpu: dict[str, list[float]] = {}
    for c in cycles:
        for op, ts in c.lat.items():
            lat.setdefault(op, []).extend(ts)
            cpu.setdefault(op, []).extend(c.cpu[op])
    out = {}
    for op, ts in sorted(lat.items()):
        s = sorted(ts)
        rec = {"value": s[len(s) // 2], "samples": len(s), "cpu_s": median(cpu[op])}
        for p in (99.9, 99, 95, 90, 75, 50):
            if len(s) * (100 - p) / 100 >= 10:
                rec[f"p{p:g}"] = s[min(len(s) - 1, int(len(s) * p / 100))]
                break
        out[f"{op}_p50_s"] = rec
    return out


def per_layer(tracer, spark_delta, cycles, get_spark, wall, slots, report) -> dict:
    """The per-layer metrics, normalised per measured cycle."""
    from perfbench.trace import LAYERS
    from perfbench.workloads import LLM, RELATIONAL

    n = len(cycles)
    summ = tracer.summary()
    cnt = tracer.counts

    def span(name, field="s"):
        return summ.get(name, {}).get(field, 0.0) / n

    def ratio(a, b):
        return a / b if b else 0.0

    m = {
        "session.get_spark.s": (get_spark.get("s", 0.0) / max(1, get_spark.get("calls", 0)), "s"),
    }
    ops = sum(c.ops for c in cycles)
    for k, unit in (("jobs", "count"), ("tasks", "count"), ("shuffle_write_bytes", "B"),
                    ("executor_run_s", "s"), ("gc_s", "s")):  # fmt: skip
        m[f"session.spark.{k}"] = (spark_delta[k] / ops, unit + "/op")
    for name, fields in (
        ("fs.core.list_tree", ("calls", "s")),
        ("fs.distributed.copy_files", ("calls", "s")),
        ("fs.local.move_paths", ("calls", "s")),
        ("fs.local.delete_paths", ("calls", "s")),
        ("fs.delta.get_delta", ("s",)),
        ("acl.synchronize_acls", ("s",)),
        ("acl.modify_folder_acl", ("s",)),
        ("compact.do_it_all", ("s",)),
        ("catalog.refresh_metadata", ("calls", "s")),
        ("promotor.copy_overwrite_partitions", ("s",)),
        ("promotor.move_table_partitions", ("s",)),
        ("manifest.write_and_commit", ("s",)),
        ("manifest.compact_and_commit", ("s",)),
        ("manifest.vacuum", ("s",)),
        ("merge.merge_upsert_manifest", ("s",)),
    ):
        for f in fields:
            m[f"{name}.{f}"] = (span(name, f), "s" if f == "s" else "count")
    for name, unit in (
        ("fs.core.list_tree.entries", "count"),
        ("fs.distributed.copy_files.files", "count"),
        ("fs.distributed.copy_files.bytes", "B"),
        ("fs.local.move_paths.paths", "count"),
        ("fs.local.delete_paths.paths", "count"),
        ("fs.delta.get_delta.spark_jobs", "count"),
        ("fs.delta.diff_entries", "count"),
        ("acl.paths", "count"),
        ("acl.store_calls", "count"),
        ("acl.store_s", "s"),
        ("acl.store_bytes_written", "B"),
        ("compact.folders_rewritten", "count"),
        ("compact.files_in", "count"),
        ("compact.files_out", "count"),
    ):
        m[name] = (cnt.get(name, 0.0) / n, unit)
    copy_s = summ.get("fs.distributed.copy_files", {}).get("s", 0.0)
    m["fs.distributed.spark_tasks_per_file"] = (
        ratio(cnt.get("fs.distributed.copy_files.tasks", 0.0), cnt.get("fs.distributed.copy_files.files", 0.0)),
        "ratio",
    )
    m["fs.distributed.executor_busy_ratio"] = (
        ratio(cnt.get("fs.distributed.copy_files.executor_run_s", 0.0), slots * copy_s), "ratio"
    )
    m["manifest.read.plan_s"] = (span("manifest.read_pruned"), "s")
    m["manifest.read.exec_s"] = (span("manifest.read.exec"), "s")
    kept, skipped = cnt.get("manifest.prune.files_kept", 0.0), cnt.get("manifest.prune.files_skipped", 0.0)
    m["manifest.prune.files_scanned_ratio"] = (ratio(kept, kept + skipped), "ratio")
    m["manifest.write_amp"] = (
        ratio(cnt.get("manifest.bytes_written", 0.0), cnt.get("manifest.append_bytes", 0.0)), "ratio"
    )
    m["manifest.snapshot_files"] = (report.get("snapshot_files", 0), "count")
    m["merge.bytes_rewritten_per_changed_row"] = (
        ratio(cnt.get("merge.bytes_rewritten", 0.0), cnt.get("merge.changed_rows", 0.0)), "B/row"
    )
    for q in RELATIONAL:
        m[f"queries.{q}.s"] = (span(f"queries.{q}") + span(f"queries.{q}.exec"), "s")
    for q in LLM:
        m[f"llm.{q}.s"] = (span(f"llm.{q}") + span(f"llm.{q}.exec"), "s")
    for layer in LAYERS:
        m[f"{layer}.self_s"] = (span("layer:" + layer, "self_s"), "s")
    m["trace.overhead_s"] = (tracer.overhead_s / n, "s")
    m["trace.overhead_ratio"] = (ratio(tracer.overhead_s, wall), "ratio")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "octopufs_spark", "__init__.py")):
        print(f"perfbench: no octopufs_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # the build step: byte-compile the checkout once, so the first run in
    # a fresh checkout does not pay it inside set-up and the Python workers
    for pkg in ("octopufs_spark", "tools", "perfbench"):
        compileall.compile_dir(os.path.join(ROOT, pkg), quiet=1)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    scratch = os.path.join(ROOT, ".perfbench_scratch", f"{args.workload}-{os.getpid()}")
    try:
        report, out = run(args, scratch)
    finally:
        try:
            from pyspark.sql import SparkSession

            shutdown(SparkSession.getActiveSession())
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(scratch))
            except OSError:
                pass
    print(json.dumps(report))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
