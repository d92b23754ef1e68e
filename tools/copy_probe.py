"""Where a batch should run — the driver pool or a Spark job — and what
a catalog sync costs.

``fs.distributed.map_partitions`` runs a batch on the driver when it
moves fewer than ``DRIVER_COPY_BYTES`` and in a Spark job otherwise;
``copy_files`` and compaction both go through it. This sweep measures
both paths at each (file size, batch total) point, for one of two
modes:

- ``copy``: writes ``total // size`` files of ``size`` bytes, then
  copies them with ``copy_files``;
- ``compact``: writes ``total // size`` parquet files of about ``size``
  bytes (one row of incompressible bytes each, no statistics) into
  ``--tasks`` leaf folders of at least 2 files each, then compacts a
  fresh copy of the tree with ``compact.do_it_all`` at a target that
  makes each leaf one output file, so the Spark path runs one task per
  leaf, as the benchmark's compaction does. Before the timed runs, one
  untimed compaction on the driver path reports the driver's peak RSS
  (``VmRSS`` sampled every 5 ms) and its growth over that run; run one
  point per process for a growth figure that earlier points' freed
  memory does not hide.

- ``sync``: builds a table of ``--partitions`` partitions of one row
  each, then times ``catalog.refresh_metadata`` both ways on it: the
  full repair (no partitions named) and the targeted sync, its calls
  alternately dropping one partition and adding it back: the source's
  and the target's halves of a partition move. A point reports each way's median process-tree CPU and
  wall milliseconds per call over ``--repeats`` rounds of ``--calls``
  calls, after ``--calls`` warm-up calls, and the Spark jobs one call
  launches.

Each path is forced by setting the limit to either side. A point
reports the median process-tree CPU (driver, JVM and Python workers;
see ``perfbench/trace.py::tree_cpu_s``) and wall time of ``--repeats``
runs after one warm-up run. The Spark path runs ``--tasks`` tasks
(default: the session's default parallelism). Points with more than
``--max-files`` files are skipped.

Run: python tools/copy_probe.py [--mode copy|compact]
     [--sizes-kb 4,64,1024,4096,20480] [--totals-mb 8,32,64,128,256]
     [--repeats 3]
     python tools/copy_probe.py --mode sync [--partitions 4,40,400]
     [--repeats 3] [--calls 20]
Prints one JSON line per point. Measured numbers live in SCALE.md
("Copies on the driver or in a Spark job", "Catalog sync").
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from octopufs_spark import catalog, compact  # noqa: E402
from octopufs_spark.fs import distributed  # noqa: E402
from octopufs_spark.fs.model import Paths  # noqa: E402
from perfbench.trace import tree_cpu_s  # noqa: E402

PATHS = {"driver": 1 << 62, "spark": 0}  # DRIVER_COPY_BYTES that forces each path


@contextlib.contextmanager
def _limit(limit: int):
    saved = distributed.DRIVER_COPY_BYTES
    distributed.DRIVER_COPY_BYTES = limit
    try:
        yield
    finally:
        distributed.DRIVER_COPY_BYTES = saved


def _timed(fn):
    """(``fn()``, process-tree CPU s, wall s)."""
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    out = fn()
    return out, tree_cpu_s() - cpu0, time.perf_counter() - t0


def _rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    return 0.0


@contextlib.contextmanager
def _peak_rss(out: list[float]):
    """Samples this process's RSS every 5 ms while the block runs and
    appends the highest sample and its growth over the first, in MiB,
    to ``out``."""
    start = _rss_mb()
    peak, done = [start], threading.Event()

    def sample():
        while not done.wait(0.005):
            peak[0] = max(peak[0], _rss_mb())

    t = threading.Thread(target=sample, daemon=True)
    t.start()
    try:
        yield
    finally:
        done.set()
        t.join()
        top = max(peak[0], _rss_mb())
        out.extend((top, top - start))


def _write_copy_inputs(src: str, size: int, n: int) -> None:
    payload = os.urandom(size)
    for i in range(n):
        with open(f"{src}/f{i:05d}.bin", "wb") as f:
            f.write(payload)


def _write_parquet_inputs(src: str, size: int, n: int, leaves: int) -> None:
    for i in range(n):
        leaf = f"{src}/p={i % leaves}"
        os.makedirs(leaf, exist_ok=True)
        table = pa.table({"id": [i], "payload": [os.urandom(size)]})
        # statistics would hold the payload twice more, as min and max
        pq.write_table(table, f"{leaf}/part-{i:05d}.parquet", write_statistics=False)


def _copy_runs(spark, work: str, src: str, size: int, n: int, tasks: int, repeats: int):
    """One (CPU s, wall s) per copy of the ``n`` files of ``src``."""
    runs = []
    for _ in range(repeats + 1):  # run 0 warms up
        dst = f"{work}/dst"
        pairs = [Paths(f"{src}/f{i:05d}.bin", f"{dst}/f{i:05d}.bin") for i in range(n)]
        results, cpu, wall = _timed(lambda: distributed.copy_files(spark, pairs, tasks))
        runs.append((cpu, wall))
        assert len(results) == n and all(r.success for r in results)
        assert os.path.getsize(f"{dst}/f{n - 1:05d}.bin") == size
        shutil.rmtree(dst)
    return runs


def _compact_runs(spark, work: str, src: str, total: int, leaves: int, repeats: int):
    """One (CPU s, wall s) per compaction of a fresh copy of ``src``."""
    target_mb = total // 2**20 + 1  # above any leaf's bytes: one output per leaf
    runs = []
    for _ in range(repeats + 1):  # run 0 warms up
        dst = f"{work}/dst"
        shutil.copytree(src, dst)
        rewritten, cpu, wall = _timed(lambda: compact.do_it_all(spark, [dst], target_mb))
        runs.append((cpu, wall))
        assert rewritten == leaves
        shutil.rmtree(dst)
    return runs


def sweep(
    spark,
    sizes: list[int],
    totals: list[int],
    repeats: int = 3,
    tasks: int | None = None,
    max_files: int = 4096,
    work: str | None = None,
    mode: str = "copy",
):
    """Yields one record per (file size, batch total) point in bytes;
    each holds the median CPU and wall seconds of each path, and in
    ``compact`` mode the driver path's peak RSS and its growth."""
    tasks = tasks or spark.sparkContext.defaultParallelism
    work = tempfile.mkdtemp(prefix="copy_probe_", dir=work)
    try:
        for size in sizes:
            for total in totals:
                n = total // size
                if not (1 if mode == "copy" else 2) <= n <= max_files:
                    continue
                src = f"{work}/src"
                os.makedirs(src)
                leaves = min(tasks, n // 2)  # a leaf of one file is left as it is
                if mode == "copy":
                    _write_copy_inputs(src, size, n)
                else:
                    _write_parquet_inputs(src, size, n, leaves)
                batch = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(src) for f in fs)
                rec: dict = {"mode": mode, "file_bytes": size, "files": n, "batch_bytes": batch}
                for path, limit in PATHS.items():
                    with _limit(limit):
                        if mode == "copy":
                            runs = _copy_runs(spark, work, src, size, n, tasks, repeats)
                        else:
                            if path == "driver":
                                rss: list[float] = []
                                with _peak_rss(rss):  # untimed: sampling costs CPU
                                    _compact_runs(spark, work, src, total, leaves, 0)
                                rec["driver_peak_rss_mb"] = round(rss[0], 1)
                                rec["driver_rss_growth_mb"] = round(rss[1], 1)
                            runs = _compact_runs(spark, work, src, total, leaves, repeats)
                    rec[f"{path}_cpu_s"] = round(statistics.median(c for c, _ in runs[1:]), 3)
                    rec[f"{path}_wall_s"] = round(statistics.median(w for _, w in runs[1:]), 3)
                shutil.rmtree(src)
                yield rec
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _per_call(fn, calls: int) -> tuple[float, float]:
    """(process-tree CPU ms, wall ms) per call of ``fn`` over ``calls``
    calls: one call is below the CPU clock's 10 ms resolution."""
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    for _ in range(calls):
        fn()
    return (tree_cpu_s() - cpu0) * 1000 / calls, (time.perf_counter() - t0) * 1000 / calls


def _jobs(spark, fn) -> int:
    """The Spark jobs one ``fn()`` launches."""
    sc, group = spark.sparkContext, f"copy_probe_{time.monotonic_ns()}"
    sc.setJobGroup(group, "counted")
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def sync_sweep(
    spark, partitions: list[int], repeats: int = 3, calls: int = 20, work: str | None = None
):
    """Yields one record per partition count: the full repair's and the
    targeted sync's CPU and wall milliseconds per ``refresh_metadata``
    call (medians of ``repeats`` rounds), and the Spark jobs of one."""
    table = "copy_probe_sync"
    work = tempfile.mkdtemp(prefix="copy_probe_", dir=work)
    try:
        for n in partitions:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            spark.sql(
                f"CREATE TABLE {table} (id BIGINT, p STRING) USING parquet "
                f"PARTITIONED BY (p) LOCATION '{work}/t{n}'"
            )
            rows = spark.range(n).selectExpr("id", "lpad(cast(id as string), 4, '0') AS p")
            rows.write.insertInto(table)
            meta = catalog.catalog_table(spark, table)
            folder = catalog.get_table_l1_partition_paths(spark, table, meta)[0]
            ways = {
                "full": lambda: catalog.refresh_metadata(spark, table, meta=meta),  # noqa: B023
                "sync": lambda: catalog.refresh_metadata(
                    spark, table, meta=meta, **next(turns)  # noqa: B023
                ),
            }
            turns = itertools.cycle(({"dropped": [folder]}, {"added": [folder]}))
            rec: dict = {"mode": "sync", "partitions": n}
            for way, fn in ways.items():
                _per_call(fn, calls)  # warm-up
                runs = [_per_call(fn, calls) for _ in range(repeats)]
                rec[f"{way}_cpu_ms"] = round(statistics.median(c for c, _ in runs), 2)
                rec[f"{way}_wall_ms"] = round(statistics.median(w for _, w in runs), 2)
                rec[f"{way}_jobs"] = _jobs(spark, fn)
            catalog.refresh_metadata(spark, table, added=[folder], meta=meta)  # if last dropped
            assert len(spark.sql(f"SHOW PARTITIONS {table}").collect()) == n
            spark.sql(f"DROP TABLE {table}")
            yield rec
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--mode", choices=("copy", "compact", "sync"), default="copy")
    ap.add_argument("--sizes-kb", default="4,64,1024,4096,20480")
    ap.add_argument("--totals-mb", default="8,32,64,128,256")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--tasks", type=int, default=None)
    ap.add_argument("--max-files", type=int, default=4096)
    ap.add_argument("--partitions", default="4,40,400")
    ap.add_argument("--calls", type=int, default=20)
    args = ap.parse_args(argv)

    from octopufs_spark.session import get_spark

    spark = get_spark("copy_probe")
    spark.sparkContext.setLogLevel("ERROR")
    if args.mode == "sync":
        partitions = [int(n) for n in args.partitions.split(",")]
        for rec in sync_sweep(spark, partitions, args.repeats, args.calls):
            print(json.dumps(rec), flush=True)
        return
    for rec in sweep(
        spark,
        [int(kb) * 1024 for kb in args.sizes_kb.split(",")],
        [int(float(mb) * 1024 * 1024) for mb in args.totals_mb.split(",")],
        args.repeats,
        args.tasks,
        args.max_files,
        mode=args.mode,
    ):
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
