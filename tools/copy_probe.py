"""Where a copy batch should run: the driver pool or a Spark job.

``fs.distributed.copy_files`` copies a batch on the driver when its
sources total fewer than ``DRIVER_COPY_BYTES`` and in a Spark job
otherwise. This sweep measures both paths at each (file size, batch
total) point: it writes ``total // size`` files of ``size`` bytes, then
copies them with the limit forced to each side, and reports the median
process-tree CPU (driver, JVM and Python workers; see
``perfbench/trace.py::tree_cpu_s``) and wall time of ``--repeats``
copies after one warm-up copy. The Spark path runs ``--tasks`` tasks
(default: the session's default parallelism), as the benchmark's copies
do. Points with more than ``--max-files`` files are skipped.

Run: python tools/copy_probe.py [--sizes-kb 4,64,1024,4096,20480]
     [--totals-mb 8,32,64,128,256] [--repeats 3]
Prints one JSON line per point. Measured numbers live in SCALE.md
("copies on the driver or in a Spark job").
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from octopufs_spark.fs import distributed  # noqa: E402
from octopufs_spark.fs.model import Paths  # noqa: E402
from perfbench.trace import tree_cpu_s  # noqa: E402

PATHS = {"driver": 1 << 62, "spark": 0}  # DRIVER_COPY_BYTES that forces each path


def _copy_once(spark, pairs: list[Paths], limit: int, tasks: int) -> tuple[float, float]:
    """(process-tree CPU s, wall s) of one ``copy_files`` with the
    driver limit set to ``limit``."""
    saved = distributed.DRIVER_COPY_BYTES
    distributed.DRIVER_COPY_BYTES = limit
    try:
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        results = distributed.copy_files(spark, pairs, tasks)
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
    finally:
        distributed.DRIVER_COPY_BYTES = saved
    assert len(results) == len(pairs) and all(r.success for r in results)
    return cpu, wall


def sweep(
    spark,
    sizes: list[int],
    totals: list[int],
    repeats: int = 3,
    tasks: int | None = None,
    max_files: int = 4096,
    work: str | None = None,
) -> list[dict]:
    """One record per (file size, batch total) point in bytes; each
    holds the median CPU and wall seconds of each path."""
    tasks = tasks or spark.sparkContext.defaultParallelism
    work = tempfile.mkdtemp(prefix="copy_probe_", dir=work)
    out = []
    try:
        for size in sizes:
            for total in totals:
                n = total // size
                if not 1 <= n <= max_files:
                    continue
                src = f"{work}/src"
                os.makedirs(src)
                payload = os.urandom(size)
                for i in range(n):
                    with open(f"{src}/f{i:05d}.bin", "wb") as f:
                        f.write(payload)
                rec: dict = {"file_bytes": size, "files": n, "batch_bytes": n * size}
                for path, limit in PATHS.items():
                    runs = []
                    for r in range(repeats + 1):  # run 0 warms up
                        dst = f"{work}/dst"
                        pairs = [
                            Paths(f"{src}/f{i:05d}.bin", f"{dst}/f{i:05d}.bin") for i in range(n)
                        ]
                        runs.append(_copy_once(spark, pairs, limit, tasks))
                        assert os.path.getsize(f"{dst}/f{n - 1:05d}.bin") == size
                        shutil.rmtree(dst)
                    rec[f"{path}_cpu_s"] = round(statistics.median(c for c, _ in runs[1:]), 3)
                    rec[f"{path}_wall_s"] = round(statistics.median(w for _, w in runs[1:]), 3)
                shutil.rmtree(src)
                out.append(rec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sizes-kb", default="4,64,1024,4096,20480")
    ap.add_argument("--totals-mb", default="8,32,64,128,256")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--tasks", type=int, default=None)
    ap.add_argument("--max-files", type=int, default=4096)
    args = ap.parse_args(argv)

    from octopufs_spark.session import get_spark

    spark = get_spark("copy_probe")
    spark.sparkContext.setLogLevel("ERROR")
    for rec in sweep(
        spark,
        [int(kb) * 1024 for kb in args.sizes_kb.split(",")],
        [int(float(mb) * 1024 * 1024) for mb in args.totals_mb.split(",")],
        args.repeats,
        args.tasks,
        args.max_files,
    ):
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
