"""Probe manifest reads at high file counts (r7 verdict task #7).

``ManifestTable.read`` hands Spark an explicit file list; the driver
pays a per-path cost (py4j string transfer + one file status each),
so a 50k-file snapshot used to spend ~30 s building the plan before
the first task ran — the bottleneck class Delta addresses with
compacted checkpoints. The manifest side is NOT the problem (parsing
a 50k-file manifest JSON takes ~6 ms); the fix here is scan-side:
``_collapse_scan_paths`` substitutes a staging DIRECTORY for its
files whenever the directory's live parquet set equals the snapshot's
subset, handing Spark ~50 dirs instead of 50k paths.

Builds K dirs x M files with pyarrow (no Spark in the build), commits
one append per dir, then times: latest_version, manifest JSON parse,
prune_plan, read() plan build, and a full count. Prints one JSON line.

Run: python tools/filecount_probe.py [n_dirs] [files_per_dir]
Measured on this container (50 x 1000 = 50k files):
  plan build 32.9 s (explicit files) -> 4.5 s (collapsed dirs),
  full read+count 49.5 s -> 23.3 s.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from octopufs_spark.manifest import ManifestTable  # noqa: E402
from octopufs_spark.session import get_spark  # noqa: E402


def main() -> None:
    n_dirs = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    per_dir = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
    root = tempfile.mkdtemp(prefix="filecount_probe_") + "/t"
    os.makedirs(root, exist_ok=True)
    t = ManifestTable(root)
    out: dict = {"n_files": n_dirs * per_dir, "n_dirs": n_dirs}

    tbl = pa.table({"id": pa.array([1], pa.int64()), "v": pa.array([2.0], pa.float64())})
    t0 = time.time()
    for d in range(n_dirs):
        dd = f"{root}/data-{d:04d}"
        os.makedirs(dd, exist_ok=True)
        for i in range(per_dir):
            pq.write_table(tbl, f"{dd}/part-{i:05d}.parquet")
        sub = [f"data-{d:04d}/part-{i:05d}.parquet" for i in range(per_dir)]

        def build(parent, sub=sub):
            return sorted((parent.files if parent else []) + sub)

        t._commit_with_retry(build, "append", None)
    out["build_s"] = round(time.time() - t0, 1)

    t0 = time.time()
    t.latest_version()
    out["latest_version_s"] = round(time.time() - t0, 4)
    t0 = time.time()
    m = t.read_manifest()
    out["manifest_parse_s"] = round(time.time() - t0, 4)
    t0 = time.time()
    t.prune_plan([("id", "=", 1)])
    out["prune_plan_s"] = round(time.time() - t0, 3)

    spark = get_spark("filecount_probe")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    df = t.read(spark)
    out["plan_build_s"] = round(time.time() - t0, 2)
    t0 = time.time()
    out["rows"] = df.count()
    out["count_exec_s"] = round(time.time() - t0, 1)
    # explicit-file baseline: what the read cost before dir collapsing
    t0 = time.time()
    df2 = spark.read.parquet(*[f"{t.root}/{f}" for f in m.files])
    out["plan_build_explicit_s"] = round(time.time() - t0, 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
