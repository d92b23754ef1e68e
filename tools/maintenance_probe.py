"""Probe the manifest-table maintenance paths' scaling properties.

Measures, on a synthetic partitioned table:
  1. scoped OPTIMIZE (one partition) vs full-table compaction — the
     scoped rewrite must cost ~1/P of the full one (it reads one
     partition's bytes, the rest of the table is untouched metadata);
  2. auto_optimize wall time over many partitions (per-partition
     commits, incremental progress);
  3. delete-vector consolidation time vs vector count (k tiny scans).

Prints one JSON line. Run: python tools/maintenance_probe.py [rows] [parts]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

from octopufs_spark.manifest import (  # noqa: E402
    ManifestTable,
    auto_optimize,
    compact_and_commit,
    write_and_commit,
)
from octopufs_spark.merge import consolidate_delete_vectors, delete_where_mor  # noqa: E402
from octopufs_spark.session import get_spark  # noqa: E402


def probe(spark, rows: int, parts: int, work: str | None = None) -> dict:
    """One measurement over tables of ``rows`` rows in ``parts``
    partitions, built in a temporary directory under ``work`` that is
    removed afterwards."""
    work = tempfile.mkdtemp(prefix="maint_probe_", dir=work)

    def seed(root: str) -> ManifestTable:
        t = ManifestTable(root)
        df = spark.range(0, rows).select(
            F.col("id"),
            (F.col("id") % parts).cast("int").alias("p"),
            (F.col("id") * 31 % 997).alias("v"),
        )
        # several commits so partitions fragment across staging dirs
        for k in range(4):
            write_and_commit(
                df.where(F.col("id") % 4 == k).repartition(4),
                t,
                mode="append" if k else "overwrite",
                partition_by=["p"],
            )
        return t

    out: dict = {"rows": rows, "partitions": parts}
    try:
        # 1. scoped vs full compaction
        t1 = seed(f"{work}/scoped")
        out["files_before"] = len(t1.read_manifest().files)
        t0 = time.perf_counter()
        compact_and_commit(spark, t1, 512 << 20, partition_values={"p": "3"})
        out["scoped_one_partition_sec"] = round(time.perf_counter() - t0, 2)
        t2 = seed(f"{work}/full")
        t0 = time.perf_counter()
        compact_and_commit(spark, t2, 512 << 20)
        out["full_table_sec"] = round(time.perf_counter() - t0, 2)

        # 2. auto_optimize over all partitions
        t3 = seed(f"{work}/auto")
        t0 = time.perf_counter()
        done = auto_optimize(spark, t3, 512 << 20, min_files=2)
        out["auto_optimize_sec"] = round(time.perf_counter() - t0, 2)
        out["auto_optimize_partitions"] = len(done)
        out["files_after_auto"] = len(t3.read_manifest().files)

        # 3. consolidation of 16 vectors, each deleting `width` ids
        n_ids = rows // 10
        stride = min(1000, n_ids // 16)
        width = min(100, stride // 2)
        t4 = ManifestTable(f"{work}/dv")
        write_and_commit(spark.range(0, n_ids), t4)
        for k in range(16):
            delete_where_mor(spark, t4, spark.range(stride * k, stride * k + width), ["id"])
        t0 = time.perf_counter()
        consolidate_delete_vectors(spark, t4)
        out["consolidate_16_vectors_sec"] = round(time.perf_counter() - t0, 2)
        n = t4.read(spark).count()
        assert n == n_ids - 16 * width, n
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    parts = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    spark = get_spark("maintenance_probe")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(probe(spark, rows, parts)))


if __name__ == "__main__":
    main()
