"""Measure incremental-MV maintenance vs full recompute (r8).

Builds an N-row manifest table (zone-map stats on), materializes a
count/sum/avg rollup, then times three refresh classes:

- append fold (scan one commit's files),
- positional MOR-delete fold (scan ONLY the files the vector names),
- equality MOR-delete fold (parent files pruned by the vector's key
  range through prune_plan),

against the full recompute the same commits would have cost before the
r8 subtractable fold. Prints one JSON line; numbers live in SCALE.md.

Run: python tools/mv_probe.py [rows]
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

from octopufs_spark.manifest import ManifestTable, write_and_commit  # noqa: E402
from octopufs_spark.merge import (  # noqa: E402
    delete_where_mor,
    delete_where_mor_positional,
)
from octopufs_spark.mv import MaterializedView  # noqa: E402
from octopufs_spark.session import get_spark  # noqa: E402


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    spark = get_spark("mv_probe")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="mv_probe_")
    src = ManifestTable(f"{work}/src")

    def df(lo, hi):
        return spark.range(lo, hi).select(
            "id", (F.col("id") % 1000).alias("g"), (F.col("id") * 3 % 9973).alias("v")
        )

    # 8 commits so the delete's file-scoping has something to skip
    step = rows // 8
    for k in range(8):
        write_and_commit(
            df(k * step, (k + 1) * step).repartition(4),
            src,
            mode="append" if k else "overwrite",
            stats=True,
        )
    mv = MaterializedView(src, f"{work}/view", ["g"], {
        "n": ("count", "*"), "total": ("sum", "v"), "mean": ("avg", "v"),
    })
    t0 = time.time()
    mv.refresh(spark)
    out = {"rows": rows, "full_build_s": round(time.time() - t0, 2)}

    write_and_commit(df(rows, rows + step // 10).repartition(2), src, mode="append", stats=True)
    t0 = time.time()
    mv.refresh(spark)
    out["append_fold_s"] = round(time.time() - t0, 2)

    # positional delete: 0.1% of rows, all inside the LAST commit's files
    delete_where_mor_positional(spark, src, f"id >= {rows} and id % 100 = 0")
    t0 = time.time()
    mv.refresh(spark)
    out["positional_fold_s"] = round(time.time() - t0, 2)
    assert mv.view.read_manifest().meta["mv"]["mode"] == "incremental"

    # equality delete: a narrow key range one commit wide
    delete_where_mor(spark, src, spark.range(step, step + 500), ["id"])
    t0 = time.time()
    mv.refresh(spark)
    out["equality_fold_s"] = round(time.time() - t0, 2)
    assert mv.view.read_manifest().meta["mv"]["mode"] == "incremental"

    # the pre-r8 cost of those two delete refreshes: a full recompute
    t0 = time.time()
    mv._partial(src.read(spark)).write.format("noop").mode("overwrite").save()
    out["full_recompute_s"] = round(time.time() - t0, 2)
    out["fold_speedup_vs_recompute"] = round(
        out["full_recompute_s"] / max(out["positional_fold_s"], 1e-9), 1
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
