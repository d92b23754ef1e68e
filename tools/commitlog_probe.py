"""Probe manifest-metadata costs on LONG commit logs (r8 verdict #3).

The r8 filecount probe cleared high file COUNTS (50k files in one
snapshot); this one pushes commit COUNT — the years-of-streaming-
appends shape: a table with thousands of commits where each snapshot
is modest but the log is long. Measures, at growing checkpoints:

  - latest_version resolve (CAS hint + forward probe — should be O(1)
    in log length)
  - head manifest parse (O(files in head), NOT O(log length))
  - version_as_of binary search (O(log n) manifest reads by design)
  - prune_plan on the head
  - stream restart: reader construction + offset resolution +
    partition planning over the last K commits (tail restart, the
    production case) and over the WHOLE log (fresh checkpoint, the
    worst case — one manifest parse per version, so O(n) parses over
    manifests that each list O(n) files = O(n^2) bytes; the probe
    quantifies where that knee is)
  - Spark read-plan build + count on the head snapshot
  - vacuum over the long log (keep_versions window), then
    latest_version again (the hint survives mid-log gaps)

A second section stresses SCHEMA-EVOLUTION replay + scan-group fanout:
with an evolution log present, the read path unions one scan relation
per contributing staging dir (manifest.py _scan_files) — bounded by
log length and collapsed by compaction, which the probe demonstrates
by timing read-plan build before and after compact_and_commit.

Run: python tools/commitlog_probe.py [n_commits] [--no-spark]
Results land in SCALE.md; the pinned bound test is
tests/test_scale.py::test_version_resolution_bounded_on_long_logs.
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


def build_log(root: str, n: int, start: int = 0) -> ManifestTable:
    """Append commits [start, n): one tiny pyarrow file per commit, no
    Spark in the build. Commit i's staging dir is data-<i>."""
    t = ManifestTable(root)
    tbl = pa.table({"id": pa.array([1], pa.int64()), "v": pa.array([2.0], pa.float64())})
    for i in range(start, n):
        d = f"{root}/data-{i:06d}"
        os.makedirs(d, exist_ok=True)
        pq.write_table(tbl, f"{d}/part-0.parquet")
        rel = [f"data-{i:06d}/part-0.parquet"]

        def build(parent, rel=rel):
            return sorted((parent.files if parent else []) + rel)

        t._commit_with_retry(build, "append", None)
    return t


def measure(t: ManifestTable, n: int, tail: int = 10) -> dict:
    out: dict = {"commits": n}
    t0 = time.time()
    v = t.latest_version()
    out["latest_version_s"] = round(time.time() - t0, 4)
    t0 = time.time()
    m = t.read_manifest()
    out["head_parse_s"] = round(time.time() - t0, 4)
    out["head_files"] = len(m.files)
    # AS OF a timestamp in the middle of the log
    mid_ts = t.commit_timestamp(v // 2 if v // 2 >= 1 else 1)
    t0 = time.time()
    t.version_as_of(mid_ts)
    out["version_as_of_s"] = round(time.time() - t0, 4)
    t0 = time.time()
    t.prune_plan([("id", "=", 1)])
    out["prune_plan_s"] = round(time.time() - t0, 3)

    from octopufs_spark.sources import ManifestStreamReader

    # tail restart: the production shape (checkpoint near the head)
    t0 = time.time()
    r = ManifestStreamReader({"path": t.root, "startingVersion": str(max(1, v - tail))})
    start = r.initialOffset()
    end = r.latestOffset()
    r.partitions(start, end)
    out["stream_tail_restart_s"] = round(time.time() - t0, 4)
    # full replay: fresh checkpoint from version 0 (worst case)
    t0 = time.time()
    r2 = ManifestStreamReader({"path": t.root, "startingVersion": "0"})
    s2, e2 = r2.initialOffset(), r2.latestOffset()
    parts = r2.partitions(s2, e2)
    out["stream_full_replay_s"] = round(time.time() - t0, 3)
    out["stream_full_replay_parts"] = len(parts)
    return out


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else 2000
    use_spark = "--no-spark" not in sys.argv
    checkpoints = [c for c in (250, 500, 1000, 2000, 5000) if c < n] + [n]
    base = tempfile.mkdtemp(prefix="commitlog_probe_")
    root = f"{base}/t"
    os.makedirs(root, exist_ok=True)

    out: dict = {"probe": "commitlog", "n_commits": n, "points": []}
    t = None
    built = 0
    t_build0 = time.time()
    for cp in checkpoints:
        t = build_log(root, cp, start=built)
        built = cp
        out["points"].append(measure(t, cp))
    out["build_s"] = round(time.time() - t_build0, 1)

    spark = None
    if use_spark:
        from octopufs_spark.session import get_spark

        spark = get_spark("commitlog_probe")
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.time()
        df = t.read(spark)
        out["read_plan_s"] = round(time.time() - t0, 2)
        t0 = time.time()
        out["rows"] = df.count()
        out["count_exec_s"] = round(time.time() - t0, 1)

    # vacuum over the long log: keep a 100-version window
    t0 = time.time()
    t.vacuum(keep_versions=100, retention_seconds=0)
    out["vacuum_s"] = round(time.time() - t0, 1)
    t0 = time.time()
    assert t.latest_version() == n
    out["latest_version_after_vacuum_s"] = round(time.time() - t0, 4)
    t0 = time.time()
    t.read_manifest()
    out["head_parse_after_vacuum_s"] = round(time.time() - t0, 4)

    # ---- section A2: branch-lineage costs on a long branch line ----
    # A branch accumulating hundreds of its own commits: branch_head
    # resolution (ref-dir listing, swept to O(1) files), a branch-head
    # manifest read, the branch STREAM's offset resolution (walks the
    # branch lineage), and fast_forward (O(1) via the fork-base copied
    # down the chain — never a walk to the fork point).
    br: dict = {}
    fork_base = t.latest_version() or 0
    t.create_branch("longline")
    tbl = pa.table({"id": pa.array([1], pa.int64()), "v": pa.array([2.0], pa.float64())})
    n_branch = min(500, n)
    t0 = time.time()
    for i in range(n_branch):
        d = f"{root}/bdata-{i:06d}"
        os.makedirs(d, exist_ok=True)
        pq.write_table(tbl, f"{d}/part-0.parquet")
        rel = [f"bdata-{i:06d}/part-0.parquet"]

        def bbuild(parent, rel=rel):
            return sorted((parent.files if parent else []) + rel)

        t._commit_with_retry(bbuild, "append", None, branch="longline")
    br["branch_commits"] = n_branch
    br["branch_build_s"] = round(time.time() - t0, 1)
    t0 = time.time()
    bh = t.branch_head("longline")
    br["branch_head_s"] = round(time.time() - t0, 4)
    t0 = time.time()
    t.read_manifest(bh)
    br["branch_manifest_parse_s"] = round(time.time() - t0, 4)

    from octopufs_spark.sources import ManifestStreamReader

    # replay the branch's OWN lineage from the fork point (earlier main
    # history was vacuumed above — a from-0 replay correctly fails loud)
    t0 = time.time()
    r = ManifestStreamReader(
        {"path": t.root, "branch": "longline", "startingVersion": str(fork_base + 1)}
    )
    s0, e0 = r.initialOffset(), r.latestOffset()
    parts = r.partitions(s0, e0)
    br["branch_stream_line_replay_s"] = round(time.time() - t0, 3)
    br["branch_stream_parts"] = len(parts)
    t0 = time.time()
    ffv = t.fast_forward("longline")
    br["fast_forward_s"] = round(time.time() - t0, 4)
    br["fast_forward_version"] = ffv
    out["branch"] = br

    # ---- section B: evolution replay + scan-group fanout ----
    if use_spark:
        ev_root = f"{base}/ev"
        os.makedirs(ev_root, exist_ok=True)
        ev: dict = {}
        te = None
        built = 0
        for cp in (100, 200, 400):
            te = build_log(ev_root, cp, start=built)
            built = cp
            if cp == 100:
                # 3 metadata-only events -> every later read replays them
                te.add_column("flag", "integer", default=7)
                te.rename_column("flag", "flag2")
                te.add_column("note", "string", default=None)
            t0 = time.time()
            df = te.read(spark)
            ev[f"read_plan_s_at_{cp}"] = round(time.time() - t0, 2)
            ev[f"rows_at_{cp}"] = df.count()
        # compaction collapses the per-commit scan groups
        from octopufs_spark.manifest import compact_and_commit

        t0 = time.time()
        compact_and_commit(spark, te)
        ev["compact_s"] = round(time.time() - t0, 1)
        t0 = time.time()
        df = te.read(spark)
        ev["read_plan_s_after_compact"] = round(time.time() - t0, 2)
        ev["rows_after_compact"] = df.count()
        out["evolution"] = ev

    print(json.dumps(out))


if __name__ == "__main__":
    main()
