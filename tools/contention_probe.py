"""Sustained writer-contention throughput probe (r8 verdict #4).

The multi-process race fuzzes (tests/test_multiproc_races.py) prove
SAFETY — linear history, zero lost updates. This probe measures
PROGRESS under sustained contention: P real processes (default 12)
append-committing to ONE table as fast as they can for a fixed
duration. Reported per run:

  - commits/s (aggregate throughput)
  - retry amplification: publish attempts / successful commits (how
    many manifest builds+writes the CAS burns per landed commit — the
    metric that says whether losers' rebuilds melt the log dir)
  - liveness failures: commit calls that exhausted their retry budget
  - fairness: min/max successful commits per worker (a starved writer
    shows up as min << max)

Workers are Spark-free (pyarrow-written files committed through
``manifest_log.ManifestLog``, which imports no pyspark), so the
numbers isolate the CAS + retry policy itself.

Run: python tools/contention_probe.py [n_procs] [seconds]
Results land in SCALE.md; the liveness assertion lives in
tests/test_multiproc_races.py::test_sustained_contention_liveness.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def _worker(root: str, wid: int, deadline: float, q) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from octopufs_spark.manifest_log import ManifestLog

    attempts = {"n": 0}
    orig_publish = ManifestLog._publish

    def counting_publish(self, m):
        attempts["n"] += 1
        return orig_publish(self, m)

    ManifestLog._publish = counting_publish

    t = ManifestLog(root)
    ok = fail = 0
    i = 0
    while time.time() < deadline:
        marker = f"w{wid}-{i}"
        i += 1
        staged = f"data-{marker}"
        os.makedirs(f"{root}/{staged}", exist_ok=True)
        pq.write_table(
            pa.table({"id": pa.array([wid], pa.int64())}),
            f"{root}/{staged}/part-0.parquet",
        )
        rel = [f"{staged}/part-0.parquet"]

        def build(parent, rel=rel):
            return sorted((parent.files if parent else []) + rel)

        try:
            t._commit_with_retry(build, "append", None)
            ok += 1
        except RuntimeError:
            fail += 1
    q.put({"wid": wid, "ok": ok, "fail": fail, "attempts": attempts["n"]})


def main() -> None:
    n_procs = int(sys.argv[1]) if len(sys.argv) > 1 else 12
    seconds = float(sys.argv[2]) if len(sys.argv) > 2 else 20.0
    root = tempfile.mkdtemp(prefix="contention_probe_") + "/t"
    os.makedirs(root, exist_ok=True)

    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    deadline = time.time() + seconds
    procs = [
        ctx.Process(target=_worker, args=(root, w, deadline, q))
        for w in range(n_procs)
    ]
    t0 = time.time()
    for p in procs:
        p.start()
    results = [q.get(timeout=seconds + 120) for _ in procs]
    for p in procs:
        p.join()
    wall = time.time() - t0

    from octopufs_spark.manifest_log import ManifestLog

    t = ManifestLog(root)
    head = t.latest_version() or 0
    total_ok = sum(r["ok"] for r in results)
    total_fail = sum(r["fail"] for r in results)
    total_attempts = sum(r["attempts"] for r in results)
    per_worker = sorted(r["ok"] for r in results)
    out = {
        "probe": "contention",
        "procs": n_procs,
        "seconds": seconds,
        "commits_ok": total_ok,
        "commit_failures": total_fail,
        "commits_per_s": round(total_ok / wall, 1),
        "publish_attempts": total_attempts,
        "retry_amplification": round(total_attempts / max(total_ok, 1), 2),
        "fairness_min_max": [per_worker[0], per_worker[-1]],
        "head_version": head,
        "history_linear": head == total_ok,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
