"""Interleaved A/B query benchmark (round-11 tooling).

Round 10 showed three times that a single qprofile reading (up to 4x
off) contradicted a later interleaved A/B: on this box the only
trustworthy sf0.1 methodology is alternating trials of OLD and NEW
code in the SAME session, so machine-load drift hits both sides
equally. This tool scripts that pattern:

  python tools/ab.py --base <git-ref> [--trials N] [--sf SF_DIR] q [q...]

For each query it runs ``--trials`` (default 4) interleaved pairs
A B A B ... where A imports ``octopufs_spark`` from a ``git archive``
snapshot of ``--base`` and B imports the working tree. Each trial
times build+exec (plan construction, eager build jobs, and one
noop-sink execution — the same quantity bench.py times), purging
``octopufs_spark*`` from sys.modules between trials so each side's
module code is really the one measured. The purge also empties
``tables.load``'s schema cache, so every trial of either side pays one
schema-inference Spark job per fixture table it loads, where a warm
session pays none. The shared SparkSession (and its JIT/warm-up state)
is reused by both sides — that sharing is the point.

Output per query: both sample lists, medians, and the B/A speedup.

This is measurement tooling only — it never touches the bench record.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def snapshot_ref(ref: str) -> str:
    """Export octopufs_spark/ at ``ref`` into a temp dir; return its root."""
    root = tempfile.mkdtemp(prefix=f"ab_{ref.replace('/', '_')}_")
    tar = subprocess.run(
        ["git", "-C", REPO, "archive", ref, "octopufs_spark"],
        check=True,
        stdout=subprocess.PIPE,
    ).stdout
    subprocess.run(["tar", "-x", "-C", root], input=tar, check=True)
    return root


def _purge_modules() -> None:
    for name in [m for m in sys.modules if m.split(".")[0] == "octopufs_spark"]:
        del sys.modules[name]


def run_trial(spark, root: str, name: str, sf_dir: str) -> float:
    """One build+exec timing of ``name`` with octopufs_spark from ``root``."""
    _purge_modules()
    sys.path.insert(0, root)
    try:
        from octopufs_spark.registry import all_queries  # noqa: PLC0415

        queries = all_queries()
        if name not in queries:
            raise KeyError(f"{name} not registered in {root}")
        fn = queries[name]
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0
    finally:
        sys.path.remove(root)
        _purge_modules()


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--base", default="HEAD", help="git ref for the A side")
    p.add_argument("--trials", type=int, default=4, help="pairs per query")
    p.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    p.add_argument("--json", help="also write results as JSON to this path")
    p.add_argument("queries", nargs="+")
    args = p.parse_args()

    base_root = snapshot_ref(args.base)
    head_root = REPO

    sys.path.insert(0, head_root)
    from octopufs_spark.session import get_spark  # noqa: PLC0415

    spark = get_spark("octopufs_ab")
    spark.sparkContext.setLogLevel("ERROR")
    sys.path.remove(head_root)

    # Warm the session the way bench.py does so neither side pays
    # first-query JIT (the first A trial would otherwise absorb it).
    _purge_modules()
    sys.path.insert(0, head_root)
    from octopufs_spark.registry import all_queries  # noqa: PLC0415

    warm_qs = all_queries()
    for warm in ("q_scan_parquet", "q_agg_sum_group", "q_join_multi"):
        warm_qs[warm](spark, args.sf).write.format("noop").mode("overwrite").save()
    sys.path.remove(head_root)
    _purge_modules()

    results: dict[str, dict] = {}
    for name in args.queries:
        a_samples: list[float] = []
        b_samples: list[float] = []
        err = None
        try:
            # one unmeasured warm pass per side: both sides' plans get
            # codegen-JIT'd before any timed trial
            spark.sparkContext.setJobDescription(f"ab:{name}:warm")
            run_trial(spark, base_root, name, args.sf)
            run_trial(spark, head_root, name, args.sf)
            for t in range(args.trials):
                spark.sparkContext.setJobDescription(f"ab:{name}:A{t}")
                a_samples.append(run_trial(spark, base_root, name, args.sf))
                spark.sparkContext.setJobDescription(f"ab:{name}:B{t}")
                b_samples.append(run_trial(spark, head_root, name, args.sf))
        except Exception as e:  # keep A/B-ing the rest
            err = f"{type(e).__name__}: {e}"
        finally:
            spark.sparkContext.setJobDescription(None)
        rec: dict = {
            "a_samples": [round(x, 3) for x in a_samples],
            "b_samples": [round(x, 3) for x in b_samples],
        }
        if a_samples and b_samples:
            ma, mb = statistics.median(a_samples), statistics.median(b_samples)
            rec.update(
                a_median=round(ma, 3),
                b_median=round(mb, 3),
                speedup=round(ma / mb, 3) if mb > 0 else None,
            )
            print(
                f"{name:42s} A={ma:7.3f}s B={mb:7.3f}s speedup={ma / mb:5.2f}x  "
                f"A{rec['a_samples']} B{rec['b_samples']}",
                flush=True,
            )
        if err:
            rec["error"] = err
            print(f"{name:42s} ERROR {err}", flush=True)
        results[name] = rec

    if args.json:
        with open(args.json, "w") as f:
            json.dump({"base": args.base, "sf": args.sf, "results": results}, f, indent=2)


if __name__ == "__main__":
    main()
