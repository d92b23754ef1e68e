"""Per-query optimization profiler (round-10 tooling).

For each named query, measures separately:
  - build_s: time to call fn(spark, sf_dir) — Python plan construction
    plus any eager work the query does at build time (fit collects,
    localCheckpoints, count jobs); the median of three builds (each
    exec run gets its own fresh build, timed separately, so exec
    timings never include plan construction — r10-ADVICE fix);
  - exec1_s / exec2_s / exec3_s: three noop-sink executions, each of a
    freshly built DataFrame (exec1 pays codegen JIT; exec2/3 are
    steady state);
  - jobs / stages: the Spark jobs of the query's build + first exec,
    counted through a job group of its own, and the stages of them that
    ran (``bench.StageMetrics``); neither reads the status store's list
    sizes, which stop growing once the store evicts past
    spark.ui.retainedJobs / retainedStages;
  - optionally writes .explain("formatted") to plans/r11/<q>_<tag>.txt.

Usage:
  python tools/qprofile.py [--plans TAG] [--sf SF_DIR] q_name [q_name ...]

This is measurement tooling only — it never touches the bench record.
"""

from __future__ import annotations

import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import StageMetrics  # noqa: E402
from octopufs_spark.registry import all_queries  # noqa: E402
from octopufs_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    plans_tag = None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--plans":
            plans_tag = args[i + 1]
            i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1

    spark = get_spark("octopufs_qprofile")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    # Warm the session like bench.py does so exec timings are comparable.
    for warm in ("q_scan_parquet", "q_agg_sum_group", "q_join_multi"):
        queries[warm](spark, sf_dir).write.format("noop").mode("overwrite").save()

    plans_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r11")
    if plans_tag:
        os.makedirs(plans_dir, exist_ok=True)

    sc = spark.sparkContext
    metrics = StageMetrics(spark)
    bus = sc._jsc.sc().listenerBus()
    print(f"{'query':42s} {'build':>7s} {'exec1':>7s} {'exec2':>7s} {'exec3':>7s} {'jobs':>5s} {'stages':>6s}")
    for name in names:
        if name not in queries:
            print(f"{name}: UNKNOWN", file=sys.stderr)
            continue
        group = f"qprofile-{name}"
        sc.setJobGroup(group, f"qprofile:{name}")
        bus.waitUntilEmpty()
        metrics.snapshot()
        builds: list[float] = []
        execs: list[float] = []
        df = None
        for _ in range(3):
            # build and exec timed SEPARATELY each iteration: a shared
            # df would let a build-time localCheckpoint hide work from
            # exec2/3, and rebuilding inside the exec timer (the old
            # code) contaminated "steady state" with plan construction.
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            builds.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            execs.append(time.perf_counter() - t0)
            if len(execs) == 1:
                # jobs/stages attributed to build+exec1 only, matching
                # the r10 numbers (one build per profile back then)
                jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                bus.waitUntilEmpty()
                stages = (metrics.collect() or {}).get("stages", -1)
        build = sorted(builds)[1]
        print(
            f"{name:42s} {build:7.2f} {execs[0]:7.2f} {execs[1]:7.2f} {execs[2]:7.2f}"
            f" {jobs:5d} {stages:6d}",
            flush=True,
        )
        if plans_tag:
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(plans_dir, f"{name}_{plans_tag}.txt"), "w") as f:
                f.write(buf.getvalue())
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)


if __name__ == "__main__":
    main()
