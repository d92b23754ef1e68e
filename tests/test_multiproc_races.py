"""REAL cross-process commit races (r7 verdict task #4).

Every prior race test (two-writer contention, mixed-op fuzz, the
Hypothesis schedule model) runs threads inside one interpreter, where
the GIL and shared page cache soften timing. The manifest's atomicity
claim is cross-PROCESS: the no-overwrite publish (hard link on local
stores, conditional put elsewhere) must serialize writers that share
nothing but the filesystem. These tests spawn N real processes racing
append commits, WAP stage+publish, branch fast-forwards, and catalog
pin flips on one table root, then audit the log:

- version history is LINEAR: contiguous version numbers, one manifest
  per version, every parent pointer resolving below its child;
- ZERO lost updates: every operation that reported success left its
  unique marker file in the final snapshot (appends/publishes never
  drop a racer's rows);
- failures are CLEAN conflicts (ConcurrentModificationError), never
  corruption.

Spark is deliberately absent from the workers — commits are pure
manifest-layer I/O over pyarrow-written parquet, so the fuzz isolates
exactly the cross-process CAS primitive (and 4 Spark JVMs would turn
a race test into a startup benchmark).
"""

from __future__ import annotations

import multiprocessing as mp
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from octopufs_spark.manifest import ConcurrentModificationError, ManifestTable

N_PROCS = 5
OPS_PER_PROC = 16  # 5 * 16 = 80 attempts; >=50 must SUCCEED


def _stage(root: str, marker: str) -> str:
    staged = f"data-{marker}"
    os.makedirs(f"{root}/{staged}", exist_ok=True)
    pq.write_table(
        pa.table({"id": [hash(marker) % 10_000], "marker": [marker]}),
        f"{root}/{staged}/part-0.parquet",
    )
    return staged


def _append_build(t: ManifestTable, staged: str):
    def build(parent):
        base = parent.files if parent else []
        return sorted(base + t._data_files_under(staged))

    return build


def _race_worker(root: str, wid: int, out: "mp.Queue") -> None:
    """Mixed-op worker: appends, WAP stage+publish, branch+fast-forward.
    Reports (marker, op, outcome) per attempt; 'ok' means the op claims
    its rows are durable on main — the parent audits exactly that."""
    import random

    rng = random.Random(1000 + wid)
    t = ManifestTable(root)
    results = []
    for i in range(OPS_PER_PROC):
        marker = f"w{wid}-{i}"
        op = rng.choice(["append", "append", "wap", "branch_ff", "mor"])
        try:
            if op == "mor":
                # equality delete vector: the commit delete_where_mor
                # makes (the vector parquet itself needs no Spark) —
                # races the meta-carry path against appends
                dv_rel = f"_dv/dv-{marker}.parquet"
                os.makedirs(f"{root}/_dv", exist_ok=True)
                pq.write_table(pa.table({"id": [wid]}), f"{root}/{dv_rel}")
                t.commit_rewrite(
                    t.read_manifest(),
                    [],
                    [],
                    "delete_mor",
                    {"delete_vectors": [{"path": dv_rel, "keys": ["id"]}]},
                )
                results.append((marker, op, "ok"))
                continue
            staged = _stage(root, marker)
            if op == "append":
                t._commit_with_retry(_append_build(t, staged), "append", None)
                results.append((marker, op, "ok"))
            elif op == "wap":
                t._commit_with_retry(
                    _append_build(t, staged), "append", None, wap_id=marker
                )
                t.publish_wap(wap_id=marker)
                results.append((marker, op, "ok"))
            else:
                branch = f"b-{marker}"
                t.create_branch(branch)
                t._commit_with_retry(
                    _append_build(t, staged), "append", None, branch=branch
                )
                try:
                    t.fast_forward(branch)
                    results.append((marker, op, "ok"))
                except ConcurrentModificationError:
                    # main moved past the fork point: the documented
                    # clean abort — the branch rows are NOT on main
                    results.append((marker, op, "conflict"))
        except ConcurrentModificationError:
            results.append((marker, op, "conflict"))
        except RuntimeError as e:
            if "lost the" in str(e) and "race" in str(e):
                # bounded-retry exhaustion (reference-style 5 attempts)
                # under a commit storm: a documented clean outcome —
                # the audit still requires these rows NOT on main
                results.append((marker, op, "conflict"))
            else:
                results.append((marker, op, f"ERROR:RuntimeError:{e}"))
        except Exception as e:  # noqa: BLE001 — corruption shows here
            results.append((marker, op, f"ERROR:{type(e).__name__}:{e}"))
    out.put((wid, results))


def test_cross_process_commit_races_keep_log_linear(tmp_path):
    root = str(tmp_path / "t")
    # seed v1 so every worker starts from an existing table
    t = ManifestTable(root)
    staged = _stage(root, "seed")
    t._commit_with_retry(_append_build(t, staged), "commit", None)

    ctx = mp.get_context("spawn")
    out: mp.Queue = ctx.Queue()
    procs = [
        ctx.Process(target=_race_worker, args=(root, wid, out)) for wid in range(N_PROCS)
    ]
    for p in procs:
        p.start()
    results = [out.get(timeout=540) for _ in procs]
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0

    flat = [r for _wid, rs in results for r in rs]
    errors = [r for r in flat if r[2].startswith("ERROR")]
    assert errors == [], f"non-conflict failures: {errors}"
    oks = [r for r in flat if r[2] == "ok"]
    assert len(oks) >= 50, f"only {len(oks)} successful commits raced"

    # --- linear history: contiguous versions, one manifest per slot ---
    vs = t.versions()
    assert vs == list(range(vs[0], vs[0] + len(vs))), "version gaps/duplicates"
    for v in vs:
        m = t.read_manifest(v)
        assert m.version == v
        assert m.parent is None or m.parent < v

    # --- zero lost updates: every 'ok' marker is in the main head ---
    head = t.read_manifest()
    head_markers = {
        f.split("/", 1)[0].removeprefix("data-") for f in head.files
    }
    head_vectors = {dv["path"] for dv in head.meta.get("delete_vectors", [])}
    lost = [
        m
        for m, op, _r in oks
        if (op != "mor" and m not in head_markers)
        or (op == "mor" and f"_dv/dv-{m}.parquet" not in head_vectors)
    ]
    assert lost == [], f"committed rows/vectors missing from the head: {lost}"

    # --- clean-conflict rows are genuinely absent (no half-commits) ---
    conflicted = [m for m, _op, r in flat if r == "conflict"]
    for m in conflicted:
        assert m not in head_markers, f"conflicted op {m} leaked rows onto main"


def _pin_worker(catalog_root: str, table_roots: dict, wid: int, out: "mp.Queue") -> None:
    """Race catalog pin flips (the atomic multi-table commit point):
    each worker re-pins ITS OWN table repeatedly while sharing the one
    catalog log — disjoint flips must all merge, and the final catalog
    must hold every worker's last pin."""
    from octopufs_spark.multitable import Catalog

    cat = Catalog(catalog_root)
    name = f"t{wid}"
    t = ManifestTable(table_roots[name])
    last = None
    for i in range(10):
        staged = _stage(table_roots[name], f"p{wid}-{i}")
        v = t._commit_with_retry(_append_build(t, staged), "append", None)
        expected = {name: (cat.snapshot().get(name) or {}).get("version")}
        cat._commit_pins(
            {name: {"root": table_roots[name], "version": v}}, "catalog-register", expected
        )
        last = v
    out.put((name, last))


def test_cross_process_catalog_pin_flips_merge(tmp_path):
    from octopufs_spark.multitable import Catalog

    catalog_root = str(tmp_path / "cat")
    roots = {}
    for wid in range(4):
        name = f"t{wid}"
        root = str(tmp_path / name)
        t = ManifestTable(root)
        t._commit_with_retry(_append_build(t, _stage(root, f"seed{wid}")), "commit", None)
        roots[name] = root
    cat = Catalog(catalog_root)
    for name, root in roots.items():
        cat.register(name, ManifestTable(root))

    ctx = mp.get_context("spawn")
    out: mp.Queue = ctx.Queue()
    procs = [
        ctx.Process(target=_pin_worker, args=(catalog_root, roots, wid, out))
        for wid in range(4)
    ]
    for p in procs:
        p.start()
    finals = dict(out.get(timeout=540) for _ in procs)
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0

    snap = cat.snapshot()
    for name, last in finals.items():
        assert snap[name]["version"] == last, f"lost pin flip on {name}"
    # the catalog log itself stayed linear
    vs = cat.log.versions()
    assert vs == list(range(vs[0], vs[0] + len(vs)))


def _spark_worker(root: str, role: str, n_ops: int, out: "mp.Queue") -> None:
    """A worker with its OWN SparkSession (own JVM): appender,
    compactor, or MOR deleter racing on one table."""
    import os as _os

    _os.environ["SPARK_GRAFT_CPUS"] = "4"
    from pyspark.sql import functions as F

    from octopufs_spark.manifest import (
        ConcurrentModificationError as CME,
    )
    from octopufs_spark.manifest import (
        ManifestTable,
        compact_and_commit,
        write_and_commit,
    )
    from octopufs_spark.merge import delete_where_mor
    from octopufs_spark.session import get_spark

    spark = get_spark(f"race_{role}", extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    t = ManifestTable(root)
    done = []
    try:
        for i in range(n_ops):
            try:
                if role == "appender":
                    lo = (hash(role) % 7 + i) * 1000 + 100_000
                    write_and_commit(
                        spark.range(lo, lo + 50).withColumn("v", F.col("id")),
                        t,
                        mode="append",
                    )
                    done.append(("append", lo, "ok"))
                elif role == "compactor":
                    compact_and_commit(spark, t)
                    done.append(("compact", i, "ok"))
                else:  # deleter: MOR-delete a unique sliver
                    keys = spark.range(i * 7, i * 7 + 3)
                    delete_where_mor(spark, t, keys, ["id"])
                    done.append(("delete", i, "ok"))
            except CME:
                done.append((role, i, "conflict"))
            except RuntimeError as e:
                if "lost the" in str(e) and "race" in str(e):
                    done.append((role, i, "conflict"))
                else:
                    raise
    except Exception as e:  # noqa: BLE001
        done.append((role, -1, f"ERROR:{type(e).__name__}:{e}"))
    finally:
        out.put((role, done))
        spark.stop()


@pytest.mark.slow  # >50 s; excluded from the default driver-window run
def test_cross_process_spark_compaction_merge_races(tmp_path, spark):
    """Full-stack race: three real Spark JVMs (appender, compactor,
    MOR deleter) hammer one table. Afterward the log must be linear
    and the CONTENT must equal exactly: seed + successful appends,
    minus successfully deleted keys — compaction and vectors racing
    appends must neither lose nor resurrect a row."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "t")
    t = ManifestTable(root)
    from octopufs_spark.manifest import write_and_commit

    write_and_commit(spark.range(0, 1000).withColumn("v", F.col("id")), t)

    ctx = mp.get_context("spawn")
    out: mp.Queue = ctx.Queue()
    roles = [("appender", 8), ("compactor", 5), ("deleter", 6)]
    procs = [
        ctx.Process(target=_spark_worker, args=(root, role, n, out))
        for role, n in roles
    ]
    for p in procs:
        p.start()
    results = dict(out.get(timeout=540) for _ in procs)
    for p in procs:
        p.join(timeout=120)
        assert p.exitcode == 0

    flat = [r for rs in results.values() for r in rs]
    errors = [r for r in flat if str(r[2]).startswith("ERROR")]
    assert errors == [], f"non-conflict failures: {errors}"

    vs = t.versions()
    assert vs == list(range(vs[0], vs[0] + len(vs))), "version gaps/duplicates"

    expected = set(range(1000))
    for op, lo, r in results["appender"]:
        if r == "ok":
            expected |= set(range(lo, lo + 50))
    for op, i, r in results["deleter"]:
        if r == "ok":
            expected -= set(range(i * 7, i * 7 + 3))
    got = {r.id for r in t.read(spark).collect()}
    assert got == expected, (
        f"content drift: {len(got - expected)} resurrected, "
        f"{len(expected - got)} lost"
    )


def _liveness_worker(root: str, wid: int, deadline: float, out: "mp.Queue") -> None:
    """Sustained appender: commits as fast as possible until the
    deadline, reporting successes and retry-budget exhaustions."""
    import time

    from octopufs_spark.manifest import ManifestTable

    t = ManifestTable(root)
    ok = exhausted = 0
    i = 0
    while time.time() < deadline:
        staged = _stage(root, f"live-w{wid}-{i}")
        i += 1
        try:
            t._commit_with_retry(_append_build(t, staged), "append", None)
            ok += 1
        except RuntimeError as e:
            if "lost the commit race" in str(e):
                exhausted += 1
            else:
                raise
    out.put({"wid": wid, "ok": ok, "exhausted": exhausted})


def test_sustained_contention_liveness(tmp_path):
    """r8 verdict #4: the race tests above prove SAFETY; this pins
    PROGRESS. Six processes sustained-committing for ~4 s must all
    make progress (no starved writer), with zero retry-budget
    exhaustions — the jittered-backoff policy's liveness contract
    (tools/contention_probe.py measured 0 exhaustions at 16 writers
    x 15 s; the old 5-attempt/no-backoff loop starved 62% of calls
    at 12 writers)."""
    import time

    root = str(tmp_path / "tbl")
    os.makedirs(root, exist_ok=True)
    ctx = mp.get_context("spawn")
    q: "mp.Queue" = ctx.Queue()
    deadline = time.time() + 6.0
    procs = [
        ctx.Process(target=_liveness_worker, args=(root, w, deadline, q))
        for w in range(6)
    ]
    for p in procs:
        p.start()
    results = [q.get(timeout=120) for _ in procs]
    for p in procs:
        p.join()

    assert sum(r["exhausted"] for r in results) == 0, results
    assert all(r["ok"] >= 1 for r in results), f"starved writer: {results}"
    total = sum(r["ok"] for r in results)
    t = ManifestTable(root)
    assert t.latest_version() == total  # linear history, nothing lost
