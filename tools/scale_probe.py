"""Scale probes: run headline operators on synthetic data 10-100x the
bench fixture and under deliberate skew, so SCALE.md's claims carry
measurements instead of assertions.

    python tools/scale_probe.py [n_events_millions]
    python tools/scale_probe.py --deep

Generates data with spark.range (no fixture writes), times each probe
with one warm-up, and prints a markdown table row per probe. Used to
refresh the "Measured" notes in SCALE.md per round.

``--deep`` runs the 100x probes for the two superlinear-risk
operators (round-3 verdict item 10): connected components (round
count must track log(diameter), never edge count) and the banded
MinHash join (candidate pairs must grow ~linearly with the corpus —
bucket-bounded, never n^2). The 20M-edge CC probe materializes the
edge list in one JVM, which the 8g default driver heap can't hold —
run it as ``SPARK_GRAFT_DRIVER_MEM=48g python tools/scale_probe.py
--deep`` (a real cluster spreads the same working set across
executors).
"""

from __future__ import annotations

import sys
import time

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

from octopufs_spark.session import get_spark  # noqa: E402


def timed(label, build, execute=None):
    """One warm-up + one timed run of `build()` (a DataFrame factory)."""
    run = execute or (lambda df: df.write.format("noop").mode("overwrite").save())
    run(build())
    t0 = time.perf_counter()
    run(build())
    secs = time.perf_counter() - t0
    print(f"| {label} | {secs:.1f} s |", flush=True)
    return secs


def deep_main() -> None:
    """100x probes for the two superlinear-risk families."""
    spark = get_spark("scale_probe_deep")
    spark.sparkContext.setLogLevel("ERROR")
    from octopufs_spark.llm.dedup import connected_components, minhash_near_dup_pairs

    print("| probe | result | time |\n|---|---|---|")

    # -- connected components ------------------------------------------------
    # Claim under test: cost = rounds x per-round shuffles, and rounds
    # track log2(diameter) via pointer doubling — NOT edge count. Probe
    # (a) holds diameter at 10 and scales edges 10x (1.8M -> 18M):
    # rounds must stay put; probe (b) holds edges at 1.8M and deepens
    # chains 10x (diameter 100): rounds may only grow ~log2.
    def cc_probe(label, n_ids, chain_len):
        edges = (
            spark.range(n_ids)
            .where((F.col("id") % chain_len) != chain_len - 1)
            .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
            .localCheckpoint()
        )
        n_edges = edges.count()
        rounds: list = []
        t0 = time.perf_counter()
        out = connected_components(edges, partitions=32, round_counter=rounds)
        n_comp = out.select("cluster_id").distinct().count()
        secs = time.perf_counter() - t0
        assert n_comp == n_ids // chain_len, (n_comp, n_ids, chain_len)
        print(
            f"| CC {label}: {n_edges:,} edges, diameter {chain_len - 1} "
            f"| {len(rounds)} rounds, {n_comp:,} components | {secs:.1f} s |",
            flush=True,
        )
        return len(rounds)

    r_base = cc_probe("base", 2_000_000, 10)
    r_wide = cc_probe("10x edges", 20_000_000, 10)
    r_deep = cc_probe("10x diameter", 2_000_000, 100)
    assert r_wide == r_base, "edge growth must not change round count"
    assert r_deep <= 3 * r_base, "diameter growth must stay ~log2, not linear"

    # -- banded MinHash join -------------------------------------------------
    # Claim under test: candidate pairs come from per-bucket joins, so
    # with a fixed near-dup rate the pair count (and cost) grows
    # ~linearly in docs — a quadratic blow-up here is exactly the
    # failure the banding exists to prevent. Corpus: distinct word-soup
    # docs; every 50th doc is an exact clone of its neighbor.
    def synth_docs(n):
        words = F.transform(
            F.sequence(F.lit(0), F.lit(29)),
            lambda i: F.concat(
                F.lit("w"),
                ((F.xxhash64(F.col("base_id") * 31 + i) % 50_000 + 50_000) % 50_000).cast(
                    "string"
                ),
            ),
        )
        return (
            spark.range(n)
            .select(
                F.col("id").alias("doc_id"),
                # clone plant: doc 50k+1 duplicates doc 50k's text
                F.when(
                    (F.col("id") % 50 == 1), (F.col("id") - 1)
                ).otherwise(F.col("id")).alias("base_id"),
            )
            .select("doc_id", F.array_join(words, " ").alias("text"))
            .localCheckpoint()
        )

    results = {}
    for n in (30_000, 120_000):
        docs = synth_docs(n)
        t0 = time.perf_counter()
        n_pairs = minhash_near_dup_pairs(docs, threshold=0.3).count()
        secs = time.perf_counter() - t0
        results[n] = n_pairs
        print(
            f"| MinHash banded join: {n:,} docs (2% planted clones) "
            f"| {n_pairs:,} candidate pairs | {secs:.1f} s |",
            flush=True,
        )
    growth = results[120_000] / max(results[30_000], 1)
    print(f"| MinHash pair growth at 4x docs | {growth:.2f}x (quadratic would be 16x) | — |")
    assert growth < 8, f"candidate pairs grew {growth:.1f}x at 4x docs — bucket bound broken"


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--deep":
        deep_main()
        return
    mm = float(sys.argv[1]) if len(sys.argv) > 1 else 10.0
    n = int(mm * 1_000_000)
    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")

    # synthetic events: n rows, 50k users, timestamps over ~4 months
    events = (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            (F.col("id") % 50_000).alias("user_id"),
            F.timestamp_seconds(F.lit(1_700_000_000) + (F.col("id") * 7) % 10_000_000).alias("ts"),
            (F.col("id") % 997).cast("double").alias("value"),
            F.concat(F.lit("w"), (F.col("id") % 30_000).cast("string")).alias("word"),
        )
        .localCheckpoint()
    )
    print(f"probe corpus: {n:,} events, 50k users\n")
    print("| probe | time |\n|---|---|")

    timed(
        f"hash agg: sum/count per user ({mm:g}M rows)",
        lambda: events.groupBy("user_id").agg(
            F.count("*").alias("c"), F.sum("value").alias("s")
        ),
    )

    timed(
        f"sessionize (lag-gap + running sum, {mm:g}M rows)",
        lambda: _sessionize(events),
    )

    timed(
        f"exact dedup groupBy(md5) ({mm:g}M rows, ~30k distinct)",
        lambda: events.groupBy(F.md5("word").alias("h")).agg(
            F.min("event_id").alias("survivor"), F.count("*").alias("dups")
        ),
    )

    timed(
        f"windowed top-3 per user ({mm:g}M rows)",
        lambda: _topk(events),
    )

    # skew: one user owns ~25% of all events
    skewed = events.withColumn(
        "user_id", F.when(F.col("event_id") % 4 == 0, 7).otherwise(F.col("user_id"))
    ).localCheckpoint()
    timed(
        f"skewed agg, AQE skew handling (user 7 = 25% of {mm:g}M rows)",
        lambda: skewed.groupBy("user_id").agg(F.sum("value").alias("s")),
    )

    from octopufs_spark.scale import salted_count

    timed(
        f"skewed distinct-ish count, salted (16 salts)",
        lambda: salted_count(skewed, "user_id", n_salts=16),
    )

    # connected components on a 1M-edge graph: 200k chains of length 10
    # (diameter 10 → pointer doubling needs ~4 rounds, not 10)
    from octopufs_spark.llm.dedup import connected_components

    edges = (
        spark.range(2_000_000)
        .where((F.col("id") % 10) != 9)  # break into chains of 10
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
        .localCheckpoint()
    )

    def cc_run(df):
        out = connected_components(edges, partitions=32)
        n = out.select("cluster_id").distinct().count()
        assert n == 200_000, n

    timed("connected components, 1.8M edges / 200k chains (diam 10)", lambda: edges, cc_run)

    # fs toolkit: list + du over a 2,000-file tree (object-store-ish
    # file counts; driver-threaded BFS)
    import shutil
    import tempfile
    from pathlib import Path

    from octopufs_spark.fs.core import get_size, list_tree

    root = Path(tempfile.mkdtemp(prefix="probe_fs_"))
    try:
        for d in range(40):
            (root / f"d{d}").mkdir()
            for f_i in range(50):
                (root / f"d{d}" / f"f{f_i}.bin").write_bytes(b"x" * 1024)
        t0 = time.perf_counter()
        els = list_tree(str(root))
        sz = get_size(str(root), skip_file_details=False).get_size_of_path(str(root))
        assert sz == 40 * 50 * 1024 and sum(1 for e in els if not e.is_dir) == 2000
        print(f"| threaded list+du, 2,000 files / 40 dirs | {time.perf_counter()-t0:.1f} s |")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _sessionize(events):
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    flag = F.when(ms - F.lag(ms).over(w) > 1_800_000, 1).otherwise(0)
    sess = events.select(
        "user_id",
        "ts",
        F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("sn"),
    )
    return sess.groupBy("user_id", "sn").agg(F.count("*").alias("c"))


def _topk(events):
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return events.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3)


if __name__ == "__main__":
    main()
