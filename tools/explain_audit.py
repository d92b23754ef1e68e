"""Generate PLANS.md: formatted physical plans of flagship queries with
a mechanical audit (pushed filters, pruned columns, broadcast usage,
exchange count, codegen coverage). Run after plan-affecting changes:

    python tools/explain_audit.py [sf_dir]

r9 verdict #6 — one-command baseline refresh + drift gate:

    python tools/explain_audit.py --refresh-baseline [sf_dir]
        regenerates PLANS.md AND copies BENCH_FULL.json to
        tools/bench_baseline.json in the same invocation, so the plan
        audit and the plan-metrics baseline can never be refreshed in
        separate commits against different records (the r9 flow needed
        two manual refresh commits and the ledger drifted between them).

    python tools/explain_audit.py --check
        Spark-free consistency gate (also run by pytest every suite
        run, tests/test_bench_metrics.py): fails when the committed
        baseline's query set drifted from BENCH_FULL.json's, or when
        PLANS.md's sections drifted from the FLAGSHIPS list here.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

FLAGSHIPS = [
    ("q_agg_sum_group", "decimal hash aggregate, map-side partial combine"),
    ("q_tpch_q5", "6-way join: facts shuffle, dims broadcast"),
    ("q_tpch_q17", "decorrelated scalar subquery via pre-aggregated join"),
    ("q_join_asof", "as-of join: one shuffle + carry-forward window"),
    ("q_join_interval", "range join as time-bucket equi join"),
    ("q_topk_orders", "TakeOrderedAndProject, no global sort"),
    ("q_ext_dedup_exact", "digest groupBy, uniform keys"),
    ("q_ext_simhash", "pure-JVM simhash fold + planted-clone contract joins"),
    ("q_filter_range", "predicate pushdown into the parquet scan"),
    ("q_scan_projection", "column pruning: 3-column ReadSchema"),
    ("q_tpch_q18", "IN-subquery over grouped HAVING as broadcast semi join"),
    ("q_stream_rollup_multires", "minute→hour→day cascade reduces prior aggregate"),
    ("q_ext_decontaminate", "eval 8-gram set broadcast; one groupBy on doc_id"),
    ("q_ext_sample_hash", "pure scan-side predicate, zero exchanges"),
    ("q_ts_gapfill", "sequence+explode spine, fill window in the user_id exchange"),
    ("q_ts_ewma", "8 lag taps in ONE Window operator, one exchange"),
    ("q_window_range_time", "time-RANGE frame over integer days"),
    ("q_ext_retention", "two user_id aggs + join in one exchange"),
    ("q_ext_sim_knn", "broadcast-block exact scorer: MapInPandas matmul, no pair join"),
    ("q_ext_neardup_cosine", "broadcast-block threshold pairs, no pair join"),
    ("q_ext_pii_scrub", "regexp scrub chain in one codegen stage, no shuffle"),
    ("q_join_lateral_topn", "correlated LATERAL decorrelated to a ranked window join"),
    ("q_sql_recursive_hierarchy", "depth-bounded recursive CTE: one hash join per level"),
    ("q_scan_python_ds", "custom Python DataSource: Arrow batches per InputPartition"),
    ("q_ext_cluster_kmeans", "broadcast centroid join + window argmin, corpus-linear"),
    ("q_ext_ann_lsh_det", "deterministic LSH: bucket-key shuffle, exact integer scoring"),
    ("q_ext_dedup_minhash_det", "md5 MinHash: explode -> signature agg -> band equi-join"),
    ("q_join_salted", "skew salting: 8-way hot-key spread, dim replicated per salt"),
    ("q_ext_seq_pack", "per-lang cumsum window, no global sort"),
    ("q_agg_sketch_cardinality", "partial HLL/Theta sketches, few-KB merge shuffle"),
    ("q_ext_ann_opq", "OPQ: pair-mixing groupBy, broadcast codebook, (subspace,code) equi-join"),
    ("q_ext_ann_opq_trained", "trained OPQ: 4-candidate err argmin joined lazily, no collect"),
    ("q_ext_bpe_train", "BPE training: vocab-bounded rounds, 1-row rule broadcasts"),
    ("q_ext_ann_index_quality", "index eval: broadcast query block + equi-join index pipelines"),
    ("q_ext_profile", "no-Expand profiler: narrow exploded two-stage distinct + plain min/max agg"),
    ("q_window_percent_cume", "global PERCENT_RANK/CUME_DIST via two-pass row number, no single-partition window"),
    ("q_window_dense_ntile", "global DENSE_RANK/NTILE via distinct-rank join + rank arithmetic, no single-partition window"),
    ("q_ext_dedup_semantic_det", "adaptive-plane det LSH: bucket count grows with corpus, pair join density constant"),
    ("q_ext_ann_opq_alt", "full alternating OPQ: k-means centroid refresh + rotation argmin, broadcast codebooks"),
    ("q_ext_delete_vectors_pos", "positional MOR delete: _metadata anti-join, KB commit, no rewrite"),
    ("q_ext_dedup_minhash_banded", "adaptive-banding MinHash: one-fold signature, (band,key) equi-join, exact verify"),
    ("q_ext_shuffle_order", "deterministic training shuffle: per-shard parallel rank windows, no global sort"),
    ("q_ext_logreg_train", "distributed GD: map-side-combinable gradient agg, model-only driver traffic"),
    ("q_ext_source_contamination", "single tokenize pass: digest shingles, collect_list fold-out, no self-join"),
    ("q_ext_char_entropy", "27 fused len-replace counters per row, no explode, codegen scan"),
    ("q_sql_scalar_subquery", "correlated scalars decorrelated to one grouped left join + 1-row broadcast"),
    ("q_graph_components", "label propagation on derived edges: bounded per-round shuffles"),
    ("q_sink_bucketed", "bucketBy(8)+sortBy write pair: SMJ with ZERO exchange/sort on either side"),
    ("q_ext_partition_evolution", "spec evolution: per-commit basePath scan groups unioned, dual-metadata pruning"),
    ("q_ext_wap_publish", "WAP: stage/audit/publish are manifest-only; phase reads stay plain parquet scans + one-exchange aggs"),
    ("q_ext_materialized_view", "incremental MV: delta folds scan ONLY the appended files; merge is a KB-sized groupBy"),
    ("q_ext_multitable_txn", "multi-table txn: catalog flip is metadata-only; phase joins broadcast the pinned dim"),
]


def audit(plan: str) -> list[str]:
    notes = []
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    if m and m.group(1).strip():
        notes.append(f"pushed filters: `{m.group(1)[:100]}`")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    if m:
        notes.append(f"scan reads {m.group(1).count(':')} columns")
    n_bhj = plan.count("BroadcastHashJoin")
    n_smj = plan.count("SortMergeJoin")
    if n_bhj or n_smj:
        notes.append(f"joins: {n_bhj} broadcast-hash, {n_smj} sort-merge")
    notes.append(f"exchanges: {plan.count('Exchange')}")
    n_codegen = len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan)))
    if n_codegen:
        notes.append(f"whole-stage codegen spans: {n_codegen}")
    if "TakeOrderedAndProject" in plan:
        notes.append("top-k via TakeOrderedAndProject (no global sort)")
    if "CartesianProduct" in plan:
        notes.append("WARNING: cartesian product")
    if "Exchange SinglePartition" in plan:
        notes.append("WARNING: single-partition exchange (serializes through one task)")
    return notes


def check_baselines(repo: str = str(ROOT)) -> list[str]:
    """Spark-free drift gate between the three committed plan artifacts:
    BENCH_FULL.json (the latest full record), tools/bench_baseline.json
    (the regression-gate baseline), and PLANS.md (the flagship audit).
    Returns human-readable problems; empty means in sync. Run by pytest
    on every suite run so a refresh can never land half-done."""
    problems: list[str] = []
    try:
        record = json.load(open(f"{repo}/BENCH_FULL.json"))
        baseline = json.load(open(f"{repo}/tools/bench_baseline.json"))
    except (OSError, ValueError) as e:
        return [f"cannot read bench records: {e}"]
    rq = set((record.get("plan_metrics") or {}))
    bq = set((baseline.get("plan_metrics") or {}))
    if rq != bq:
        extra = sorted(rq - bq)[:5]
        gone = sorted(bq - rq)[:5]
        problems.append(
            "bench_baseline.json query set drifted from BENCH_FULL.json "
            f"(in record only: {extra or '[]'}; in baseline only: {gone or '[]'}) "
            "— run tools/explain_audit.py --refresh-baseline"
        )
    try:
        plans = open(f"{repo}/PLANS.md").read()
    except OSError as e:
        return problems + [f"cannot read PLANS.md: {e}"]
    sections = set(re.findall(r"^## (\S+)$", plans, flags=re.M))
    declared = {name for name, _ in FLAGSHIPS}
    if sections != declared:
        missing = sorted(declared - sections)[:5]
        stale = sorted(sections - declared)[:5]
        problems.append(
            f"PLANS.md sections drifted from FLAGSHIPS (missing: {missing or '[]'}; "
            f"stale: {stale or '[]'}) — run tools/explain_audit.py --refresh-baseline"
        )
    return problems


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    if "--check" in flags:
        problems = check_baselines()
        for p in problems:
            print(p)
        if not problems:
            print("ok: PLANS.md + bench_baseline.json in sync with BENCH_FULL.json")
        raise SystemExit(1 if problems else 0)

    from octopufs_spark.registry import all_queries
    from octopufs_spark.session import get_spark

    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    spark = get_spark("explain_audit")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    out = [
        "# PLANS — physical-plan audit of flagship queries",
        "",
        f"Auto-generated by `tools/explain_audit.py` at `{sf_dir}`.",
        "Each plan is the Catalyst physical plan before AQE runtime",
        "re-optimization (AQE additionally coalesces shuffle partitions",
        "and may convert sort-merge joins to broadcast at runtime).",
        "",
    ]
    for name, why in FLAGSHIPS:
        df = queries[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out.append(f"## {name}")
        out.append(f"*{why}*")
        out.append("")
        for note in audit(plan):
            out.append(f"- {note}")
        out.append("")
        out.append("```")
        # keep the tree structure lines, trim attribute noise
        tree = [
            line
            for line in plan.splitlines()
            if line.strip() and not line.lstrip().startswith("+- == ")
        ][:40]
        out.extend(line.rstrip()[:120] for line in tree)
        out.append("```")
        out.append("")
    with open(ROOT / "PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(FLAGSHIPS)} queries)")
    if "--refresh-baseline" in flags:
        record = json.load(open(ROOT / "BENCH_FULL.json"))
        with open(ROOT / "tools" / "bench_baseline.json", "w") as f:
            json.dump(record, f, indent=1)
        print(
            "refreshed tools/bench_baseline.json from BENCH_FULL.json "
            f"({len(record.get('plan_metrics') or {})} queries, "
            f"sf {record.get('sf')})"
        )
        problems = check_baselines()
        for p in problems:
            print(f"STILL DRIFTED: {p}")
        if problems:
            raise SystemExit(1)


if __name__ == "__main__":
    main()
