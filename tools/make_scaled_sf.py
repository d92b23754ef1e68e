"""Generate a larger scale factor by FK-preserving replication.

The driver ships sf0.001/0.01/0.1 only; the round-4 verdict (item 3)
asks for a bench sweep at sf1 because quadratic-ish candidate growth
(inverted-index joins, band occupancy, self-joins) hides at small
scale. This tool builds ``sf1``-shaped data from ``sf0.1`` by
replicating every scaling table K times with a disjoint key offset per
replica — exactly the TPC-H dbgen property the queries rely on:

- all integer keys (custkey/orderkey/partkey/suppkey/event_id/user_id/
  doc_id/vec_id) shift by ``replica * 10_000_000`` so joins stay
  referentially intact and per-key group sizes stay CONSTANT (the
  correct scaling model: 10x rows, 10x keys, not 10x-hot keys);
- fixed dimensions (region, nation) keep one copy;
- document text gets a per-replica BIJECTIVE word transform (every
  word suffixed with the replica salt): within-replica word-n-gram
  overlaps are exactly preserved while cross-replica shingle sets are
  disjoint, so near-dup cluster sizes stay constant and cluster count
  grows with the corpus (a single appended suffix token — the first
  version — left replicas at jaccard ≈ 0.97: K-clone clusters with
  C(K,2) true pairs, quadratic in K);
- embeddings get a deterministic per-replica SIGN-FLIP pattern
  (s[r,i] ∈ {±1} from a multiplicative hash): within a replica every
  pairwise cosine is EXACTLY preserved (signs cancel in the dot
  product), while cross-replica similarities decorrelate — i.e. the
  duplicate-cluster SIZE distribution stays constant and the cluster
  COUNT grows with the corpus, which is how real near-dup structure
  scales. (A tiny additive perturbation — the first version — made
  every vector a near-clone of its K-1 replicas: K-clone clusters and
  quadratic TRUE pair counts that no plan can avoid, a data artifact,
  not a scaling property.)

Usage: python tools/make_scaled_sf.py [K] [src_sf_dir] [out_dir]
Defaults: K 10, the sf0.1 test data, and .benchdata/sf1 under the checkout.
Output layout matches the driver's: ``<out>/<table>.parquet`` (dirs).
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

OFFSET = 10_000_000

KEY_COLS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
FIXED = ["region", "nation"]


def scale_table(df, table: str, k: int):
    out = None
    for r in range(k):
        rep = df
        for c in KEY_COLS[table]:
            rep = rep.withColumn(c, (F.col(c) + F.lit(r * OFFSET)).cast("long"))
        if table == "documents" and r > 0:
            # Per-replica BIJECTIVE word transform (the text analog of
            # the embedding sign-flip): every word gets the same
            # replica-salt suffix, so within-replica shingle overlaps
            # are EXACTLY preserved (word n-grams map 1:1) while
            # cross-replica shingle sets are disjoint — jaccard 0.
            # The first version appended ONE suffix token to the doc,
            # which changes a single shingle out of ~n: replicas stayed
            # mutual near-dups at jaccard ≈ 0.97, i.e. every doc became
            # a K-clone cluster with C(K,2) TRUE pairs — a quadratic
            # data artifact no dedup plan can avoid (measured: the
            # banded MinHash went 43x on 10x data at sf10 purely from
            # the generator). Cluster SIZES must stay constant and
            # cluster COUNT grow, exactly like the embedding model.
            rep = rep.withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda w: F.when(w == "", w).otherwise(
                            F.concat(w, F.lit(f"·{r}"))
                        ),
                    ),
                    " ",
                ),
            ).withColumn(
                "n_chars",
                F.length("text").cast(df.schema["n_chars"].dataType.simpleString()),
            )
        if table == "embeddings" and r > 0:
            # sign pattern s[r,i]: exact within-replica cosines, de-
            # correlated cross-replica (see module docstring). The
            # pattern bit MUST come from a full-width hash of (r, i):
            # a small-modulus formula (the first version used mod 7)
            # admits only as many distinct patterns as the modulus, so
            # replicas past that count repeat an earlier pattern
            # EXACTLY — reintroducing the giant exact-duplicate
            # clusters this model exists to avoid.
            rep = rep.withColumn(
                "embedding",
                F.transform(
                    F.col("embedding"),
                    lambda x, i: F.when(
                        F.pmod(F.xxhash64(F.lit(r), i), F.lit(2)) == 0, x
                    ).otherwise(-x),
                ),
            )
        out = rep if out is None else out.unionByName(rep)
    return out


def main() -> int:
    from octopufs_spark.session import get_spark
    from octopufs_spark.tables import load

    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out_dir = sys.argv[3] if len(sys.argv) > 3 else str(ROOT / ".benchdata" / "sf1")
    spark = get_spark("make_scaled_sf")
    spark.sparkContext.setLogLevel("ERROR")
    for t in FIXED:
        load(spark, src, t).write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
        print(f"{t}: copied")
    for t, _ in KEY_COLS.items():
        df = load(spark, src, t)
        scaled = scale_table(df, t, k)
        n_files = max(4, min(32, scaled.rdd.getNumPartitions()))
        scaled.repartition(n_files).write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
        print(f"{t}: {df.count()} -> {spark.read.parquet(f'{out_dir}/{t}.parquet').count()}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
