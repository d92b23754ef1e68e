"""Distributed k-means (Lloyd's) over embedding columns, built to be
bit-deterministic across engines.

Floating-point k-means is not reproducible across engines (sum order
changes centroid low bits, which can flip assignments near Voronoi
boundaries), so this implementation runs ENTIRELY in integer space:

* embeddings are quantized once: ``round(x * scale)`` per element
  (ties round away from zero in both Spark and DuckDB);
* distances are exact integer sums of squared differences (JVM
  ``zip_with``/``aggregate`` fold — no Python, no doubles);
* centroid updates are ``floor(sum / count)`` where the division is a
  single IEEE double op on exactly-representable integers — identical
  in Spark, DuckDB, and Python;
* ties in the argmin break to the lowest cluster id.

The same algorithm is therefore expressible as unrolled SQL (see
queries/spark4.py::q_ext_cluster_kmeans's oracle), giving a FULL
value-level correctness gate for an iterative ML operator — rare for
clustering, which is usually only checkable by weak invariants.

Scale shape: each iteration is one scan + one (cluster, position)
aggregation; centroids live driver-side as k*dim ints (k=4, dim=64 →
256 values, independent of corpus size) and are pushed back in as
literals, so the per-iteration shuffle is k*dim rows regardless of
row count. The quantized table is localCheckpointed once and reused
by all iterations. The reference has no clustering operator; this is
beyond-reference surface for training-data pipelines (corpus
bucketing before per-cluster dedup/sampling).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quantize(df: DataFrame, col: str = "embedding", scale: int = 1000) -> DataFrame:
    """(vec_id, qv): embedding quantized to array<bigint> at ``scale``."""
    return df.select(
        "vec_id",
        F.transform(F.col(col), lambda x: F.round(x * scale).cast("long")).alias("qv"),
    )


def centroid_df(q: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """Literal centroids as a broadcastable (cluster, cv) table."""
    spark = q.sparkSession
    return spark.createDataFrame(
        [(i, [int(x) for x in c]) for i, c in enumerate(centroids)],
        "cluster bigint, cv array<bigint>",
    )


def _ranked_cells_expr(centroids: list[list[int]]) -> F.Column:
    """Sorted array<struct<d, cluster>> of exact integer distances to
    every centroid, rendered as ONE SQL expression over a nested
    literal (one gateway call; the JVM parses the k*dim ints in
    milliseconds). array_sort on the (d, cluster) struct orders by d
    then cluster — the same ORDER BY d, cluster tie-break as the old
    row_number window."""
    cents = ",".join(
        "struct({i} as cluster, array({vals}) as cv)".format(
            i=i, vals=",".join(f"{int(x)}L" for x in c)
        )
        for i, c in enumerate(centroids)
    )
    return F.expr(
        f"array_sort(transform(array({cents}), c -> struct("
        "aggregate(zip_with(qv, c.cv, (a, b) -> (a - b) * (a - b)), "
        "cast(0 as bigint), (acc, x) -> acc + x) as d, "
        "cast(c.cluster as bigint) as cluster)))"
    )


def rank_cells(q: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """(vec_id, qv, cluster, d, crn): every centroid ranked per vector
    by exact integer distance, ties to the lowest cluster id — the
    shared primitive behind k-means assignment (crn=1) and IVF cell
    probing (crn<=n_probe). r10 (guide §2.4): the ranking is a pure
    per-row map — distances to the literal centroids sorted in ONE
    array expression, position = rank — replacing the broadcast k-row
    join + row_number window, which paid a full shuffle+sort of n*k
    rows per call (and per k-means iteration). Centroids are driver
    literals either way; no data moves at all until the caller
    aggregates."""
    return q.select(
        "vec_id", "qv", F.posexplode(_ranked_cells_expr(centroids)).alias("pos", "s")
    ).select(
        "vec_id",
        "qv",
        F.col("s.cluster").alias("cluster"),
        F.col("s.d").alias("d"),
        (F.col("pos") + 1).cast("int").alias("crn"),
    )


def assign_clusters(q: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """Adds ``cluster``: argmin of exact distances, ties to lowest id.
    Pure map — element 1 of the sorted distance array; no explode, no
    shuffle."""
    return q.select(
        "vec_id",
        "qv",
        F.element_at(_ranked_cells_expr(centroids), 1)["cluster"].alias("cluster"),
    )


def kmeans_int(
    df: DataFrame,
    k: int = 4,
    iters: int = 3,
    col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Deterministic Lloyd's iterations; returns (vec_id, cluster).

    Init: the quantized vectors of the k lowest vec_ids (seed-free and
    SQL-reproducible). An emptied cluster keeps its previous centroid.
    """
    q = quantize(df, col=col, scale=scale).localCheckpoint()
    centroids = kmeans_centroids(q, k=k, iters=iters)
    return assign_clusters(q, centroids).select("vec_id", "cluster")


def kmeans_centroids(q: DataFrame, k: int, iters: int) -> list[list[int]]:
    """Run the Lloyd's update loop on an already-quantized (vec_id, qv)
    table and return the final integer centroids (k * dim ints,
    driver-side). Shared by the clustering query and the deterministic
    IVF coarse quantizer."""
    init_rows = q.where(F.col("vec_id") < k).orderBy("vec_id").collect()
    if len(init_rows) < k:
        raise ValueError(f"need at least {k} vectors with vec_id < {k}")
    centroids = [list(r["qv"]) for r in init_rows]
    dim = len(centroids[0])
    for _ in range(iters):
        assigned = assign_clusters(q, centroids)
        stats = (
            assigned.select("cluster", F.posexplode("qv").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
            .collect()  # bounded: k * dim rows, independent of corpus size
        )
        by_cluster: dict[int, dict[int, tuple[int, int]]] = {}
        for r in stats:
            by_cluster.setdefault(r["cluster"], {})[r["pos"]] = (r["s"], r["n"])
        centroids = [
            [
                # Cast s to double BEFORE dividing: Python's `s / n` on
                # ints is the correctly-rounded true quotient of exact
                # integers, while the SQL oracle computes
                # FLOOR(CAST(s AS DOUBLE)/n) — once s exceeds 2^53 the
                # two can differ by one ulp and flip the floor. float(s)
                # reproduces the oracle's double-cast-then-divide.
                math.floor(float(by_cluster[c][p][0]) / float(by_cluster[c][p][1]))
                for p in range(dim)
            ]
            if c in by_cluster
            else centroids[c]
            for c in range(k)
        ]
    return centroids
