"""Similarity search over embedding columns.

Exact brute-force cosine top-k (the correctness baseline) and a
random-hyperplane LSH-bucketed approximate variant (the 100 TB path:
candidates come from bucket-equality joins, so cost scales with bucket
population, not n²). Dot products run JVM-side via higher-order array
functions — no Python in the scoring loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<double> columns (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, z: acc + z
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_topk_exact(
    vecs: DataFrame, k: int = 5, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact all-pairs cosine top-k per query vector.

    O(n²) scoring — correct baseline for small candidate sets (and the
    verifier for ANN recall). Returns [vec_a, vec_b, cos_sim, rn].
    cos_sim is rounded to 6 decimals to absorb cross-engine
    accumulation drift in the oracle comparison.
    """
    from pyspark.sql.window import Window

    v = vecs.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("emb")
    ).withColumn("norm", F.sqrt(dot(F.col("emb"), F.col("emb"))))
    a, b = v.alias("a"), v.alias("b")
    # norms precomputed per vector (sqrt(dot(x,x)) once, not per pair);
    # norm_a*norm_b is bit-identical to the naive per-pair expression.
    pairs = a.join(b, F.col(f"a.{id_col}") != F.col(f"b.{id_col}")).select(
        F.col(f"a.{id_col}").alias("vec_a"),
        F.col(f"b.{id_col}").alias("vec_b"),
        F.round(
            dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.norm") * F.col("b.norm")), 6
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("vec_a").orderBy(F.desc("cos_sim"), F.asc("vec_b"))
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= k)
    )


def cosine_near_dup_pairs(
    vecs: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cos_sim) with
    a < b and cos_sim ≥ threshold.

    Exact all-pairs variant — the correctness baseline. The 100 TB
    scale path replaces the cross join with the LSH bucket join
    (``cosine_topk_ann``'s candidate generation) so only same-bucket
    pairs are scored.
    """
    v = vecs.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("emb")
    ).withColumn("norm", F.sqrt(dot(F.col("emb"), F.col("emb"))))
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
            F.round(
                dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.norm") * F.col("b.norm")), 6
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def _collect_block(
    vecs: DataFrame, id_col: str, vec_col: str, cap: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Collect a BOUNDED vector block to the driver (ids, matrix, norms).

    Raises if the block exceeds ``cap`` — this is the broadcast side of
    a block-broadcast scorer and must stay small (an eval/query set,
    not a corpus). Same bounded-collect contract as the IVF fit sample.
    """
    rows = vecs.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("emb")
    ).limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"broadcast block exceeds cap={cap} rows; use the LSH/IVF ANN "
            "path for corpus-vs-corpus similarity"
        )
    ids = np.array([r[0] for r in rows], dtype="int64")
    m = np.stack([np.asarray(r[1], dtype="float64") for r in rows])
    norms = np.maximum(np.sqrt((m * m).sum(axis=1)), 1e-300)
    return ids, m, norms


def cosine_topk_broadcast(
    index: DataFrame,
    queries: DataFrame | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_cap: int = 100_000,
) -> DataFrame:
    """Exact cosine top-k of a bounded query block against a corpus,
    with the scale-correct plan shape: queries are collected once
    (bounded by ``query_cap``), broadcast to every task, and the corpus
    streams through ``mapInPandas`` — one numpy matmul per Arrow batch,
    a per-batch partial top-k, then one tiny global top-k window over
    ≤ n_batches·n_queries·k candidate rows.

    No pair-product join exists in the plan: corpus bytes are read
    once, never shuffled against themselves (the shuffle carries only
    partial top-k triples). This is how exact scoring survives 100 TB —
    broadcast the small side, shard the big side — and it replaces the
    all-pairs self-join (``cosine_topk_exact``, now the pytest-only
    recall verifier). ``queries=None`` means self-kNN over ``index``
    (self-pairs excluded). Returns [vec_a, vec_b, cos_sim, rn].
    """
    from pyspark.sql.window import Window

    spark = index.sparkSession
    qids, qm, qnorm = _collect_block(queries if queries is not None else index,
                                     id_col, vec_col, query_cap)
    bc = spark.sparkContext.broadcast((qids, qm / qnorm[:, None]))

    def score(batches):
        b_qids, b_qm = bc.value
        for pdf in batches:
            m = np.stack(pdf["emb"].to_numpy())
            inorm = np.maximum(np.sqrt((m * m).sum(axis=1)), 1e-300)
            sims = b_qm @ (m / inorm[:, None]).T  # (n_q, batch)
            iids = pdf["vid"].to_numpy()
            kk = min(k + 1, sims.shape[1])  # +1 absorbs the self pair
            part = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            out_a, out_b, out_s = [], [], []
            for r in range(sims.shape[0]):
                for c in part[r]:
                    if iids[c] != b_qids[r]:
                        out_a.append(b_qids[r])
                        out_b.append(int(iids[c]))
                        out_s.append(round(float(sims[r, c]), 6))
            yield pd.DataFrame({"vec_a": out_a, "vec_b": out_b, "cos_sim": out_s})

    v = index.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("emb")
    )
    partial = v.mapInPandas(score, "vec_a long, vec_b long, cos_sim double")
    w = Window.partitionBy("vec_a").orderBy(F.desc("cos_sim"), F.asc("vec_b"))
    return partial.withColumn("rn", F.row_number().over(w).cast("long")).where(
        F.col("rn") <= k
    )


def cosine_near_dup_pairs_broadcast(
    index: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_cap: int = 100_000,
) -> DataFrame:
    """Exact above-threshold cosine pairs (vec_a < vec_b) of a bounded
    block against itself, broadcast-block shaped: one matmul per Arrow
    batch of the streamed side, threshold applied inside the batch, no
    pair-product join in the plan (cf. ``cosine_topk_broadcast``).

    Replaces the all-pairs self-join registration of
    ``cosine_near_dup_pairs`` (kept as the pytest recall verifier).
    For corpus-vs-corpus near-dup at scale use
    ``cosine_near_dup_pairs_ann``. Returns [vec_a, vec_b, cos_sim].
    """
    spark = index.sparkSession
    qids, qm, qnorm = _collect_block(index, id_col, vec_col, query_cap)
    bc = spark.sparkContext.broadcast((qids, qm / qnorm[:, None]))

    def score(batches):
        b_qids, b_qm = bc.value
        for pdf in batches:
            m = np.stack(pdf["emb"].to_numpy())
            inorm = np.maximum(np.sqrt((m * m).sum(axis=1)), 1e-300)
            sims = b_qm @ (m / inorm[:, None]).T  # (n_q, batch)
            iids = pdf["vid"].to_numpy()
            # vec_a < vec_b keeps each unordered pair exactly once even
            # though the broadcast block and the stream are the same set
            qa, ic = np.nonzero(np.round(sims, 6) >= threshold)
            keep = b_qids[qa] < iids[ic]
            yield pd.DataFrame(
                {
                    "vec_a": b_qids[qa[keep]],
                    "vec_b": iids[ic[keep]].astype("int64"),
                    "cos_sim": np.round(sims[qa[keep], ic[keep]], 6),
                }
            )

    v = index.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("emb")
    )
    return v.mapInPandas(score, "vec_a long, vec_b long, cos_sim double")


def hyperplane_lsh_buckets(
    vecs: DataFrame,
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-of-projection LSH bucket id per vector (random hyperplanes).

    The plane matrix is generated driver-side from a fixed seed and
    captured in the UDF closure — shipped once per task, no shuffle.
    Projection runs as one Arrow-batched numpy matmul per batch
    (building it from per-element Catalyst literals instead compiles a
    pathological codegen method). Bucket = n_planes-bit signature.
    """
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))

    @pandas_udf("string")
    def bucket_udf(embs: pd.Series) -> pd.Series:
        m = np.stack(embs.to_numpy())  # (batch, dim)
        signs = (m @ planes.T) >= 0
        return pd.Series(["".join("1" if b else "0" for b in row) for row in signs])

    v = vecs.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("emb"))
    return v.withColumn("bucket", bucket_udf(F.col("emb")))


def hyperplane_lsh_multi(
    vecs: DataFrame,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """OR-amplified multi-table LSH: one (table, bucket) row per vector
    per table.

    A single signature's recall decays as p^n_planes; n_tables
    independent plane sets recover it as 1-(1-p^b)^L without widening
    buckets. All tables' signatures come out of ONE Arrow-batched
    matmul per batch (einsum over a (tables, planes, dim) tensor), then
    explode — no per-table passes over the data.
    """
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim))
    weights = 1 << np.arange(n_planes)

    @pandas_udf("array<string>")
    def buckets_udf(embs: pd.Series) -> pd.Series:
        m = np.stack(embs.to_numpy())  # (batch, dim)
        signs = np.einsum("bd,tpd->btp", m, planes) >= 0  # (batch, tables, planes)
        codes = (signs * weights).sum(axis=2)  # (batch, tables)
        return pd.Series([[f"{t}:{int(c)}" for t, c in enumerate(row)] for row in codes])

    v = vecs.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("emb"))
    return v.withColumn("tb", F.explode(buckets_udf(F.col("emb"))))


def cosine_near_dup_pairs_ann(
    vecs: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs via multi-table LSH candidates — the scale
    path that replaces ``cosine_near_dup_pairs``'s O(n²) self-join.

    Shuffles on (table, bucket); only same-bucket pairs are scored, and
    a pair colliding in several tables is scored once (dropDuplicates
    on the id pair *before* the dot product). Tune n_planes to the
    threshold: high thresholds (0.9) keep buckets tiny at b=8; chasing
    low thresholds needs fewer planes + more tables and approaches
    all-pairs cost — which is inherent to LSH, not this implementation.
    Returns [vec_a, vec_b, cos_sim] with vec_a < vec_b.

    Precondition: ``id_col`` is unique in ``vecs``. Embeddings attach to
    the deduplicated candidate pairs by id, so a repeated id would fan
    out into repeated output rows; dedup the input first if it may
    hold duplicates.
    """
    b = hyperplane_lsh_multi(vecs, dim, n_planes, n_tables, seed, id_col, vec_col)
    # Decide on thin proxies, attach payloads once (r11, guide §8/§2.3):
    # the old shape self-joined the exploded (id, emb, tb) stream, so
    # (a) the bucket-UDF matmul ran TWICE over the corpus (one per join
    # side), and (b) every vector's dim-wide embedding crossed the
    # bucket-key exchange n_tables times per side. Now the bucket index
    # is materialized ONCE as bare (id, tb) rows — the UDF runs once,
    # the self-join shuffles two scalar columns — candidate ids dedup
    # BEFORE scoring (a pair colliding in several tables is scored
    # once, same as the old post-score dropDuplicates), and embeddings
    # attach to the surviving pairs by id. Same candidate set, same
    # rounded scores, same output rows.
    bk = b.select(F.col(id_col), "tb").localCheckpoint()
    cand = (
        bk.alias("a")
        .join(
            bk.alias("b"),
            (F.col("a.tb") == F.col("b.tb"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    ve = vecs.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("emb")
    ).withColumn("norm", F.sqrt(dot(F.col("emb"), F.col("emb"))))
    scored = (
        cand.join(
            ve.select(
                F.col(id_col).alias("vec_a"),
                F.col("emb").alias("emb_a"),
                F.col("norm").alias("norm_a"),
            ),
            "vec_a",
        )
        .join(
            ve.select(
                F.col(id_col).alias("vec_b"),
                F.col("emb").alias("emb_b"),
                F.col("norm").alias("norm_b"),
            ),
            "vec_b",
        )
        .select(
            "vec_a",
            "vec_b",
            F.round(
                dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b")),
                6,
            ).alias("cos_sim"),
        )
    )
    return scored.where(F.col("cos_sim") >= threshold)


def cosine_topk_ivf(
    vecs: DataFrame,
    k: int = 5,
    n_clusters: int | None = 16,
    n_probe: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_fraction: float = 0.1,
    fit_cap: int = 100_000,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means cells partition
    the vector space; each vector is indexed under its nearest centroid
    and each query probes its ``n_probe`` nearest centroids' lists.

    The alternative bucketing strategy to random-hyperplane LSH:
    data-adaptive cells (better for clustered embeddings) at the cost
    of a training pass. Centroids train on a seeded sample capped at
    ``fit_cap`` rows, collected to the driver and fit with numpy
    spherical k-means — bounded O(cap·k·dim·iters) work independent of
    table size, and zero Spark jobs per Lloyd iteration (a
    cluster-side fit costs one full pass per iteration and buys no
    recall, which is governed by n_probe). At 100 TB the centroid
    matrix is tiny and ships in the UDF closure.

    Scoring shuffles each vector to its cell(s) ONCE — queries to
    every probed cell, index vectors to their home cell — and scores
    the whole cell with a single numpy matmul (applyInPandas). That is
    the canonical IVF cost model: bytes moved ∝ n·(n_probe+1)·dim,
    compute ∝ cell_population × probes — versus a pair-materializing
    join whose transfer/compute is ∝ candidate PAIRS (cell_size× more).
    Each cell emits per-query top-k; the global window then reduces
    n_probe·k candidates per query. Returns [vec_a, vec_b, cos_sim, rn].
    """
    from pyspark.sql.window import Window

    v = vecs.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("emb"))
    if n_clusters is None:
        # the canonical IVF sizing: nlist ≈ sqrt(N) keeps per-query
        # scan work at ~n_probe·sqrt(N) rows — total O(N^1.5) instead
        # of the O(N²/nlist) a FROZEN cell count degrades to (the sf10
        # probe measured exactly that: 714 s at 100x with nlist=16)
        import math as _math

        n_clusters = max(16, min(4096, int(_math.isqrt(v.count()))))
    sample = [
        r[0] for r in v.sample(fraction=fit_fraction, seed=seed).limit(fit_cap).select("emb").collect()
    ]
    if len(sample) < n_clusters * 4:  # tiny input: sample can't carve the cells
        sample = [r[0] for r in v.limit(fit_cap).select("emb").collect()]
    c_norm = _spherical_kmeans(np.stack(sample), min(n_clusters, len(sample)), seed)

    @pandas_udf("array<int>")
    def probe_udf(embs: pd.Series) -> pd.Series:
        m = np.stack(embs.to_numpy())
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ c_norm.T  # (batch, n_clusters)
        top = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in top])

    # One Arrow-batched pass computes the probe list; the index cell is
    # its first element (nearest centroid). Norms precomputed at index
    # time.
    probed = v.select(
        F.col(id_col),
        "emb",
        probe_udf(F.col("emb")).alias("probes"),
        F.sqrt(dot(F.col("emb"), F.col("emb"))).alias("norm"),
    )
    queries = probed.select(
        F.col(id_col).alias("vid"),
        "emb",
        "norm",
        F.explode("probes").alias("cluster"),
        F.lit(True).alias("is_query"),
    )
    index = probed.select(
        F.col(id_col).alias("vid"),
        "emb",
        "norm",
        F.element_at("probes", 1).alias("cluster"),
        F.lit(False).alias("is_query"),
    )

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf[pdf["is_query"]]
        i = pdf[~pdf["is_query"]]
        if q.empty or i.empty:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos_sim": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"}
            )
        qm = np.stack(q["emb"].to_numpy())
        im = np.stack(i["emb"].to_numpy())
        sims = (qm @ im.T) / np.outer(q["norm"].to_numpy(), i["norm"].to_numpy())
        qa = q["vid"].to_numpy()
        ib = i["vid"].to_numpy()
        out_a, out_b, out_s = [], [], []
        kk = min(k + 1, sims.shape[1])  # +1: the self pair may rank first
        part = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
        for r in range(sims.shape[0]):
            for c in part[r]:
                if ib[c] != qa[r]:
                    out_a.append(qa[r])
                    out_b.append(ib[c])
                    out_s.append(round(float(sims[r, c]), 6))
        return pd.DataFrame({"vec_a": out_a, "vec_b": out_b, "cos_sim": out_s})

    tagged = queries.unionByName(index)
    scored = tagged.groupBy("cluster").applyInPandas(
        score_cell, "vec_a long, vec_b long, cos_sim double"
    )
    w = Window.partitionBy("vec_a").orderBy(F.desc("cos_sim"), F.asc("vec_b"))
    return scored.withColumn("rn", F.row_number().over(w).cast("long")).where(F.col("rn") <= k)


def _spherical_kmeans(X: np.ndarray, k: int, seed: int, iters: int = 5) -> np.ndarray:
    """Seeded driver-side spherical k-means: unit-normalized points,
    cosine assignment, mean-then-renormalize update. Returns (k, dim)
    unit centroid matrix. Input is pre-capped by the caller, so this is
    bounded work however large the source table is."""
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    centroids = Xn[rng.choice(len(Xn), size=k, replace=False)].copy()
    for _ in range(iters):
        assign = (Xn @ centroids.T).argmax(axis=1)
        for j in range(k):
            members = Xn[assign == j]
            if len(members):
                centroids[j] = members.mean(axis=0)
        centroids /= np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    return centroids


def adaptive_n_planes(
    count: int, target_bucket: int = 32, floor: int = 8, cap: int = 24
) -> int:
    """Plane count for a corpus of ``count`` vectors: enough planes
    that expected bucket occupancy stays ≈ target. A FIXED plane count
    is the quadratic-at-scale trap the sf10 probe caught twice (184 s
    LSH / 714 s IVF at 100x): bucket count frozen while density grows
    linearly makes the within-bucket pair join grow quadratically.
    Buckets must track the corpus — planes ≈ log2(count / target) —
    exactly the ladder the deterministic path uses, here as a plain
    int for seeded-plane generation."""
    planes = floor
    while planes < cap and count > target_bucket * (1 << planes):
        planes += 1
    return planes


def cosine_topk_ann(
    vecs: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int | None = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k: score only within LSH buckets.

    At scale: shuffle on bucket (uniform-ish), per-bucket pairwise
    scoring. Recall is tuned by n_planes (fewer planes → bigger buckets
    → higher recall, more compute); ``n_planes=None`` sizes the plane
    count to the corpus via :func:`adaptive_n_planes` (one COUNT job)
    so bucket density — and the pair join — stays bounded as the
    corpus grows. Returns [vec_a, vec_b, cos_sim, rn].
    """
    from pyspark.sql.window import Window

    if n_planes is None:
        n_planes = adaptive_n_planes(vecs.count())
    b = hyperplane_lsh_buckets(vecs, dim, n_planes, seed, id_col, vec_col)
    bn = b.withColumn("norm", F.sqrt(dot(F.col("emb"), F.col("emb"))))
    lhs, rhs = bn.alias("a"), bn.alias("b")
    pairs = lhs.join(
        rhs,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("vec_a"),
        F.col(f"b.{id_col}").alias("vec_b"),
        F.round(
            dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.norm") * F.col("b.norm")), 6
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("vec_a").orderBy(F.desc("cos_sim"), F.asc("vec_b"))
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= k)
    )


# ---------------------------------------------------------------------------
# Deterministic (SQL-replayable) LSH ANN
# ---------------------------------------------------------------------------

DET_MOD = 2001
DET_SHIFT = 1000
DET_SCALE = 1000


_SM_MASK = (1 << 64) - 1


def _splitmix64(k: int) -> int:
    """Finalizer-quality integer hash (splitmix64 mix): every output
    bit depends nonlinearly on every input bit."""
    z = (k * 0x9E3779B97F4A7C15) & _SM_MASK
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _SM_MASK
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _SM_MASK
    return z ^ (z >> 31)


def deterministic_planes(n_planes: int, dim: int) -> list[list[int]]:
    """Integer hyperplanes hashed from the coefficient index:
    h[j][i] = splitmix64(j*dim+i) % 2001 - 1000. Crucially not
    seed-state-dependent — the matrix is a pure function of (j, i) —
    so both the Spark plan and a SQL oracle embed the IDENTICAL
    literal matrix (the oracle inlines these values; it does not need
    to recompute the hash in SQL).

    The mixing must be finalizer-grade: the first version used a bare
    multiplicative hash ((j*dim+i)*2654435761) % 2001, which makes
    every plane a dim-wide window of ONE arithmetic progression mod
    2001 — plane j' is plane j plus a near-constant shift, so bucket
    bits never multiply independence. Measured on sf10 embeddings
    (200k rows, 16 planes): candidate pairs ~35× the independent-plane
    expectation (~100M pairs, a 507 s query). splitmix64 coefficients
    restore per-plane independence at identical plan shape."""
    return [
        [_splitmix64(j * dim + i) % DET_MOD - DET_SHIFT for i in range(dim)]
        for j in range(n_planes)
    ]


def det_lsh_index(
    vecs: DataFrame,
    dim: int,
    n_planes: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, qv, bucket, nn): quantized vectors with their
    deterministic-plane LSH bucket and exact integer squared norm —
    the shared index behind the verifiable top-k and near-dup pair
    paths."""
    planes = deterministic_planes(n_planes, dim)
    q = vecs.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: F.round(x * DET_SCALE).cast("long")).alias("qv"),
    )

    # The whole bucket is ONE rendered SQL expression (r10, guide §1.2
    # step 2): the previous per-plane Python loop built n_planes × dim
    # individual literal Columns — thousands of py4j round-trips — and
    # plan CONSTRUCTION alone cost 2.8-4.4 s per invocation at
    # (16, 64), more than executing the index (2.7 s). Rendering the
    # plane matrix as a nested array literal inside one expr() is a
    # single gateway call; the JVM parses it in milliseconds. The
    # arithmetic is identical: bit j = sign of the exact integer dot
    # (same zip_with multiply + left-to-right sum), and the descending
    # fold acc*2 + bit_j reproduces sum(bit_j << j) exactly.
    mat = ",".join(
        "array(" + ",".join(f"{int(c)}L" for c in plane) + ")" for plane in planes
    )
    dot_j = (
        f"aggregate(zip_with(qv, element_at(array({mat}), j + 1), "
        "(x, y) -> x * y), cast(0 as bigint), (acc, x) -> acc + x)"
    )
    bucket = F.expr(
        f"aggregate(sequence({n_planes - 1}, 0, -1), cast(0 as bigint), "
        f"(acc, j) -> acc * 2 + IF({dot_j} > 0, cast(1 as bigint), cast(0 as bigint)))"
    )
    return q.select(
        "vec_id",
        "qv",
        bucket.cast("long").alias("bucket"),
        F.expr(
            "aggregate(zip_with(qv, qv, (x, y) -> x * y), "
            "cast(0 as bigint), (acc, x) -> acc + x)"
        ).alias("nn"),
    )


def det_lsh_index_adaptive(
    vecs: DataFrame,
    dim: int,
    max_planes: int = 16,
    target_bucket: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`det_lsh_index` with the corpus-adaptive bucket modulus
    applied — the det-LSH index shape every registered det query uses,
    shared so the Spark side and the oracle's ``_det_qb_cte`` rendering
    cannot disagree about masking."""
    b = det_lsh_index(vecs, dim, max_planes, id_col, vec_col)
    mod = adaptive_bucket_modulus(vecs, target_bucket, max_planes)
    return (
        b.crossJoin(F.broadcast(mod))
        .withColumn("bucket", F.col("bucket") % F.col("_bucket_mod"))
        .drop("_bucket_mod")
    )


def adaptive_bucket_modulus(vecs: DataFrame, target_bucket: int = 16, max_planes: int = 16):
    """1-row DataFrame with the power-of-two bucket modulus for a
    corpus-ADAPTIVE deterministic LSH: planes used = ceil-ish
    log2(count / target_bucket), so bucket COUNT grows with the corpus
    and per-bucket density stays ~constant — candidate pairs scale
    linearly instead of quadratically (a fixed plane count is
    quadratic-in-density: the sf1 scale gate caught exactly that on
    the 4-plane semantic-det twin). Computed as an exact integer CASE
    ladder over COUNT(*) — no log/pow floats — so a SQL oracle
    replays the identical modulus; masking a statically-computed
    max_planes-bit bucket with ``bucket % modulus`` is equivalent to
    indexing with only the first np planes."""
    cnt = vecs.groupBy().agg(F.count("*").alias("_n"))
    pow_col = F.lit(2)
    for k in range(1, max_planes):
        pow_col = F.when(F.col("_n") > target_bucket * (1 << k), F.lit(1 << (k + 1))).otherwise(pow_col)
    return cnt.select(pow_col.cast("long").alias("_bucket_mod"))


def adaptive_modulus_sql(count_subquery: str, target_bucket: int = 16, max_planes: int = 16) -> str:
    """The DuckDB rendering of the same ladder (highest branch wins)."""
    branches = "\n    ".join(
        f"WHEN ({count_subquery}) > {target_bucket * (1 << k)} THEN {1 << (k + 1)}"
        for k in range(max_planes - 1, 0, -1)
    )
    return f"CASE {branches} ELSE 2 END"


def cosine_near_dup_pairs_det_adaptive(
    vecs: DataFrame,
    threshold: float = 0.35,
    dim: int = 64,
    target_bucket: int = 16,
    max_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """cosine_near_dup_pairs_deterministic with corpus-adaptive bucket
    count: the max_planes-bit bucket is computed once (static plane
    matrix, SQL-replayable), then masked by the adaptive modulus — at
    sf0.001 this reduces to the original 16 buckets, at 10x the data
    it uses 2x the buckets, keeping per-bucket pair counts (and the
    equi-join's work) linear in the corpus."""
    b = det_lsh_index_adaptive(vecs, dim, max_planes, target_bucket, id_col, vec_col)
    lhs, rhs = b.alias("a"), b.alias("b")
    dot_ab = F.aggregate(
        F.zip_with(F.col("a.qv"), F.col("b.qv"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        # det_lsh_index normalizes the id column to "vec_id" whatever
        # id_col was, so the join/select below use that fixed name
        lhs.join(
            rhs,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("doc_a"),
            F.col("b.vec_id").alias("doc_b"),
            (
                dot_ab.cast("double")
                / (F.sqrt(F.col("a.nn").cast("double")) * F.sqrt(F.col("b.nn").cast("double")))
            ).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
        .select("doc_a", "doc_b")
    )


def cosine_topk_ann_deterministic(
    vecs: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adaptive_max_planes: int | None = None,
    target_bucket: int = 16,
) -> DataFrame:
    """Fully deterministic LSH approximate cosine top-k.

    Same bucket-join shape as :func:`cosine_topk_ann` (shuffle on
    bucket, per-bucket scoring, never all-pairs), but every arithmetic
    step is exact: embeddings quantized to ints (×1000), projections
    and dot products are exact integer folds, and the cosine is formed
    from exactly-representable integers with single IEEE sqrt/divide
    ops — so ranks and ties are bit-reproducible across engines and
    the result hash-verifies against a DuckDB replay (the production
    seeded-Gaussian path stays in cosine_topk_ann; this variant trades
    a bit of bucket quality for verifiability).

    ``adaptive_max_planes`` switches bucket sizing to the corpus-
    adaptive modulus (same mechanism as
    :func:`cosine_near_dup_pairs_det_adaptive`): the static
    max_planes-bit bucket is masked by the integer-ladder power-of-two
    modulus, holding per-bucket density — and the candidate join — at
    ~``target_bucket`` rows however large the corpus. A FIXED
    ``n_planes`` freezes bucket count, so per-bucket pairs grow
    quadratically with the corpus; the ladder is exact integer
    arithmetic, replayed verbatim by the SQL oracle."""
    from pyspark.sql.window import Window

    if adaptive_max_planes is not None:
        b = det_lsh_index_adaptive(
            vecs, dim, adaptive_max_planes, target_bucket, id_col, vec_col
        )
    else:
        b = det_lsh_index(vecs, dim, n_planes, id_col, vec_col)
    lhs, rhs = b.alias("a"), b.alias("b")
    dot_ab = F.aggregate(
        F.zip_with(F.col("a.qv"), F.col("b.qv"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = lhs.join(
        rhs,
        (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        (
            dot_ab.cast("double")
            / (F.sqrt(F.col("a.nn").cast("double")) * F.sqrt(F.col("b.nn").cast("double")))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("vec_a").orderBy(F.desc("cos_sim"), F.asc("vec_b"))
    return pairs.withColumn("rn", F.row_number().over(w).cast("long")).where(F.col("rn") <= k)


def cosine_topk_ivf_deterministic(
    vecs: DataFrame,
    n_cells: int = 8,
    iters: int = 2,
    n_probe: int = 2,
    k: int = 5,
    query_limit: int = 300,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fully deterministic IVF approximate cosine top-k.

    Coarse quantizer = the integer-arithmetic k-means
    (llm/clustering.py), so the cell layout itself is SQL-replayable;
    probing ranks cells by exact integer distance (ties to the lower
    cell id) and scoring uses exact integer dots — the complete IVF
    pipeline (train → assign → probe → score → rank) hash-verifies
    against a DuckDB replay. Queries are the vec_id < query_limit
    block; candidates come from the whole corpus. Scale shape: one
    bounded driver k-means, per-vector cell assignment from literal
    centroids (no join), candidate join shuffles on cell — bytes ∝
    n·(n_probe/n_cells), never all pairs."""
    from pyspark.sql.window import Window

    from octopufs_spark.llm import clustering

    q = clustering.quantize(vecs, col=vec_col).localCheckpoint()
    cents = clustering.kmeans_centroids(q, k=n_cells, iters=iters)

    ranked = clustering.rank_cells(q, cents).withColumn(
        "nn",
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("qv"), lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    ).select("vec_id", "qv", "nn", F.col("cluster").alias("cell"), "crn").localCheckpoint()
    home = ranked.where(F.col("crn") == 1).drop("crn")
    probe = ranked.where(
        (F.col("crn") <= n_probe) & (F.col("vec_id") < query_limit)
    ).drop("crn")
    a, b = probe.alias("a"), home.alias("b")
    dot_ab = F.aggregate(
        F.zip_with(F.col("a.qv"), F.col("b.qv"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = a.join(
        b, (F.col("a.cell") == F.col("b.cell")) & (F.col("a.vec_id") != F.col("b.vec_id"))
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        (
            dot_ab.cast("double")
            / (F.sqrt(F.col("a.nn").cast("double")) * F.sqrt(F.col("b.nn").cast("double")))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("vec_a").orderBy(F.desc("cos_sim"), F.asc("vec_b"))
    return pairs.withColumn("rn", F.row_number().over(w).cast("long")).where(F.col("rn") <= k)


