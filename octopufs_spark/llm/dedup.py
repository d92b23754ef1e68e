"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Scale design: exact dedup is a hash-groupBy (one shuffle on the digest,
map-side combine). Near-dup at 100 TB must NOT be an O(n²) join —
MinHash-LSH bands candidates into buckets so the join is bucket-local;
the all-pairs n-gram Jaccard here is the *exact* verifier used on
candidate subsets, not the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup on md5(text): one surviving (min id) row per digest.

    Returns [h, doc_id, dup_cnt]. Single shuffle on the 128-bit digest;
    at 100 TB the digest groupBy is uniform (no skew) and combines
    map-side.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("h"), F.col(id_col))
        .groupBy("h")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_cnt"))
    )


def ngram_sets(df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """[id, ngrams] with distinct word n-grams per document (JVM-side)."""
    toks = F.split(F.col(text_col), " ")
    ngrams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    return df.select(F.col(id_col), F.array_distinct(ngrams).alias("ngrams"))


def hashed_ngram_sets(
    df: DataFrame, n: int = 5, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """[id, ngrams]: distinct xxhash64-hashed word n-grams — the shared
    shingle pass (r10, guide §7.2): both the exact-Jaccard path and the
    DF-MinHash path accept this via their ``sets`` parameter, so a
    caller that needs both (the recall contract) tokenizes the corpus
    ONCE instead of once per operator.

    Semantics match :func:`ngram_sets` + xxhash64 — tokens are a raw
    ``split`` (empty tokens preserved; the compiled ``NGram``
    transformer joins n consecutive tokens with a single space just
    like ``concat_ws`` over a slice, and yields an empty list below n
    tokens like the ``when`` gate), hashed then distinct'd (== distinct
    then hashed up to 2^-64 collisions, the documented trade both
    consumers already make). NULL text coalesces to ``''`` before the
    split: NGram's Scala UDF throws on a NULL token array, while
    ``ngram_sets`` returns an empty set for NULL text — the coalesce
    makes both yield the empty set (split('') is one sub-n token), so
    NULL-text corpora (supported elsewhere, cf. cross_source_dedup)
    don't abort the job.
    """
    from pyspark.ml.feature import NGram

    w = df.select(
        F.col(id_col),
        F.split(F.coalesce(F.col(text_col), F.lit("")), " ").alias("_w"),
    )
    return (
        NGram(n=n, inputCol="_w", outputCol="_raw")
        .transform(w)
        .select(
            F.col(id_col),
            F.array_distinct(
                F.transform("_raw", lambda s: F.xxhash64(s))
            ).alias("ngrams"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int = 1000,
    materialize: bool = False,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs sharing ≥1
    indexed n-gram. Returns [doc_a, doc_b, jaccard] with doc_a < doc_b.

    Inverted-index join (explode n-grams, self-join on the n-gram) so
    zero-overlap pairs never materialize. N-grams whose document
    frequency exceeds ``max_doc_freq`` are dropped from the *index
    only*: a ubiquitous n-gram's posting list otherwise produces a
    quadratic (DF²/2) candidate bucket on a single skewed key — the
    one shape that breaks this operator at 100×. Scoring stays exact
    regardless: candidates re-join their full n-gram sets and the
    intersection is ``array_intersect`` over those, so the cap changes
    only *which pairs are discoverable* (a pair sharing exclusively
    ubiquitous n-grams is missed — by construction those carry ~zero
    Jaccard selectivity), never a reported similarity value.

    ``sets`` (optional) is a caller-supplied [id_col, ngrams] frame, as
    ``hashed_ngram_sets`` builds it. NULL elements inside its arrays
    are dropped from the inverted index, so a shared NULL never makes a
    pair a candidate; scoring still reads the full arrays.
    ``ngram_sets`` never emits NULL elements.
    """
    if sets is not None:
        # pre-hashed shingle sets from hashed_ngram_sets (the caller
        # usually owns materialization — pass a localCheckpoint'd frame
        # when several operators share it). materialize=True is honored
        # here too: the three plan legs below would otherwise silently
        # re-execute an un-checkpointed provided frame, which is
        # exactly the recomputation the flag exists to prevent.
        g = sets.localCheckpoint() if materialize else sets
    else:
        g = ngram_sets(df, n=n, id_col=id_col, text_col=text_col)
        # Collapse shingle strings to 64-bit xxhash64 digests the moment
        # they exist (r10, guide §2.3 "shuffle keys instead of payloads"):
        # every downstream leg — the inverted-index explode + DF count, the
        # candidate self-join key, and BOTH array_intersect verification
        # sides — moves 8-byte longs instead of ~25-40-byte n-gram strings
        # (~4x thinner shuffles end to end). Hash-set Jaccard equals
        # string-set Jaccard up to 2^-64 collisions — the same documented
        # trade minhash_near_dup_pairs_df already makes; distinctness,
        # intersection and union counts are otherwise preserved exactly, so
        # reported jaccard values are unchanged.
        g = g.select(
            F.col(id_col), F.transform("ngrams", lambda s: F.xxhash64(s)).alias("ngrams")
        )
        if materialize:
            # three plan legs read the n-gram sets (index + both
            # verification sides); on a large corpus the tokenize→shingle
            # pass dominates if recomputed per leg (cf. the DF-MinHash
            # featurization checkpoint). Opt-in because bounded callers
            # prefer the transparent single plan.
            g = g.localCheckpoint()
    # explode_OUTER + isnotnull: InferFiltersFromGenerate would copy the
    # whole shingle expression into a size()>0 filter under a plain
    # explode, doubling the tokenize work when `g` is an unmaterialized
    # projection (materialize=False, sets=None). Outer generates skip
    # the rule; the NULL row an empty set emits is dropped right after.
    e = g.select(F.col(id_col), F.explode_outer("ngrams").alias("ng")).where(
        F.col("ng").isNotNull()
    )
    rare = (
        e.groupBy("ng")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= max_doc_freq)
        .select("ng")
    )
    indexed = e.join(rare, "ng")
    a, b = indexed.alias("a"), indexed.alias("b")
    cand = (
        a.join(b, (F.col("a.ng") == F.col("b.ng")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )
    ga = g.select(F.col(id_col).alias("doc_a"), F.col("ngrams").alias("ngrams_a"))
    gb = g.select(F.col(id_col).alias("doc_b"), F.col("ngrams").alias("ngrams_b"))
    inter = F.size(F.array_intersect("ngrams_a", "ngrams_b"))
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn(
            "jaccard",
            inter.cast("double")
            / (F.size("ngrams_a") + F.size("ngrams_b") - inter),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    num_hash_tables: int = 3,
    num_features: int = 1 << 16,
    shingle_n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs (the scale path).

    shingle (word 5-grams — unigrams collide massively on small
    vocabularies, densifying every LSH bucket) → hashingTF sparse
    vector → MinHash signatures → banded bucket join
    (approxSimilarityJoin). Join cost is per-bucket, not O(n²).
    Returns [doc_a, doc_b, jaccard_dist] with doc_a < doc_b.

    Defaults tuned empirically: 3 hash tables / 2^16 features finds the
    identical candidate set as 5 / 2^18 on the documents fixture at
    2.3x less cost; raise both for adversarial dedup at scale.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH, NGram, Tokenizer

    tok = Tokenizer(inputCol=text_col, outputCol="_toks")
    ng = NGram(n=shingle_n, inputCol="_toks", outputCol="_shingles")
    tf = HashingTF(
        inputCol="_shingles", outputCol="_features", numFeatures=num_features, binary=True
    )
    # materialize the featurization once: the LSH self-join below reads
    # it from BOTH sides, and tokenize→shingle→hashingTF is the
    # expensive half of this operator
    featurized = tf.transform(
        ng.transform(tok.transform(df.select(id_col, text_col)))
    ).localCheckpoint()
    mh = MinHashLSH(inputCol="_features", outputCol="_hashes", numHashTables=num_hash_tables, seed=seed)
    model = mh.fit(featurized)
    joined = model.approxSimilarityJoin(featurized, featurized, threshold, distCol="jaccard_dist")
    return (
        joined.select(
            F.col(f"datasetA.{id_col}").alias("doc_a"),
            F.col(f"datasetB.{id_col}").alias("doc_b"),
            F.col("jaccard_dist"),
        )
        .where(F.col("doc_a") < F.col("doc_b"))
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
    partitions: int | None = None,
    round_counter: list | None = None,
) -> DataFrame:
    """Cluster near-duplicate pairs into components: [doc_id, cluster_id]
    where cluster_id = min doc_id reachable through the pair graph.

    Dedup pipelines need this step after candidate generation — A~B and
    B~C must collapse to ONE surviving document, which pairwise output
    alone can't express. Iterative min-label propagation: each round
    every vertex takes the minimum label among itself and its
    neighbors; converges in O(diameter) rounds (near-dup components are
    tiny, so a handful). Each iteration ends in ``localCheckpoint`` to
    truncate the growing join lineage (the reference uses the same
    device for iterative-ish pipelines,
    reference: src/test/scala/TestPartitionCopy.scala:18) and runs as a
    pair of shuffles on the edge list — no driver-side union-find, so
    it scales with executors.
    """
    spark = pairs.sparkSession
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    # Mirror each pair in ONE pass (r11): the old shape checkpointed the
    # raw pair list, then unioned it with its own flip — a second full
    # read plus a second materialization job before the loop even
    # starts. Exploding a 2-struct array emits both directions from the
    # single pass over the (usually expensive) candidate plan, so the
    # scorer feeds exactly one materialization. The edge count rides
    # that same materialization as an Observation, so sizing the loop
    # below costs zero extra jobs.
    obs = Observation()
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(a_col).alias("src"), F.col(b_col).alias("dst")),
                    F.struct(F.col(b_col).alias("src"), F.col(a_col).alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .observe(obs, F.count(F.lit(1)).alias("n_edges"))
        .localCheckpoint()
    )
    if partitions is None:
        # Scale-adaptive loop width (r11, replaces the callers'
        # hard-coded 4): ~2M mirrored edges (two longs, ~32-64 MB with
        # row overhead) per shuffle partition, clamped to the session
        # width so a small graph's per-round shuffles don't pay
        # full-width task-launch overhead and a 100 TB edge list still
        # fans out to the whole cluster (it simply keeps the ambient
        # spark.sql.shuffle.partitions).
        n_edges = int(obs.get["n_edges"])
        partitions = max(2, min(int(prev_parts), (n_edges + 1_999_999) // 2_000_000))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        return _connected_components_loop(edges, max_iter, round_counter)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def _connected_components_loop(
    edges: DataFrame,
    max_iter: int,
    round_counter: list | None = None,
) -> DataFrame:
    # The loop keeps AQE and auto-broadcast ENABLED deliberately: the
    # label table is bounded by the pair-graph node count (near-dup
    # candidates, not the corpus), so the runtime planner broadcasts
    # it while it is small — the per-round joins then move no edge
    # bytes at all — and falls back to partitioned joins only when the
    # graph genuinely outgrows the threshold. An r10 experiment that
    # pinned an exchange-free co-partitioned merge-join layout (AQE
    # off, broadcast off, 2 exchanges/round) benched 1.3–2× SLOWER at
    # sf0.1 with matched load sentinels: per-round sorts of the static
    # edge table cost more than the adaptive broadcasts they replaced,
    # and the saved driver round-trips did not pay for them. Scale
    # adaptivity is the point — let the planner re-decide per round.
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
        .localCheckpoint()
    )
    # TWO propagation sub-steps per materialized round (r10, guide §1):
    # the fixed costs of a round — localCheckpoint materialization, AQE
    # stage-job launches, the driver round-trip on the convergence
    # probe — dominated per-round compute on near-dup graphs (measured
    # 13 rounds x ~0.4 s at sf0.1 with ~4k edges), so folding a second
    # neighbor-min step into the same lazy plan halves the round count
    # (13 -> 8 measured, labels identical) while total propagation
    # steps stay ~equal. Labels are monotone non-increasing, so "a full
    # unrolled round changed nothing" still certifies the fixpoint. An
    # r10 experiment that chained extra POINTER hops instead reduced no
    # rounds at all (propagation here is edge-hop-bound, not
    # pointer-chain-bound).
    UNROLL = 2

    def substep(lbl: DataFrame) -> DataFrame:
        # carries old_cluster_id through untouched so the convergence
        # flag needs no extra re-join at the end of the round
        neighbor_min = (
            edges.join(lbl, edges.dst == lbl.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_label = F.least(
            F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
        )
        return lbl.join(neighbor_min, lbl.id == neighbor_min.src, "left").select(
            "id", "old_cluster_id", new_label.alias("cluster_id")
        )

    for _ in range(max_iter):
        cur = labels.select(
            "id", F.col("cluster_id").alias("old_cluster_id"), "cluster_id"
        )
        for _u in range(UNROLL):
            cur = substep(cur)
        # Pointer hop: follow the stepped label one more hop through the
        # PREVIOUS round's (checkpointed) label table
        # (label := min(label, old_label(label))) — the old table is
        # already materialized, and any adopted label is still the
        # label of a reachable node, so correctness and monotonicity
        # hold.
        hop = labels.select(
            F.col("id").alias("hop_id"), F.col("cluster_id").alias("hop_label")
        )
        jumped_label = F.least(
            F.col("cluster_id"), F.coalesce(F.col("hop_label"), F.col("cluster_id"))
        )
        # The convergence probe rides the checkpoint job as an observed
        # metric (CollectMetrics) instead of a separate count() action
        # over the checkpointed result — one fewer driver job per
        # round, and rounds are job-launch bound (r10, guide §1).
        obs = Observation()
        new_labels = (
            cur.join(hop, cur.cluster_id == hop.hop_id, "left")
            .select("id", "old_cluster_id", jumped_label.alias("cluster_id"))
            .select(
                "id",
                "cluster_id",
                (F.col("cluster_id") != F.col("old_cluster_id")).alias("_changed"),
            )
            .observe(obs, F.count_if(F.col("_changed")).alias("n_changed"))
            .localCheckpoint()
        )
        changed = obs.get["n_changed"]
        labels = new_labels.drop("_changed")
        if round_counter is not None:
            round_counter.append(1)
        if changed == 0:
            break
    return labels.select(F.col("id").alias("doc_id"), "cluster_id")


def minhash_signature_col(shingles_col: str = "shingles", num_perm: int = 64) -> F.Column:
    """``num_perm``-permutation MinHash signature of a string-array
    column, as ``array<bigint>`` — fully JVM-side, no ML pipeline and
    no Python.

    Permutation k is the keyed hash ``xxhash64(shingle, k)``; the
    signature is the element-wise minimum across the document's
    shingles, computed in ONE ``aggregate`` fold over the array (every
    shingle is hashed ``num_perm`` times inside a single codegen'd
    pass — no per-permutation re-scan of the array, no intermediate
    arrays materialized).
    """
    max_long = (1 << 63) - 1
    return F.expr(
        f"""
        aggregate(
          {shingles_col},
          array_repeat(cast({max_long} as bigint), {num_perm}),
          (acc, s) -> zip_with(
            acc,
            transform(sequence(0, {num_perm - 1}), k -> xxhash64(s, k)),
            (a, h) -> least(a, h))
        )
        """
    )


def adaptive_minhash_params(
    count: int, threshold: float = 0.5, max_r: int = 6
) -> tuple[int, int, int]:
    """(num_perm, bands, r) sized to the corpus: rows-per-band ``r``
    climbs an integer ladder with corpus count (one step per ~100×),
    and band count ``b`` is then the smallest keeping detection
    probability 1-(1-s^r)^b ≥ 0.95 at s = ``threshold``.

    Why r must grow: a pair of background similarity s₀ collides in a
    band with probability s₀^r, so candidate volume is ~ n²·b·s₀^r —
    at FIXED r it grows quadratically with the corpus. Raising r by 1
    multiplies background collisions by s₀ (geometric suppression)
    while the compensating b (and num_perm = b·r, the signature cost —
    linear, paid once per doc) holds recall at the threshold. This is
    the same constant-bucket-density principle as
    ``similarity.adaptive_n_planes``, applied to the banding dimension:
    the corpus-count ladder is exact integer arithmetic, so a given
    count always maps to the same (num_perm, b, r).
    """
    import math

    r = 2
    step = 1_000_000  # first escalation point; one more r per 100× after
    while r < max_r and count > step:
        r += 1
        step *= 100
    b = max(2, math.ceil(math.log(0.05) / math.log(1.0 - threshold**r)))
    return b * r, b, r


def minhash_near_dup_pairs_df(
    df: DataFrame,
    threshold: float = 0.5,
    num_perm: int | None = 32,
    bands: int | None = 16,
    shingle_n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    sets: DataFrame | None = None,
) -> DataFrame:
    """MinHash near-duplicate pairs without ``pyspark.ml`` — the
    pure-DataFrame scale path. Returns [doc_a, doc_b, jaccard] with
    doc_a < doc_b and exact word-``shingle_n``-gram Jaccard ≥
    ``threshold``.

    shingle (distinct word n-grams) → 64-perm xxhash64 min-sketch
    (one aggregate fold, see ``minhash_signature_col``) → ``bands``
    band keys (xxhash64 over each signature slice) → equi-join on
    (band_idx, band_key) → exact Jaccard verification over the shingle
    sets. Candidate cost is per-bucket, never O(n²); with b bands of
    r = num_perm/b rows a pair of true similarity s is found with
    probability 1 − (1 − s^r)^b (default b=16, r=2 → ~99% at s=0.5).
    Exact verification makes precision 1.0 regardless of banding, so
    tuning b/r trades only recall vs candidate volume: r=1 reproduces
    ``pyspark.ml`` MinHashLSH's hash-tables mode (cheapest signature,
    highest candidate volume — any shared min-hash joins), r≥2
    suppresses candidate volume geometrically, which is what survives
    boilerplate-heavy corpora at 100 TB where r=1 turns every
    template min-hash into a hot join key. Signature cost is linear in
    ``num_perm``.

    Versus the ``pyspark.ml`` MinHashLSH path
    (``minhash_near_dup_pairs``): no HashingTF feature-space detour
    (shingles are hashed directly, so no 2^16-dim collision layer), no
    model fit, and no ML vector UDTs in the shuffle. The compiled
    ``NGram`` transformer does the shingling (~8x faster than an
    interpreted transform/slice lambda, same output); shingles are
    immediately collapsed to 64-bit xxhash64 values, so everything
    downstream — the materialized shingle sets, the signature fold,
    and BOTH sides of the verification join — moves ``array<long>``
    instead of ~25-byte strings (at 500k docs this is the difference
    between a ~1.5 GB and a ~400 MB checkpoint, and the verify
    shuffle shrinks the same ~8x; hash-set Jaccard equals string-set
    Jaccard up to 2^-64 collisions, the standard trade in shingle
    pipelines). The hashed sets are materialized ONCE because three
    plan legs read them (band stream + both verification sides) —
    without the checkpoint the tokenize→shingle pass runs three
    times and dominates the operator.

    ``num_perm=None``/``bands=None`` sizes the banding to the corpus
    via :func:`adaptive_minhash_params` (one COUNT job): rows-per-band
    grows with corpus count so background-pair candidate volume stays
    ~linear, band count re-tuned to hold ≥0.95 recall at
    ``threshold``. Exact-duplicate recall is parameter-independent
    (identical shingle sets give identical signatures, which collide
    in EVERY band), so planted-clone contracts hold at any ladder
    step.
    """
    from pyspark.ml.feature import NGram

    if num_perm is None or bands is None:
        num_perm, bands, _ = adaptive_minhash_params(df.count(), threshold)

    if sets is not None:
        # shared pre-hashed shingle sets (hashed_ngram_sets; caller
        # owns materialization). Empty sets must still be dropped —
        # a zero-shingle doc would otherwise carry the identity
        # signature and turn every band into one degenerate hot bucket.
        g = sets.where(F.size("ngrams") > 0)
    else:
        w = df.select(
            F.col(id_col),
            F.filter(F.split(F.col(text_col), " "), lambda x: x != "").alias("_w"),
        )
        g = (
            NGram(n=shingle_n, inputCol="_w", outputCol="_raw")
            .transform(w)
            .select(
                F.col(id_col),
                F.array_distinct(
                    F.transform("_raw", lambda s: F.xxhash64(s))
                ).alias("ngrams"),
            )
            .where(F.size("ngrams") > 0)
            .localCheckpoint()
        )
    r = num_perm // bands
    sig = g.select(
        F.col(id_col),
        minhash_signature_col("ngrams", num_perm).alias("sig"),
    )
    # one (band_idx, band_key) row per band; keys are hashes of the
    # signature slice so the join key is a fixed-width bigint pair.
    # Rendered as ONE expression instead of a per-band Column loop —
    # band count is corpus-adaptive and the py4j construction cost of
    # the loop grew with it (r10, guide §1.2 step 2).
    band_structs = ",".join(
        f"struct({j} as band_idx, xxhash64(slice(sig, {j * r + 1}, {r})) as band_key)"
        for j in range(bands)
    )
    e = sig.select(
        F.col(id_col), F.expr(f"explode(array({band_structs}))").alias("b")
    ).select(id_col, "b.band_idx", "b.band_key")
    a, b = e.alias("a"), e.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )
    ga = g.select(F.col(id_col).alias("doc_a"), F.col("ngrams").alias("ngrams_a"))
    gb = g.select(F.col(id_col).alias("doc_b"), F.col("ngrams").alias("ngrams_b"))
    inter = F.size(F.array_intersect("ngrams_a", "ngrams_b"))
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn(
            "jaccard",
            inter.cast("double") / (F.size("ngrams_a") + F.size("ngrams_b") - inter),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash64_col(text_col: str = "text") -> F.Column:
    """64-bit SimHash over whitespace tokens, as zero-padded hex — fully
    JVM-side (xxhash64 token hashes + higher-order array folds), no
    Python in the hot path.

    Per document: hash each token, vote each of the 64 bits (+1/-1),
    set bit i when its vote is positive. Summing ``1 << i`` over set
    bits equals the bitwise OR (each bit contributes once; Java long
    wrap-around makes bit 63 come out right). Near-dup detection then
    bands the 64 bits into 4×16-bit keys and joins on band equality —
    Hamming-distance candidates without O(n²).
    """
    return F.expr(
        f"""
        lower(lpad(hex(
          aggregate(
            zip_with(
              aggregate(
                transform(split({text_col}, ' '), t -> xxhash64(t)),
                array_repeat(0, 64),
                (acc, h) -> zip_with(acc, sequence(0, 63),
                            (c, i) -> c + if((shiftright(h, i) & 1) = 1, 1, -1))
              ),
              sequence(0, 63),
              (c, i) -> if(c > 0, shiftleft(cast(1 as bigint), i), cast(0 as bigint))
            ),
            cast(0 as bigint),
            (s, x) -> s + x
          )
        ), 16, '0'))
        """
    )


def simhash_bands(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """[id, simhash, band0..band3]: 16-bit bands for bucketed candidate join."""
    out = df.select(F.col(id_col), simhash64_col(text_col).alias("simhash"))
    for i in range(4):
        out = out.withColumn(f"band{i}", F.substring("simhash", 1 + 4 * i, 4))
    return out


# ---------------------------------------------------------------------------
# Deterministic (SQL-replayable) MinHash
# ---------------------------------------------------------------------------

MH_P = 1_000_000_007  # prime modulus: (h%P)*a + b stays < 2^63


def minhash_det_params(num_perm: int = 32) -> list[tuple[int, int]]:
    """(a_k, b_k) per permutation from an index-hash formula — shared
    verbatim by the Spark plan and the DuckDB oracle."""
    return [
        (((k * 2654435761) % (MH_P - 1)) + 1, (k * 40503 * 2654435761) % MH_P)
        for k in range(num_perm)
    ]


def minhash_near_dup_pairs_deterministic(
    docs: DataFrame,
    n: int = 5,
    threshold: float = 0.2,
    num_perm: int = 32,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH near-dup pairs with every stage hash-verifiable.

    The per-shingle base hash is the first 15 hex chars of md5 (both
    engines parse it to the same 60-bit int), permutations are the
    affine family ((h%P)*a_k + b_k) % P with index-derived constants,
    band keys are md5 over r-row signature slices, and candidates are
    rescored with EXACT n-gram Jaccard — so the final pair set is
    deterministic and replays in SQL, unlike the xxhash64/ml paths
    (minhash_signature_col, minhash_near_dup_pairs) whose hashes exist
    only JVM-side. Plan shape is the standard banded LSH: explode →
    per-doc signature aggregate → band-key equi-join → bounded
    rescore; no all-pairs product."""
    r = num_perm // bands
    params = minhash_det_params(num_perm)

    g = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(
            F.when(
                F.size(F.split(F.col(text_col), " ")) >= n,
                F.transform(
                    F.sequence(
                        F.lit(0), F.size(F.split(F.col(text_col), " ")) - n
                    ),
                    lambda i: F.array_join(
                        F.slice(F.split(F.col(text_col), " "), i + 1, n), " "
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("ngrams"),
    ).localCheckpoint()  # reused by banding AND exact rescoring
    e = g.select("doc_id", F.explode("ngrams").alias("ng"))
    h0 = (
        F.expr("CAST(conv(substr(md5(ng), 1, 15), 16, 10) AS BIGINT)") % MH_P
    ).alias("h")
    he = e.select("doc_id", h0)
    # Signature and band keys are rendered as TWO expressions total
    # (r10, guide §1.2 step 2): the per-permutation/per-band Python
    # loops built num_perm min Columns + bands md5/struct Columns —
    # hundreds of py4j round-trips dominating plan construction.
    # Identical arithmetic: the same num_perm affine min-aggregates
    # (here packed into one array), the same md5 over the same
    # comma-joined r-slice rendering (concat_ws casts BIGINT elements
    # to the same decimal strings element_at does).
    sig_sql = (
        "array("
        + ",".join(f"min((h * {a} + {b}) % {MH_P})" for a, b in params)
        + ")"
    )
    sig = he.groupBy("doc_id").agg(F.expr(sig_sql).alias("sig"))
    band_structs = ",".join(
        "struct(cast({i} as bigint) as band_no, md5(concat_ws(',', {slots})) as key)".format(
            i=i,
            slots=", ".join(f"element_at(sig, {i * r + j + 1})" for j in range(r)),
        )
        for i in range(bands)
    )
    stacked = sig.select(
        "doc_id", F.expr(f"explode(array({band_structs}))").alias("bk")
    ).select("doc_id", F.col("bk.band_no").alias("band_no"), F.col("bk.key").alias("key"))
    a_side, b_side = stacked.alias("a"), stacked.alias("b")
    cand = (
        a_side.join(
            b_side,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sizes = g.select("doc_id", F.size("ngrams").alias("n_ng"))
    inter = (
        cand.join(e.select(F.col("doc_id").alias("doc_a"), "ng"), "doc_a")
        .join(e.select(F.col("doc_id").alias("doc_b"), "ng"), ["doc_b", "ng"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_ng").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_ng").alias("nb")), "doc_b")
        .where(
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter"))
            >= threshold
        )
        .select("doc_a", "doc_b")
    )


def simhash_bands_deterministic(
    docs: DataFrame,
    n_bits: int = 48,
    band_bits: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash with every bit SQL-replayable: token hash = md5-hex int
    (cross-engine identical), signature bit b = sign of the sum over
    token occurrences of ±1 by token-hash bit b, bands = fixed-width
    signature slices. 48 bits (of the 60 the hex prefix yields) in 4
    12-bit bands. Exact integer votes ⇒ deterministic signature —
    unlike the xxhash64 path (simhash_bands), this one
    hash-verifies against a DuckDB replay. Same plan shape: one explode
    + one grouped aggregation, no Python."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    )
    h = toks.select(
        "doc_id", F.expr("CAST(conv(substr(md5(tok), 1, 15), 16, 10) AS BIGINT)").alias("h")
    )
    # The signature is ONE rendered aggregate expression (r10, guide
    # §1.2 step 2): the previous per-bit Python loops built n_bits vote
    # Columns plus n_bits sig terms — hundreds of py4j round-trips that
    # made plan construction cost multiples of execution. Identical
    # arithmetic: per-bit ±1 vote sums, bit set when the vote is
    # positive, summed as the same left-to-right + chain.
    sig_sql = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN cast({1 << b} as bigint) ELSE cast(0 as bigint) END)"
        for b in range(n_bits)
    )
    sig = h.groupBy("doc_id").agg(F.expr(sig_sql).alias("simhash"))
    n_bands = n_bits // band_bits
    mask = (1 << band_bits) - 1
    return sig.selectExpr(
        "doc_id",
        "simhash",
        *[
            f"cast((simhash >> {i * band_bits}) & {mask} as bigint) as band{i}"
            for i in range(n_bands)
        ],
    )


def cross_source_dedup(
    df: DataFrame,
    priority,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source exact dedup — the "dedupe the crawl against curated
    sources" pipeline op (keep Wikipedia's copy, drop CommonCrawl's):
    for each content digest exactly ONE row survives, chosen from the
    highest-priority source (lowest ``priority`` value; ties break on
    min id so the survivor is deterministic).

    ``priority`` is a Column expression over the input (e.g. a rank
    joined from a source-priority dim, or parsed from the source name).
    A NULL priority SINKS (``asc_nulls_last``): a row whose priority
    expression fails to evaluate never beats an explicitly-ranked one.

    NULL ``text_col`` rows do NOT dedup against each other: ``md5(NULL)``
    is NULL, and a naive digest window would collapse every missing-text
    row across all sources into one survivor. Each NULL-text row gets a
    per-row digest (``null-<id>``) so it keeps itself and drops nothing.

    Returns every input row as ``[h, doc_id, source, kept]``. Scale
    design: ONE shuffle — a window partitioned by the 128-bit digest;
    digests are uniform so there is no skew, and each window group is
    the duplicate set of one content (tiny), so row_number never sees
    a fat partition. At 100 TB this is the same cost shape as exact
    dedup; the priority rule rides the sort key for free.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("h").orderBy(F.asc_nulls_last("pri"), id_col)
    text = F.col(text_col)
    digest = F.when(
        text.isNull(), F.concat(F.lit("null-"), F.col(id_col).cast("string"))
    ).otherwise(F.md5(text))
    return (
        df.select(
            digest.alias("h"),
            F.col(id_col),
            F.col(source_col),
            priority.alias("pri"),
        )
        .withColumn("kept", F.row_number().over(w) == F.lit(1))
        .drop("pri")
    )
