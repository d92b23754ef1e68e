"""Spark 4 engine-surface pack: VARIANT, recursive CTEs, LATERAL
joins, SQL-defined UDFs/UDTFs, DataSketches cardinality, approx top-k,
and error-safe ``try_*`` arithmetic.

These are capabilities the reference's consumers get for free from a
modern engine (the reference itself delegates all relational work to
Spark SQL, reference: src/main/scala/.../Coalesce.scala:25 runs plain
``spark.read``/SQL) — a complete rebuild surface has to cover them.
Every entry here is a full-oracle query: the seed-free constructs
(VARIANT paths, recursion, LATERAL, SQL UDFs, try_*) compare values
exactly; the sketch estimators use the tolerance-contract pattern
(emit the exact value plus an in-query accuracy assertion, both
deterministic) established by q_agg_approx_distinct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from octopufs_spark.registry import register
from octopufs_spark.tables import load


@register(
    "q_scalar_variant",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
       CAST(value AS DOUBLE) AS v_roundtrip,
       'OBJECT<k: BIGINT>' AS v_schema
FROM events WHERE event_id < 10000
""",
)
def q_scalar_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT semi-structured type (Spark 4): parse the JSON props
    payload once into a variant, extract a typed path, and prove the
    JSON round-trip of a double is lossless (shortest-repr JSON
    printing is value-preserving). ``schema_of_variant`` documents the
    inferred shape; the fixture payload is uniformly {"k": <int>}, so
    the oracle pins it as a constant — a payload drift would flip it.
    """
    ev = load(spark, sf_dir, "events").where(F.col("event_id") < 10000)
    return ev.select(
        "event_id",
        F.expr("variant_get(parse_json(props), '$.k', 'bigint')").alias("k_val"),
        F.expr(
            "variant_get(parse_json(to_json(named_struct('v', value))), '$.v', 'double')"
        ).alias("v_roundtrip"),
        F.expr("schema_of_variant(parse_json(props))").alias("v_schema"),
    )


@register(
    "q_scalar_try",
    oracle="""
SELECT o_orderkey,
       o_totalprice / NULLIF(o_custkey % 3, 0) AS safe_div,
       TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS pri_num,
       TRY_CAST(o_orderstatus AS INT) AS not_a_number
FROM orders
""",
)
def q_scalar_try(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic: ``try_divide`` (NULL on /0 instead of an
    ANSI error) and ``try_cast`` (NULL on malformed input). IEEE double
    division is bit-deterministic, so raw quotients compare exactly."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 3).alias("safe_div"),
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("pri_num"),
        F.col("o_orderstatus").try_cast("int").alias("not_a_number"),
    )


@register(
    "q_join_lateral_topn",
    oracle="""
SELECT n.n_name, t.c_custkey, t.c_acctbal
FROM nation n, LATERAL (
  SELECT c_custkey, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey LIMIT 2
) t
""",
)
def q_join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: top-2 customers by balance per
    nation, expressed as a lateral per-row subquery instead of a
    window. Catalyst decorrelates this into a ranked join — same
    physical shape as the window formulation, but the declarative
    surface is the SQL-standard LATERAL."""
    load(spark, sf_dir, "nation").createOrReplaceTempView("_lat_nation")
    load(spark, sf_dir, "customer").createOrReplaceTempView("_lat_customer")
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM _lat_nation n, LATERAL (
          SELECT c_custkey, c_acctbal FROM _lat_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        ) t
        """
    )


_RECURSIVE_HIER_SQL = """
WITH RECURSIVE edges AS (
  SELECT CAST(n_regionkey AS BIGINT) AS parent,
         1000 + CAST(n_nationkey AS BIGINT) AS child
  FROM {nation}
  UNION ALL
  SELECT 1000 + CAST(c_nationkey AS BIGINT) AS parent,
         1000000 + c_custkey AS child
  FROM {customer}
), walk(root, node, depth) AS (
  SELECT CAST(r_regionkey AS BIGINT), CAST(r_regionkey AS BIGINT), 0 FROM {region}
  UNION ALL
  SELECT w.root, e.child, w.depth + 1
  FROM walk w JOIN edges e ON e.parent = w.node
)
SELECT r.r_name, w.depth, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM walk w JOIN {region} r ON r.r_regionkey = w.root
GROUP BY r.r_name, w.depth
"""


@register(
    "q_sql_recursive_hierarchy",
    oracle=_RECURSIVE_HIER_SQL.format(nation="nation", customer="customer", region="region"),
)
def q_sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4): flatten the geo hierarchy (region →
    nation → customer) by walking an edge list from the region roots,
    then count reachable nodes per (region, depth). Spark executes one
    iteration per recursion level, so depth — not corpus size — bounds
    the job count: this hierarchy terminates after 3 levels whether the
    customer table has 2 k or 2 B rows (each level is one distributed
    hash join). Identical SQL runs as the DuckDB oracle."""
    load(spark, sf_dir, "region").createOrReplaceTempView("_rec_region")
    load(spark, sf_dir, "nation").createOrReplaceTempView("_rec_nation")
    load(spark, sf_dir, "customer").createOrReplaceTempView("_rec_customer")
    return spark.sql(
        _RECURSIVE_HIER_SQL.format(
            nation="_rec_nation", customer="_rec_customer", region="_rec_region"
        )
    )


@register(
    "q_udf_sql_scalar",
    oracle="""
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 150000 THEN 'medium'
            ELSE 'large' END AS tier,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM orders GROUP BY 1
""",
)
def q_udf_sql_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar UDF (CREATE FUNCTION ... RETURN, Spark 4):
    the function body is inlined by Catalyst into the plan — zero
    Python, full codegen — unlike a Python UDF with the same logic."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("_udf_orders")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION order_tier(p DOUBLE) RETURNS STRING
        RETURN CASE WHEN p < 50000 THEN 'small'
                    WHEN p < 150000 THEN 'medium'
                    ELSE 'large' END
        """
    )
    return spark.sql(
        "SELECT order_tier(o_totalprice) AS tier, CAST(COUNT(*) AS BIGINT) AS cnt"
        " FROM _udf_orders GROUP BY 1"
    )


@register(
    "q_udf_sql_table",
    oracle="""
SELECT c_custkey, c_acctbal FROM customer
WHERE c_mktsegment = 'BUILDING' AND c_acctbal >= 9000
""",
)
def q_udf_sql_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined table function (CREATE FUNCTION ... RETURNS TABLE,
    Spark 4): a parameterized relational view invoked in FROM position.
    Parameters feed predicates (not LIMIT — Spark requires foldable
    limits), so the body stays a single pushdown-friendly scan."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("_udtf_customer")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION rich_segment(seg STRING, floor DOUBLE)
        RETURNS TABLE(c_custkey BIGINT, c_acctbal DOUBLE)
        RETURN SELECT c_custkey, c_acctbal FROM _udtf_customer
               WHERE c_mktsegment = seg AND c_acctbal >= floor
        """
    )
    return spark.sql("SELECT * FROM rich_segment('BUILDING', 9000.0)")


@register(
    "q_agg_sketch_cardinality",
    oracle="""
SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
       TRUE AS hll_ok, TRUE AS theta_ok
FROM orders
""",
)
def q_agg_sketch_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataSketches cardinality, the mergeable path a 100 TB count runs:
    per-priority partial HLL and Theta sketches, merged with
    ``hll_union_agg``/``theta_union_agg`` — one map-side sketch per
    partition, a few-KB shuffle regardless of row count. Tolerance
    contract: the estimates are deterministic (fixed hash, fixed lgK)
    but engine-specific, so the registered output is the exact
    cardinality plus in-query assertions that each estimate lands
    within 5 % of it."""
    o = load(spark, sf_dir, "orders")
    per = o.groupBy("o_orderpriority").agg(
        F.expr("hll_sketch_agg(o_custkey)").alias("hsk"),
        F.expr("theta_sketch_agg(o_custkey)").alias("tsk"),
        F.expr("approx_count_distinct(o_custkey)").alias("_unused"),
    )
    merged = per.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(hsk))").alias("hll_est"),
        F.expr("theta_sketch_estimate(theta_union_agg(tsk))").alias("theta_est"),
    )
    exact = o.agg(F.countDistinct("o_custkey").cast("long").alias("exact_customers"))
    return exact.crossJoin(merged).select(
        "exact_customers",
        (
            F.abs(F.col("hll_est") - F.col("exact_customers"))
            / F.col("exact_customers")
            < 0.05
        ).alias("hll_ok"),
        (
            F.abs(F.col("theta_est") - F.col("exact_customers"))
            / F.col("exact_customers")
            < 0.05
        ).alias("theta_ok"),
    )


@register(
    "q_agg_approx_top_k",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
FROM events GROUP BY event_type
""",
)
def q_agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_top_k`` frequent-items sketch (Spark 4). With k set
    above the fixture's distinct-type count the sketch degenerates to
    exact counts (no eviction ever happens), so the exploded (item,
    count) rows hash-match the exact group-by — while the plan still
    exercises the sketch build/merge path a skewed 100 TB top-k uses."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.agg(F.expr("approx_top_k(event_type, 16)").alias("tk"))
        .select(F.explode("tk").alias("t"))
        .select(
            F.col("t.item").alias("event_type"),
            F.col("t.count").cast("long").alias("cnt"),
        )
    )


@register(
    "q_scan_python_ds",
    oracle="""
SELECT CAST(i % 50 AS BIGINT) AS device,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(CAST(CAST((i * 2654435761) % 1000000 AS DOUBLE) / 100.0 AS DECIMAL(18,2))) AS DOUBLE) AS sum_reading
FROM (SELECT range AS i FROM range(0, 20000))
GROUP BY 1
""",
)
def q_scan_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Spark 4 Python Data Source API
    (octopufs_spark/sources.py): a deterministic synthetic-telemetry
    source whose batch reader emits Arrow RecordBatches per
    InputPartition. Because generation is pure integer arithmetic on
    the row id, DuckDB recomputes the identical table from range() —
    a full value-level oracle for a from-scratch connector."""
    from octopufs_spark.sources import register_synthgen

    register_synthgen(spark)
    df = spark.read.format("synthgen").option("total", 20000).option("partitions", 8).load()
    return df.groupBy("device").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("reading").cast("decimal(18,2)")).cast("double").alias("sum_reading"),
    )


def _kmeans_cte_prefix(k: int, iters: int, scale: int, dim: int) -> tuple[str, str]:
    """Shared CTE chain: quantized vectors + unrolled Lloyd's updates.
    Returns (cte_sql, final_centroid_cte_name); used by the k-means
    oracle and the deterministic-IVF oracle (which trains the same
    coarse quantizer before probing)."""
    dv = "list_transform(v, x -> CAST(x AS DOUBLE))"
    parts = [
        f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(x * {scale}) AS BIGINT)) AS v
  FROM embeddings
), qd AS (
  SELECT vec_id, v, {dv} AS vd FROM q
), qdd AS (
  SELECT vec_id, v, vd, list_inner_product(vd, vd) AS vv FROM qd
), c0 AS (
  SELECT vec_id AS cluster, v, {dv} AS vd FROM q WHERE vec_id < {k}
), c0d AS (
  SELECT cluster, v, vd, list_inner_product(vd, vd) AS cc FROM c0
)"""
    ]
    prev = "c0d"
    for i in range(1, iters + 1):
        parts.append(
            f""", a{i} AS (
  SELECT vec_id, cluster FROM (
    SELECT q.vec_id, c.cluster,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY q.vv - 2 * list_inner_product(q.vd, c.vd) + c.cc, c.cluster
           ) AS rn
    FROM qdd q CROSS JOIN {prev} c
  ) WHERE rn = 1
), u{i} AS (
  SELECT a.cluster, gs.pos,
         CAST(FLOOR(CAST(SUM(q.v[gs.pos]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
  FROM a{i} a JOIN q USING (vec_id)
  CROSS JOIN generate_series(1, {dim}) AS gs(pos)
  GROUP BY 1, 2
), ul{i} AS (
  SELECT cluster, list(m ORDER BY pos) AS v FROM u{i} GROUP BY cluster
), c{i} AS (
  SELECT c.cluster, COALESCE(u.v, c.v) AS v
  FROM c0d c LEFT JOIN ul{i} u USING (cluster)
), c{i}d AS (
  SELECT cluster, v, {dv} AS vd,
         list_inner_product({dv}, {dv}) AS cc
  FROM c{i}
)"""
        )
        prev = f"c{i}d"
    return "".join(parts), prev


def _kmeans_oracle(k: int = 4, iters: int = 3, scale: int = 1000, dim: int = 64) -> str:
    """Unrolled Lloyd's iterations as DuckDB SQL — the full value-level
    oracle for the integer-arithmetic k-means (llm/clustering.py). All
    arithmetic is exact (quantized ints; doubles only hold
    exactly-representable integers), so assignment and update rounds
    replay bit-identically to the Spark implementation."""
    prefix, cents = _kmeans_cte_prefix(k, iters, scale, dim)
    return (
        prefix
        + f"""
SELECT vec_id, cluster FROM (
  SELECT q.vec_id, c.cluster,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY q.vv - 2 * list_inner_product(q.vd, c.vd) + c.cc, c.cluster
         ) AS rn
  FROM qdd q CROSS JOIN {cents} c
) WHERE rn = 1"""
    )


@register("q_ext_cluster_kmeans", oracle=_kmeans_oracle())
def q_ext_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus clustering: deterministic integer-arithmetic k-means
    (k=4, 3 Lloyd's iterations, init = lowest vec_ids) over the
    embeddings table — the bucketing step a training pipeline runs
    before per-cluster dedup/sampling. Fully value-checked against an
    unrolled recursive SQL replay (see llm/clustering.py for why the
    integer formulation makes an iterative ML op exactly oracle-able).
    Per iteration: one scan + a k*dim-row aggregate; centroids are
    driver-side literals (k*dim ints), so the plan scales linearly in
    corpus size with no pairwise joins."""
    from octopufs_spark.llm import clustering

    return clustering.kmeans_int(load(spark, sf_dir, "embeddings"), k=4, iters=3)


@register(
    "q_udaf_grouped_arrow",
    oracle="""
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
FROM customer GROUP BY c_mktsegment
""",
)
def q_udaf_grouped_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped custom aggregation via ``applyInArrow`` (Spark 4): the
    whole group arrives as ONE Arrow table (no pandas conversion, no
    per-row Python), and the aggregate runs as vectorized pyarrow
    kernels. Summing integer cents keeps the result exact, so the
    Python-side fold is order-independent and hash-matches SQL."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def agg(table: pa.Table) -> pa.Table:
        cents = pc.cast(pc.round(pc.multiply(table.column("c_acctbal"), 100)), pa.int64())
        return pa.Table.from_pydict(
            {
                "c_mktsegment": pa.array([table.column("c_mktsegment")[0].as_py()]),
                "cnt": pa.array([table.num_rows], pa.int64()),
                "bal_cents": pa.array([pc.sum(cents).as_py()], pa.int64()),
            }
        )

    cust = load(spark, sf_dir, "customer").select("c_mktsegment", "c_acctbal")
    return cust.groupBy("c_mktsegment").applyInArrow(
        agg, "c_mktsegment string, cnt bigint, bal_cents bigint"
    )


@register(
    "q_udtf_arrow",
    oracle="""
SELECT doc_id,
       CAST(len(text) AS BIGINT) AS n_chars_obs,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
FROM documents WHERE doc_id < 300
""",
)
def q_udtf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PyArrow-native UDTF (``arrow_udtf``, Spark 4.1): eval receives
    whole RecordBatches and emits Arrow tables — the zero-copy
    batch-vectorized UDTF path (vs the row-yielding Python UDTF in
    q_udtf_python). Token counting runs as pyarrow compute kernels."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.functions import arrow_udtf

    @arrow_udtf(returnType="doc_id bigint, n_chars_obs bigint, n_tokens bigint")
    class TextStats:
        def eval(self, batch: pa.RecordBatch):
            text = batch.column("text")
            yield pa.table(
                {
                    "doc_id": batch.column("doc_id"),
                    "n_chars_obs": pc.cast(pc.utf8_length(text), pa.int64()),
                    "n_tokens": pc.cast(
                        pc.add(pc.count_substring(text, " "), 1), pa.int64()
                    ),
                }
            )

    docs = (
        load(spark, sf_dir, "documents").where(F.col("doc_id") < 300).select("doc_id", "text")
    )
    return TextStats(docs.asTable())


@register(
    "q_scan_xml",
    oracle="""
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
FROM customer GROUP BY c_mktsegment
""",
)
def q_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion round-trip (XML became a built-in source in Spark
    4): dump customer to row-tagged XML, re-read with an explicit
    schema, aggregate through the decimal-exact path — proving the XML
    codec is lossless for this data, same contract as q_scan_csv/json.
    """
    import tempfile

    out = tempfile.mkdtemp(prefix="octopufs_xml_")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    cust.write.mode("overwrite").format("xml").option("rowTag", "customer").save(out)
    back = (
        spark.read.format("xml")
        .option("rowTag", "customer")
        .schema("c_custkey bigint, c_mktsegment string, c_acctbal double")
        .load(out)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("sum_bal"),
    )


@register(
    "q_scalar_collation",
    oracle="""
SELECT lower(CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
                  ELSE c_mktsegment END) AS segment,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM customer GROUP BY 1
""",
)
def q_scalar_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 collations): half the keys are
    lower-cased, then grouped under UTF8_LCASE so case variants merge
    without rewriting the data — the engine-level answer to
    `GROUP BY lower(x)`. The oracle IS `GROUP BY lower(x)`: identical
    partitions prove the collation semantics."""
    cust = load(spark, sf_dir, "customer")
    mixed = F.when(
        F.col("c_custkey") % 2 == 0, F.lower(F.col("c_mktsegment"))
    ).otherwise(F.col("c_mktsegment"))
    keyed = cust.select(F.collate(mixed, "UTF8_LCASE").alias("seg"))
    return keyed.groupBy("seg").agg(F.count("*").alias("cnt")).select(
        F.lower(F.col("seg")).cast("string").alias("segment"), "cnt"
    )


_REGR_SQL = """
SELECT l_returnflag,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS slope,
       ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 4) AS intercept,
       ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) AS r2
FROM (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
"""


@register("q_agg_regression", oracle=_REGR_SQL)
def q_agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares regression aggregates (regr_slope / regr_intercept
    / regr_r2 semantics) from first principles: exact decimal moment
    sums combined with an identical double formula on both engines —
    the native regr_* implementations accumulate doubles in engine-
    specific order and drift in the last bits (same rationale as
    q_agg_corr). Predicting price from quantity per returnflag."""
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    base = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n, sx, sy, sxy, sxx, syy = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx", "syy"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return base.select(
        "l_returnflag",
        # Per-column rounding keeps each value at <= ~10 significant
        # digits (intercept is ~5e4, so 12 decimals would demand 16 sig
        # digits — past double precision, where engine ROUND impls
        # disagree; caught by the sf0.01 sweep).
        F.round(slope, 9).alias("slope"),
        F.round((sy - slope * sx) / n, 4).alias("intercept"),
        F.round(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            9,
        ).alias("r2"),
    )


@register(
    "q_ext_incremental_agg",
    oracle="""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY o_orderpriority
""",
)
def q_ext_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance via partial-aggregate merge: a
    materialized base aggregate (90 % of orders) is updated with a CDC
    delta batch (the remaining 10 %) by merging algebraic partials
    (count → sum of counts, decimal sum → sum of sums) instead of
    rescanning the base fact. The oracle is the full recompute — equal
    results prove the merge algebra. At 100 TB this is the difference
    between touching one day's partition and rescanning the table; the
    same shape maintains rollups under manifest-table MERGE commits
    (octopufs_spark/merge.py)."""
    o = load(spark, sf_dir, "orders")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
        )

    base = partial(o.where(F.col("o_orderkey") % 10 != 0))
    delta = partial(o.where(F.col("o_orderkey") % 10 == 0))
    return (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("cnt").cast("long").alias("n_orders"),
            F.sum("s").cast("double").alias("total"),
        )
    )


@register(
    "q_join_salted",
    oracle="""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority
""",
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join as a registered query: the fact side is
    salted into n_salts sub-keys and the dim side replicated per salt
    (octopufs_spark/scale.py:27), so one hot order key spreads over 8
    reducers instead of stalling a single task. Salting is plan-level
    only — the oracle is the plain join, proving row-identical results.
    """
    from octopufs_spark.scale import salted_join

    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select("o_orderkey", "o_orderpriority")
    joined = salted_join(li, orders, "l_orderkey", "o_orderkey", n_salts=8)
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.sum(rev).cast("double").alias("revenue"),
    )


def _det_qb_cte(n_planes: int, dim: int) -> str:
    """Shared CTE fragment: quantized vectors with deterministic LSH
    bucket + exact squared norm (mirrors similarity.det_lsh_index).
    Plane coefficients are inlined as list literals from the SAME
    Python function the Spark side uses (deterministic_planes), so the
    two sides cannot drift — and the hash producing them can be
    finalizer-grade without needing a SQL rendering."""
    from octopufs_spark.llm.similarity import deterministic_planes

    planes = deterministic_planes(n_planes, dim)
    proj = lambda j: (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> v[i] * ([{','.join(str(c) for c in planes[j])}])[i]))"
    )
    bucket_terms = " + ".join(
        f"(CASE WHEN {proj(j)} > 0 THEN {1 << j} ELSE 0 END)" for j in range(n_planes)
    )
    from octopufs_spark.llm.similarity import adaptive_modulus_sql

    mod = adaptive_modulus_sql("SELECT COUNT(*) FROM embeddings", 16, n_planes)
    return f"""q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(x * 1000) AS BIGINT)) AS v
  FROM embeddings
), qb AS (
  SELECT vec_id, v,
         CAST(list_sum(list_transform(v, x -> x * x)) AS DOUBLE) AS nn,
         CAST({bucket_terms} AS BIGINT) % ({mod}) AS bucket
  FROM q
)"""


def _lsh_det_oracle(n_planes: int = 16, dim: int = 64, k: int = 5) -> str:
    """DuckDB replay of the deterministic LSH ANN: inline the literal
    integer hash-planes (shared Python source with the Spark side),
    re-derive corpus-adaptive buckets from exact integer projections
    masked by the integer-ladder modulus, score same-bucket pairs with
    exact integer dots, and rank. Every number is exactly
    representable, so the top-k hash-matches the Spark plan
    bit-for-bit."""
    return f"""
WITH {_det_qb_cte(n_planes, dim)}
SELECT vec_a, vec_b, cos_sim, rn FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         CAST(list_sum(list_transform(generate_series(1, {dim}), i -> a.v[i] * b.v[i])) AS DOUBLE)
           / (sqrt(a.nn) * sqrt(b.nn)) AS cos_sim,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY a.vec_id
           ORDER BY CAST(list_sum(list_transform(generate_series(1, {dim}), i -> a.v[i] * b.v[i])) AS DOUBLE)
                    / (sqrt(a.nn) * sqrt(b.nn)) DESC, b.vec_id
         ) AS BIGINT) AS rn
  FROM qb a JOIN qb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
) WHERE rn <= {k}
"""


@register("q_ext_ann_lsh_det", oracle=_lsh_det_oracle())
def q_ext_ann_lsh_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH approximate cosine top-5 with FULL value-level verification:
    hyperplanes come from an index-hash formula (not a seeded RNG) and
    all projections/dots are exact integer folds, so the entire ANN
    pipeline — bucketing, candidate join, scoring, ranking — replays
    bit-identically in SQL (llm/similarity.py::
    cosine_topk_ann_deterministic). Upgrades the ANN family from
    weak/rows-only to hash-verified; the seeded-Gaussian production
    variant remains q_ext_ann_lsh. Plan shape is unchanged: shuffle on
    bucket, per-bucket scoring, no all-pairs product. Bucket count is
    corpus-adaptive (16-plane bucket masked by the integer-ladder
    modulus, replayed verbatim in the oracle) so per-bucket density —
    and the candidate join — stays bounded as the corpus grows; a
    fixed plane count was the quadratic-at-scale trap the sf10 probe
    caught."""
    from octopufs_spark.llm import similarity

    return similarity.cosine_topk_ann_deterministic(
        load(spark, sf_dir, "embeddings"), dim=64, k=5, adaptive_max_planes=16
    )


def _ivf_det_oracle(
    n_cells: int = 8, iters: int = 2, n_probe: int = 2, k: int = 5, query_limit: int = 300
) -> str:
    """DuckDB replay of the deterministic IVF ANN: retrain the same
    integer k-means coarse quantizer (shared CTE prefix), rank cells by
    exact distance per vector (ties to the lower cell id), probe the
    top n_probe cells for each query vector, score candidates with
    exact integer dots, and rank."""
    prefix, cents = _kmeans_cte_prefix(n_cells, iters, 1000, 64)
    return (
        prefix
        + f""", rankcell AS (
  SELECT q.vec_id, c.cluster AS cell,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY q.vv - 2 * list_inner_product(q.vd, c.vd) + c.cc, c.cluster
         ) AS crn
  FROM qdd q CROSS JOIN {cents} c
), home AS (
  SELECT vec_id, cell FROM rankcell WHERE crn = 1
), probe AS (
  SELECT vec_id, cell FROM rankcell WHERE crn <= {n_probe} AND vec_id < {query_limit}
)
SELECT vec_a, vec_b, cos_sim, rn FROM (
  SELECT p.vec_id AS vec_a, h.vec_id AS vec_b,
         list_inner_product(qa.vd, qb.vd) / (sqrt(qa.vv) * sqrt(qb.vv)) AS cos_sim,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY p.vec_id
           ORDER BY list_inner_product(qa.vd, qb.vd) / (sqrt(qa.vv) * sqrt(qb.vv)) DESC,
                    h.vec_id
         ) AS BIGINT) AS rn
  FROM probe p
  JOIN home h ON p.cell = h.cell AND p.vec_id <> h.vec_id
  JOIN qdd qa ON qa.vec_id = p.vec_id
  JOIN qdd qb ON qb.vec_id = h.vec_id
) WHERE rn <= {k}
"""
    )


@register("q_ext_ann_ivf_det", oracle=_ivf_det_oracle())
def q_ext_ann_ivf_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate cosine top-5 with FULL value-level verification:
    the coarse quantizer is the deterministic integer k-means, cell
    probing ranks by exact integer distances, and scoring uses exact
    integer dots — train, assign, probe, score, and rank all replay
    bit-identically in SQL (llm/similarity.py::
    cosine_topk_ivf_deterministic). Together with q_ext_ann_lsh_det
    this makes both major ANN families hash-verified; the
    seeded-sampling production variant remains q_ext_ann_ivf."""
    from octopufs_spark.llm import similarity

    return similarity.cosine_topk_ivf_deterministic(
        load(spark, sf_dir, "embeddings"),
        n_cells=8,
        iters=2,
        n_probe=2,
        k=5,
        query_limit=300,
    )


def _semantic_det_oracle(dim: int = 64, threshold: float = 0.4, max_planes: int = 16) -> str:
    """DuckDB replay of the deterministic semantic-dedup composition:
    regenerate LSH buckets (corpus-ADAPTIVE plane count: the static
    max_planes-bit bucket masked by the integer-ladder modulus from
    llm/similarity.py::adaptive_modulus_sql, so bucket count grows
    with the corpus and candidate pairs stay linear — the sf1 scale
    gate caught the fixed-4-plane variant going quadratic), rescore
    same-bucket pairs with exact integer dots, then close the pair
    graph transitively with a recursive CTE and label every node with
    its min reachable id — the same contract as q_ext_dedup_cluster's
    oracle, but over embedding-similarity edges instead of prefix
    collisions."""
    from octopufs_spark.llm.similarity import adaptive_modulus_sql, deterministic_planes

    planes = deterministic_planes(max_planes, dim)
    proj = lambda j: (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> v[i] * ([{','.join(str(c) for c in planes[j])}])[i]))"
    )
    bucket_terms = " + ".join(
        f"(CASE WHEN {proj(j)} > 0 THEN {1 << j} ELSE 0 END)" for j in range(max_planes)
    )
    mod = adaptive_modulus_sql("SELECT COUNT(*) FROM embeddings", 16, max_planes)
    return f"""
WITH RECURSIVE q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(x * 1000) AS BIGINT)) AS v
  FROM embeddings
), qb AS (
  SELECT vec_id, v,
         CAST(list_sum(list_transform(v, x -> x * x)) AS DOUBLE) AS nn,
         CAST({bucket_terms} AS BIGINT) % ({mod}) AS bucket
  FROM q
), pairs AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM qb a JOIN qb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE CAST(list_sum(list_transform(generate_series(1, {dim}), i -> a.v[i] * b.v[i])) AS DOUBLE)
        / (sqrt(a.nn) * sqrt(b.nn)) >= {threshold}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), walk AS (
  SELECT src AS id, src AS reach FROM edges
  UNION SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src
)
SELECT id AS doc_id, MIN(reach) AS cluster_id FROM (
  SELECT id, reach FROM walk UNION SELECT src, src FROM edges
) GROUP BY id
"""


@register("q_ext_dedup_semantic_det", oracle=_semantic_det_oracle())
def q_ext_dedup_semantic_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup with FULL value-level verification end-to-end:
    deterministic-plane LSH candidates (corpus-adaptive plane count:
    per-bucket density constant, candidate pairs linear in the corpus
    — see llm/similarity.py::cosine_near_dup_pairs_det_adaptive),
    exact integer cosine rescoring (threshold 0.4), distributed
    connected components, min-id cluster labels — every stage SQL-replayable, so the entire composition
    hash-verifies (the oracle recomputes the pair graph and closes it
    with a recursive CTE). Completes the verifiable twins: exact
    (q_ext_dedup_semantic), production-seeded LSH
    (q_ext_dedup_semantic_ann), and this hash-checked path."""
    from octopufs_spark.llm import dedup, similarity

    pairs = similarity.cosine_near_dup_pairs_det_adaptive(
        load(spark, sf_dir, "embeddings"), threshold=0.4, dim=64
    )
    return dedup.connected_components(pairs)


def _minhash_det_oracle(
    n: int = 5, threshold: float = 0.2, num_perm: int = 32, bands: int = 8
) -> str:
    """DuckDB replay of the deterministic MinHash pipeline: identical
    md5-hex base hashes, affine permutations (shared (a,b) constants
    from llm/dedup.py::minhash_det_params), band keys, candidate join,
    and exact Jaccard rescoring — the complete MinHash dedup verified
    value-level, not just by a recall floor."""
    from octopufs_spark.llm.dedup import MH_P, minhash_det_params

    r = num_perm // bands
    params = minhash_det_params(num_perm)
    mins = ",\n         ".join(
        f"MIN(((h * {a}) + {b}) % {MH_P}) AS s{k}" for k, (a, b) in enumerate(params)
    )
    band_cols = ",\n         ".join(
        "md5(concat_ws(',', "
        + ", ".join(f"s{i * r + j}" for j in range(r))
        + f")) AS band{i}"
        for i in range(bands)
    )
    band_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, {i} AS band_no, band{i} AS key FROM banded" for i in range(bands)
    )
    return f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), g AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(toks) >= {n}
           THEN list_transform(generate_series(1, len(toks) - {n - 1}),
                               i -> array_to_string(toks[i:i+{n - 1}], ' '))
           ELSE [] END) AS ngrams
  FROM d
), e AS (
  SELECT doc_id, unnest(ngrams) AS ng FROM g
), he AS (
  SELECT doc_id,
         CAST(CONCAT('0x', substr(md5(ng), 1, 15)) AS BIGINT) % {MH_P} AS h,
         ng
  FROM e
), sig AS (
  SELECT doc_id,
         {mins}
  FROM he GROUP BY doc_id
), banded AS (
  SELECT doc_id,
         {band_cols}
  FROM sig
), stacked AS (
  {band_union}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM stacked a JOIN stacked b
    ON a.band_no = b.band_no AND a.key = b.key AND a.doc_id < b.doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
  FROM cand c
  JOIN e ea ON ea.doc_id = c.doc_a
  JOIN e eb ON eb.doc_id = c.doc_b AND eb.ng = ea.ng
  GROUP BY c.doc_a, c.doc_b
), sizes AS (
  SELECT doc_id, len(ngrams) AS n_ng FROM g
)
SELECT i.doc_a, i.doc_b
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.inter AS DOUBLE) / (sa.n_ng + sb.n_ng - i.inter) >= {threshold}
"""


@register("q_ext_dedup_minhash_det", oracle=_minhash_det_oracle())
def q_ext_dedup_minhash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with FULL value-level verification:
    md5-derived base hashes (identical ints in both engines), affine
    permutation family, banded candidate join, exact n-gram Jaccard
    rescoring — every stage replays in SQL, upgrading the MinHash
    family beyond the recall-contract check of q_ext_dedup_minhash
    (the xxhash64/ml production paths remain for throughput). Exact
    rescoring makes precision 1.0 by construction, so the output is
    exactly the deterministic pair set."""
    from octopufs_spark.llm import dedup

    return dedup.minhash_near_dup_pairs_deterministic(
        load(spark, sf_dir, "documents"), n=5, threshold=0.2, num_perm=32, bands=8
    )


def _simhash_det_oracle(n_bits: int = 48, band_bits: int = 12) -> str:
    """DuckDB replay of the deterministic SimHash: same md5-hex token
    hashes, same ±1 bit votes, same band slicing."""
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(n_bits)
    )
    sig = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(n_bits)
    )
    n_bands = n_bits // band_bits
    mask = (1 << band_bits) - 1
    bands = ",\n       ".join(
        f"CAST((simhash >> {i * band_bits}) & {mask} AS BIGINT) AS band{i}"
        for i in range(n_bands)
    )
    return f"""
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), h AS (
  SELECT doc_id, CAST(CONCAT('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM t
), v AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id
), s AS (
  SELECT doc_id, {sig} AS simhash FROM v
)
SELECT doc_id, simhash,
       {bands}
FROM s
"""


@register("q_ext_simhash_det", oracle=_simhash_det_oracle())
def q_ext_simhash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit SimHash + 12-bit bands with FULL value-level verification
    (md5-derived token hashes, exact integer bit votes) — the
    hash-verified twin of q_ext_simhash, completing the set: every
    dedup/ANN family (exact, MinHash, SimHash, LSH, IVF, semantic
    composition) now has a deterministic SQL-replayable variant."""
    from octopufs_spark.llm import dedup

    return dedup.simhash_bands_deterministic(load(spark, sf_dir, "documents"))


@register(
    "q_ext_time_travel",
    oracle="""
SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders WHERE o_orderkey % 10 <> 0
UNION ALL
SELECT 2 AS version, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
""",
)
def q_ext_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse time travel as a registered query: build a manifest
    table at version 1 (90 % of orders), MERGE the missing decile to
    produce version 2, then aggregate BOTH pinned snapshots — the
    oracle recomputes each version's expected content directly, so
    snapshot isolation itself is value-checked (a reader at v1 must
    not see v2's rows). Uses the same atomic-commit machinery as
    Promotor-style table swaps (octopufs_spark/manifest.py)."""
    import tempfile

    from octopufs_spark.manifest import ManifestTable
    from octopufs_spark.merge import merge_upsert_manifest

    o = load(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="octopufs_tt_")
    table = ManifestTable(root)
    o.where(F.col("o_orderkey") % 10 != 0).write.mode("overwrite").parquet(f"{root}/base")
    table.commit_overwrite("base", operation="seed")
    merge_upsert_manifest(
        spark, table, o.where(F.col("o_orderkey") % 10 == 0), keys=["o_orderkey"]
    )

    def snap(version: int) -> DataFrame:
        return table.read(spark, version=version).agg(
            F.lit(version).cast("int").alias("version"),
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        ).select("version", "n_orders", "total")

    return snap(1).unionByName(snap(2))


@register(
    "q_ext_manifest_skipping",
    oracle="""
SELECT CAST((SELECT COUNT(DISTINCT year(o_orderdate)) FROM orders) AS BIGINT) AS n_files_total,
       CAST((SELECT COUNT(DISTINCT year(o_orderdate)) FROM orders
             WHERE o_orderdate >= DATE '1996-06-01') AS BIGINT) AS n_files_read,
       CAST((SELECT COUNT(*) FROM orders WHERE o_orderdate >= DATE '1996-06-01') AS BIGINT) AS n_rows,
       CAST((SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders
             WHERE o_orderdate >= DATE '1996-06-01') AS DOUBLE) AS total_price
""",
)
def q_ext_manifest_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map DATA SKIPPING on manifest tables, value-verified
    end-to-end: orders are committed one file per order-year
    (repartition on the year key + hive partitioning makes the layout
    deterministic) with per-file column min/max recorded in the
    manifest at commit time (manifest.py::collect_file_stats — the
    Delta/Iceberg stats model); a selective date predicate then plans
    through ``prune_plan``/``read_pruned``, which opens ONLY files
    whose [min,max] interval can match. The oracle recomputes every
    output from the base table: n_files_read = the distinct years
    intersecting the predicate, so if pruning silently stopped working
    (all files read) or over-pruned (rows lost), the hash flips. At
    100 TB this is the difference between planning over every file and
    over the handful a predicate touches."""
    import tempfile

    from octopufs_spark.manifest import ManifestTable, write_and_commit

    o = load(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="octopufs_skip_")
    table = ManifestTable(root)
    staged = o.withColumn("yr", F.year("o_orderdate")).repartition("yr")
    write_and_commit(staged, table, stats=True, partition_by=["yr"])

    cutoff = "1996-06-01"
    keep, skipped = table.prune_plan([("o_orderdate", ">=", cutoff)])
    pruned = table.read_pruned(spark, [("o_orderdate", ">=", cutoff)]).where(
        F.col("o_orderdate") >= F.lit(cutoff).cast("date")
    )
    agg = pruned.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias(
            "total_price"
        ),
    )
    return agg.select(
        F.lit(len(keep) + skipped).cast("long").alias("n_files_total"),
        F.lit(len(keep)).cast("long").alias("n_files_read"),
        F.col("n_rows").cast("long").alias("n_rows"),
        "total_price",
    )


@register(
    "q_ext_compaction_atomic",
    oracle="""
SELECT CAST(8 AS BIGINT) AS files_before, CAST(1 AS BIGINT) AS files_after,
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows,
       CAST((SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders) AS DOUBLE) AS total_price
""",
)
def q_ext_compaction_atomic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATOMIC small-file compaction as a registered, value-verified
    query: orders committed as 8 files, compacted into 1 by a single
    manifest commit (manifest.compact_and_commit — readers flip file
    sets atomically, unlike the directory swap in
    compact.do_auto_coalesce whose non-atomic window the manifest
    model exists to close; reference: Coalesce.scala:33-46). The
    oracle pins the before/after file counts AND the content — a
    compaction that loses or duplicates rows, or that silently stops
    reducing files, flips the hash."""
    import tempfile

    from octopufs_spark.manifest import ManifestTable, compact_and_commit, write_and_commit

    o = load(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="octopufs_cmp_")
    table = ManifestTable(root)
    write_and_commit(o.repartition(8), table)
    files_before = len(table.read_manifest(1).files)
    v = compact_and_commit(spark, table, target_file_bytes=512 * 1024 * 1024)
    files_after = len(table.read_manifest(v).files)
    agg = table.read(spark).agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("t"),
    )
    return agg.select(
        F.lit(files_before).cast("long").alias("files_before"),
        F.lit(files_after).cast("long").alias("files_after"),
        F.col("n").cast("long").alias("n_rows"),
        F.col("t").alias("total_price"),
    )


@register(
    "q_ext_vacuum_retention",
    oracle="""
SELECT TRUE AS old_files_removed,
       TRUE AS v1_unreadable,
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows_live,
       CAST((SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders) AS DOUBLE) AS total_live
""",
)
def q_ext_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM retention as a registered, value-verified query: v1
    (half of orders) is overwritten by v2 (all orders); vacuum with
    keep_versions=1 must physically remove v1's now-unreferenced data
    files AND prune its manifest (time travel to v1 then fails by
    design), while the live snapshot stays byte-complete. Runs with
    ``retention_seconds=0`` because the test is single-writer and just
    wrote the dead files; production vacuums keep the default 24 h
    mtime window so an in-flight writer's staged-but-unpublished files
    survive. The oracle
    pins both directions: garbage actually collected, live data
    untouched — the deferred-GC contract the manifest commit model
    makes safe (unreferenced files are invisible to readers at every
    point)."""
    import tempfile

    from octopufs_spark.manifest import ManifestTable, write_and_commit

    o = load(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="octopufs_vac_")
    table = ManifestTable(root)
    write_and_commit(o.where(F.col("o_orderkey") % 2 == 0), table)
    write_and_commit(o, table)  # full overwrite: v1 files now dead
    removed = table.vacuum(keep_versions=1, retention_seconds=0)
    v1_unreadable = False
    try:
        table.read_manifest(1)
    except FileNotFoundError:
        v1_unreadable = True
    agg = table.read(spark).agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("t"),
    )
    return agg.select(
        F.lit(any(r.endswith(".parquet") for r in removed)).alias("old_files_removed"),
        F.lit(v1_unreadable).alias("v1_unreadable"),
        F.col("n").cast("long").alias("n_rows_live"),
        F.col("t").alias("total_live"),
    )


@register(
    "q_ext_schema_evolution",
    oracle="""
SELECT CAST((SELECT COUNT(*) FROM orders) * 2 AS BIGINT) AS n_rows_total,
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_null_newcol,
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_filled_newcol,
       CAST((SELECT SUM(CAST(length(o_orderpriority) AS BIGINT)) FROM orders) AS BIGINT) AS sum_newcol
""",
)
def q_ext_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION on manifest tables, value-verified: v1 commits
    orders without the evolved column; an append commit adds rows
    carrying a NEW column (priority_len); reading with
    ``merge_schema=True`` unifies the snapshots — pre-evolution rows
    surface NULL for the added column, post-evolution rows carry their
    values. The oracle recomputes total rows, the NULL/filled split
    and the evolved column's sum from the base table, so silent column
    drops, misaligned unification, or NULL-backfill drift all flip the
    hash."""
    import tempfile

    from octopufs_spark.manifest import ManifestTable, write_and_commit

    o = load(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="octopufs_evo_")
    table = ManifestTable(root)
    base = o.select("o_orderkey", "o_totalprice")
    write_and_commit(base, table)
    evolved = o.select(
        (F.col("o_orderkey") + F.lit(1_000_000_000)).alias("o_orderkey"),
        "o_totalprice",
        F.length("o_orderpriority").cast("long").alias("priority_len"),
    )
    write_and_commit(evolved, table, mode="append")
    df = table.read(spark, merge_schema=True)
    return df.agg(
        F.count("*").cast("long").alias("n_rows_total"),
        F.count(F.when(F.col("priority_len").isNull(), 1)).cast("long").alias(
            "n_null_newcol"
        ),
        F.count("priority_len").cast("long").alias("n_filled_newcol"),
        F.sum("priority_len").cast("long").alias("sum_newcol"),
    )


@register(
    "q_ext_write_constraints",
    oracle="""
SELECT CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice > 0) AS BIGINT) AS n_committed,
       CAST(1 AS BIGINT) AS n_versions,
       TRUE AS dirty_rejected,
       TRUE AS table_unchanged
""",
)
def q_ext_write_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints enforced at the COMMIT boundary (the Delta
    constraints model): a clean batch (positive prices, non-null keys)
    publishes; a dirty batch (negated prices smuggled in) is REJECTED
    before publish — the table stays at its prior version and readers
    can never observe a contract-breaking snapshot. The oracle
    recomputes the committed row count and expects exactly one
    version, rejection, and an unchanged table — so both enforcement
    directions (accept clean, reject dirty, never half-publish) are
    value-checked."""
    import tempfile

    from octopufs_spark.manifest import ManifestTable, write_and_commit

    o = load(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="octopufs_chk_")
    table = ManifestTable(root)
    rules = [
        ("price_positive", "o_totalprice > 0"),
        ("key_not_null", "o_orderkey IS NOT NULL"),
    ]
    clean = o.where(F.col("o_totalprice") > 0)
    write_and_commit(clean, table, expectations=rules)
    v_after_clean = table.latest_version()
    dirty = o.limit(500).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, -F.col("o_totalprice")).otherwise(
            F.col("o_totalprice")
        ),
    )
    dirty_rejected = False
    try:
        write_and_commit(dirty, table, mode="append", expectations=rules)
    except ValueError as e:
        dirty_rejected = "constraint violations" in str(e)
    unchanged = table.latest_version() == v_after_clean
    committed = table.read(spark).agg(F.count("*").alias("n"))
    return committed.select(
        F.col("n").cast("long").alias("n_committed"),
        F.lit(table.latest_version()).cast("long").alias("n_versions"),
        F.lit(dirty_rejected).alias("dirty_rejected"),
        F.lit(unchanged).alias("table_unchanged"),
    )


@register(
    "q_ext_delete_vectors",
    oracle="""
SELECT TRUE AS no_rewrite,
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows_v1,
       CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 <> 7) AS BIGINT) AS n_rows_v2,
       CAST((SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders
             WHERE o_orderkey % 10 <> 7) AS DOUBLE) AS total_v2
""",
)
def q_ext_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ deletes via deletion vectors, value-verified:
    orders are committed once, then decile-7 rows are deleted WITHOUT
    rewriting any data file (merge.delete_where_mor stages only a
    KB-sized key vector; the commit's data file set is byte-identical
    to the parent's, asserted by `no_rewrite`). Reading v2 applies the
    vector with an anti-join — the deleted rows are invisible — while
    v1 still returns every row (time travel unaffected). The oracle
    recomputes both snapshots' expected contents; at 100 TB this is a
    delete touching every file priced as a KB commit instead of a
    full-table rewrite (compaction later reconciles and drops the
    vectors)."""
    import tempfile

    from octopufs_spark.manifest import ManifestTable, write_and_commit
    from octopufs_spark.merge import delete_where_mor

    o = load(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="octopufs_dv_")
    table = ManifestTable(root)
    write_and_commit(o, table)
    delete_where_mor(
        spark,
        table,
        o.where(F.col("o_orderkey") % 10 == 7).select("o_orderkey"),
        keys=["o_orderkey"],
    )
    no_rewrite = sorted(table.read_manifest(1).files) == sorted(
        table.read_manifest(2).files
    )
    v1_count = table.read(spark, version=1).agg(F.count("*").alias("n1"))
    v2 = table.read(spark, version=2).agg(
        F.count("*").alias("n2"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("t2"),
    )
    return v1_count.crossJoin(v2).select(
        F.lit(no_rewrite).alias("no_rewrite"),
        F.col("n1").cast("long").alias("n_rows_v1"),
        F.col("n2").cast("long").alias("n_rows_v2"),
        F.col("t2").alias("total_v2"),
    )


@register(
    "q_ext_change_feed",
    oracle="""
SELECT 'insert' AS op,
       CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 0) AS BIGINT) AS n_rows,
       CAST((SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders
             WHERE o_orderkey % 10 = 0) AS DOUBLE) AS total_price
UNION ALL
SELECT 'update',
       CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 3) AS BIGINT),
       CAST((SELECT SUM(CAST(o_totalprice + 1 AS DECIMAL(18,2))) FROM orders
             WHERE o_orderkey % 10 = 3) AS DOUBLE)
UNION ALL
SELECT 'delete',
       CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 7) AS BIGINT),
       CAST((SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders
             WHERE o_orderkey % 10 = 7) AS DOUBLE)
""",
)
def q_ext_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC CHANGE FEED between manifest versions (Delta's
    ``table_changes`` model): v1 holds 90% of orders; one MERGE
    produces v2 with the missing decile inserted, decile-3 rows
    updated (+1 price) and decile-7 rows deleted. The feed is then
    DERIVED from the two immutable snapshots — a full outer join on
    the key classifies each row as insert (v2 only), delete (v1 only)
    or update (both, any non-key column changed) — and aggregated per
    op. The oracle recomputes every class directly from the base
    table, so merge semantics, snapshot isolation, AND the feed
    derivation are all value-checked. Plan: one key-shuffle full outer
    join between snapshots; at 100 TB partition-pruned COW confines it
    to rewritten partitions."""
    import tempfile

    from octopufs_spark.manifest import ManifestTable
    from octopufs_spark.merge import merge_upsert_manifest

    o = load(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="octopufs_cdc_")
    table = ManifestTable(root)
    o.where(F.col("o_orderkey") % 10 != 0).write.mode("overwrite").parquet(f"{root}/base")
    table.commit_overwrite("base", operation="seed")
    upserts = o.where(F.col("o_orderkey") % 10 == 0).unionByName(
        o.where(F.col("o_orderkey") % 10 == 3).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1
        )
    )
    deletes = o.where(F.col("o_orderkey") % 10 == 7).select("o_orderkey")
    merge_upsert_manifest(spark, table, upserts, keys=["o_orderkey"], deletes=deletes)

    v1 = table.read(spark, version=1).select("o_orderkey", "o_totalprice")
    v2 = table.read(spark, version=2).select("o_orderkey", "o_totalprice")
    j = v1.alias("a").join(
        v2.alias("b"), F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
    )
    feed = j.select(
        F.when(F.col("a.o_orderkey").isNull(), F.lit("insert"))
        .when(F.col("b.o_orderkey").isNull(), F.lit("delete"))
        .when(F.col("a.o_totalprice") != F.col("b.o_totalprice"), F.lit("update"))
        .alias("op"),
        F.coalesce(F.col("b.o_totalprice"), F.col("a.o_totalprice")).alias("price"),
    ).where(F.col("op").isNotNull())
    return feed.groupBy("op").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.col("price").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


def _zorder_oracle() -> str:
    """DuckDB replay of the z-order layout + interval pruning: rebuild
    the same 4+4-bit interleaved z-value, the same fixed-width bucket
    (top 4 z bits), the same per-bucket min/max, and count the buckets
    whose interval intersects each predicate."""
    cx = "CAST(FLOOR(o_custkey * 16.0 / ((SELECT MAX(o_custkey) FROM orders) + 1)) AS BIGINT)"
    cy = (
        "CAST(FLOOR(datediff('day', DATE '1992-01-01', o_orderdate) * 16.0 /"
        " ((SELECT MAX(datediff('day', DATE '1992-01-01', o_orderdate)) FROM orders) + 1)) AS BIGINT)"
    )
    z = " + ".join(
        f"((({cx} >> {j}) & 1) << {2 * j + 1}) + ((({cy} >> {j}) & 1) << {2 * j})"
        for j in range(4)
    )
    return f"""
WITH b AS (
  SELECT o_custkey, o_orderdate, ({z}) >> 4 AS zbucket FROM orders
), per AS (
  SELECT zbucket,
         MIN(o_custkey) AS ck_min, MAX(o_custkey) AS ck_max,
         MIN(o_orderdate) AS d_min, MAX(o_orderdate) AS d_max
  FROM b GROUP BY zbucket
)
SELECT CAST((SELECT COUNT(*) FROM per) AS BIGINT) AS n_files_total,
       CAST((SELECT COUNT(*) FROM per
             WHERE ck_max >= (SELECT MAX(o_custkey) FROM orders) * 3 // 4) AS BIGINT) AS n_files_cust,
       CAST((SELECT COUNT(*) FROM per WHERE d_max >= DATE '1997-01-01') AS BIGINT) AS n_files_date,
       CAST((SELECT COUNT(*) FROM orders
             WHERE o_custkey >= (SELECT MAX(o_custkey) FROM orders) * 3 // 4) AS BIGINT) AS n_rows_cust,
       CAST((SELECT COUNT(*) FROM orders WHERE o_orderdate >= DATE '1997-01-01') AS BIGINT) AS n_rows_date
"""


@register("q_ext_zorder_skipping", oracle=_zorder_oracle())
def q_ext_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering + multi-dimensional data skipping, fully
    value-verified: orders are laid out by a 4+4-bit interleaved
    z-value over (o_custkey, o_orderdate) into fixed-width z-buckets
    (top 4 z bits — deterministic and shuffle-cheap, unlike
    sampling-based repartitionByRange; one file per bucket), committed
    with zone-map stats. Because the z-curve localizes BOTH dimensions,
    a selective predicate on EITHER column prunes most files — the
    multi-column clustering story Delta's OPTIMIZE ZORDER BY sells.
    The oracle recomputes the bucket layout, per-bucket min/max
    intervals, and therefore the exact file counts each predicate must
    read — if the layout, the stats collection, or the pruner drifts,
    the hash flips. Row results are checked too (no over-pruning)."""
    import tempfile

    from octopufs_spark.manifest import ManifestTable, write_and_commit

    o = load(spark, sf_dir, "orders")
    day = F.datediff("o_orderdate", F.lit("1992-01-01").cast("date"))
    # one setup job for both grid bounds (two scalar collects was two
    # full scans; max/max fuse into a single partial-agg pass)
    max_ck, max_day = o.agg(F.max("o_custkey"), F.max(day)).collect()[0]
    cx = F.floor(F.col("o_custkey") * 16.0 / (max_ck + 1)).cast("long")
    cy = F.floor(day * 16.0 / (max_day + 1)).cast("long")
    zval = None
    for j in range(4):
        term = (cx.bitwiseAND(1 << j) / (1 << j)).cast("long") * (1 << (2 * j + 1)) + (
            cy.bitwiseAND(1 << j) / (1 << j)
        ).cast("long") * (1 << (2 * j))
        zval = term if zval is None else zval + term
    staged = o.withColumn("zbucket", (zval / 16).cast("long")).repartition("zbucket")

    root = tempfile.mkdtemp(prefix="octopufs_zorder_")
    table = ManifestTable(root)
    write_and_commit(staged, table, stats=True, partition_by=["zbucket"])

    cust_lo = max_ck * 3 // 4
    preds_cust = [("o_custkey", ">=", cust_lo)]
    preds_date = [("o_orderdate", ">=", "1997-01-01")]
    keep_c, skip_c = table.prune_plan(preds_cust)
    keep_d, skip_d = table.prune_plan(preds_date)
    rows_c = (
        table.read_pruned(spark, preds_cust)
        .where(F.col("o_custkey") >= cust_lo)
        .agg(F.count("*").alias("n"))
    )
    rows_d = (
        table.read_pruned(spark, preds_date)
        .where(F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        .agg(F.count("*").alias("n"))
    )
    return rows_c.crossJoin(rows_d.withColumnRenamed("n", "nd")).select(
        F.lit(len(keep_c) + skip_c).cast("long").alias("n_files_total"),
        F.lit(len(keep_c)).cast("long").alias("n_files_cust"),
        F.lit(len(keep_d)).cast("long").alias("n_files_date"),
        F.col("n").cast("long").alias("n_rows_cust"),
        F.col("nd").cast("long").alias("n_rows_date"),
    )


@register(
    "q_ext_bloom_skipping",
    oracle="""
SELECT CAST(8 AS BIGINT) AS n_files_total,
       TRUE AS bloom_pruned,
       CAST((SELECT COUNT(*) FROM orders WHERE o_custkey = 421) AS BIGINT) AS n_rows,
       CAST((SELECT COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) FROM orders
             WHERE o_custkey = 421) AS DOUBLE) AS total_price
""",
)
def q_ext_bloom_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter FILE SKIPPING for point lookups — the case zone
    maps cannot help: orders are committed into 8 files hashed by
    o_custkey mod 8, so every file's [min,max] o_custkey interval
    spans the whole key domain and interval pruning keeps all 8; the
    per-file Bloom index (manifest.py::collect_bloom_index, salted
    crc32, sized ~16 bits/distinct key) prunes every file that cannot
    contain the key. The contract: the lookup's row results must equal
    the full-table SQL answer AND `bloom_pruned` asserts strictly
    fewer than all files were read — a Bloom regression (never prunes,
    or over-prunes and loses the customer's rows) flips the hash. FP
    hits only cost an extra file read, preserving correctness by
    design."""
    import tempfile

    from octopufs_spark.manifest import ManifestTable, write_and_commit

    o = load(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="octopufs_bloom_")
    table = ManifestTable(root)
    staged = o.withColumn("bucket", F.col("o_custkey") % 8).repartition("bucket")
    write_and_commit(
        table=table,
        df=staged,
        stats=True,
        partition_by=["bucket"],
        bloom_columns=["o_custkey"],
    )

    key = 421
    keep, skipped = table.prune_plan([("o_custkey", "=", key)])
    pruned = table.read_pruned(spark, [("o_custkey", "=", key)]).where(
        F.col("o_custkey") == key
    )
    agg = pruned.agg(
        F.count("*").alias("n_rows"),
        F.coalesce(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), F.lit(0.0)
        ).alias("total_price"),
    )
    return agg.select(
        F.lit(len(keep) + skipped).cast("long").alias("n_files_total"),
        F.lit(skipped > 0).alias("bloom_pruned"),
        F.col("n_rows").cast("long").alias("n_rows"),
        "total_price",
    )


@register(
    "q_scalar_url",
    oracle="""
SELECT c_custkey,
       'shop.example.com' AS host,
       CONCAT('/seg/', lower(c_mktsegment)) AS path,
       CAST(c_custkey AS VARCHAR) AS cust_param,
       lower(c_mktsegment) AS seg_from_path
FROM customer
""",
)
def q_scalar_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing surface: build canonical URLs from row data, then
    extract host / path / a query parameter with ``parse_url`` — the
    log-processing primitive (the oracle recomputes each component
    from the construction, so a parser regression shows as a value
    mismatch)."""
    cust = load(spark, sf_dir, "customer")
    url = F.concat(
        F.lit("https://shop.example.com/seg/"),
        F.lower("c_mktsegment"),
        F.lit("?cust="),
        F.col("c_custkey").cast("string"),
        F.lit("&x=1"),
    )
    return cust.select(
        "c_custkey",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("cust")).alias("cust_param"),
        F.regexp_extract(F.parse_url(url, F.lit("PATH")), r"/seg/(.+)", 1).alias(
            "seg_from_path"
        ),
    )


def _ann_eval_oracle(n_planes: int = 16, dim: int = 64, k: int = 5, qlimit: int = 50) -> str:
    """DuckDB replay of the ANN evaluation harness: exact top-k by
    brute force over the quantized vectors, ANN top-k via the
    deterministic LSH, then recall@k and MRR (scaled by 60 = lcm(1..5)
    so the sum is exactly integral)."""
    cos = (
        "CAST(list_sum(list_transform(generate_series(1, {dim}), i -> a.v[i] * b.v[i])) AS DOUBLE)"
        " / (sqrt(a.nn) * sqrt(b.nn))"
    ).format(dim=dim)
    return f"""
WITH {_det_qb_cte(n_planes, dim)}, exact AS (
  SELECT qid, xid, rn FROM (
    SELECT a.vec_id AS qid, b.vec_id AS xid,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY {cos} DESC, b.vec_id) AS rn
    FROM qb a JOIN qb b ON b.vec_id <> a.vec_id
    WHERE a.vec_id < {qlimit}
  ) WHERE rn <= {k}
), ann AS (
  SELECT qid, xid, rn FROM (
    SELECT a.vec_id AS qid, b.vec_id AS xid,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY {cos} DESC, b.vec_id) AS rn
    FROM qb a JOIN qb b ON a.bucket = b.bucket AND b.vec_id <> a.vec_id
    WHERE a.vec_id < {qlimit}
  ) WHERE rn <= {k}
), hits AS (
  SELECT COUNT(*) AS h
  FROM exact e JOIN ann a ON e.qid = a.qid AND e.xid = a.xid
), rr AS (
  SELECT COALESCE(SUM(CAST(60 AS BIGINT) // a.rn), 0) AS mrr60
  FROM exact e JOIN ann a ON e.qid = a.qid AND e.xid = a.xid
  WHERE e.rn = 1
)
SELECT CAST((SELECT COUNT(DISTINCT qid) FROM exact) AS BIGINT) AS n_queries,
       CAST(hits.h AS BIGINT) AS hits_at_5,
       CAST(rr.mrr60 AS BIGINT) AS mrr_x60
FROM hits, rr
"""


@register("q_ext_ann_eval", oracle=_ann_eval_oracle())
def q_ext_ann_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation harness: recall@5 hit count and MRR of the
    deterministic LSH ANN against brute-force exact ground truth, for a
    50-query block — the quality report every ANN deployment needs,
    here computed entirely in-engine and hash-verified (MRR is scaled
    by 60 = lcm(1..5) so every reciprocal rank is an exact integer).
    The exact side joins a broadcast 50-row query block against the
    corpus — bounded work, never an n-squared product. The ANN under
    evaluation is the corpus-adaptive det index (the exact
    configuration q_ext_ann_lsh_det serves), so the recall/MRR report
    tracks the production det path at every scale."""
    from pyspark.sql.window import Window

    from octopufs_spark.llm import similarity

    b = similarity.det_lsh_index_adaptive(
        load(spark, sf_dir, "embeddings"), 64, 16
    ).localCheckpoint()
    qs = b.where(F.col("vec_id") < 50)

    dot = F.aggregate(
        F.zip_with(F.col("a.qv"), F.col("b.qv"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos = dot.cast("double") / (
        F.sqrt(F.col("a.nn").cast("double")) * F.sqrt(F.col("b.nn").cast("double"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("xid"))

    def topk(pairs):
        return (
            pairs.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 5)
            .select("qid", "xid", "rn")
        )

    exact = topk(
        F.broadcast(qs).alias("a")
        .join(b.alias("b"), F.col("b.vec_id") != F.col("a.vec_id"))
        .select(
            F.col("a.vec_id").alias("qid"), F.col("b.vec_id").alias("xid"), cos.alias("cos_sim")
        )
    )
    ann = topk(
        qs.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("b.vec_id") != F.col("a.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("qid"), F.col("b.vec_id").alias("xid"), cos.alias("cos_sim")
        )
    )
    # ONE left join + ONE aggregate produce all three report columns
    # (r10, guide §1.2 step 1: the previous three separate aggregates +
    # two crossJoins re-executed the expensive exact subtree — a
    # 50-query broadcast against the corpus — three times in one plan;
    # a left join preserves every exact row, so countDistinct(qid)
    # equals the old nq, count(nrn) counts exactly the inner-matched
    # pairs, and the rank-1 reciprocal-rank sum skips unmatched rows
    # because 60 div NULL is NULL).
    m = exact.join(ann.withColumnRenamed("rn", "nrn"), ["qid", "xid"], "left")
    return m.agg(
        F.countDistinct("qid").cast("long").alias("n_queries"),
        F.count("nrn").cast("long").alias("hits_at_5"),
        F.coalesce(
            F.sum(F.when(F.col("rn") == 1, F.expr("60 div nrn"))), F.lit(0)
        )
        .cast("long")
        .alias("mrr_x60"),
    )


def _ivfpq_oracle(
    n_cells: int = 8, iters: int = 1, n_probe: int = 2, k: int = 5, qlimit: int = 50
) -> str:
    """DuckDB replay of the IVF-PQ composite: integer k-means coarse
    cells (shared prefix), PQ codes + per-query LUTs (as in
    q_ext_embed_pq / q_ext_ann_pq_adc), candidates restricted to
    probed cells, ADC scores ranked."""
    prefix, cents = _kmeans_cte_prefix(n_cells, iters, 1000, 64)
    return (
        prefix
        + f""", rankcell AS (
  SELECT q.vec_id, c.cluster AS cell,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY q.vv - 2 * list_inner_product(q.vd, c.vd) + c.cc, c.cluster
         ) AS crn
  FROM qdd q CROSS JOIN {cents} c
), home AS (
  SELECT vec_id, cell FROM rankcell WHERE crn = 1
), probe AS (
  SELECT vec_id, cell FROM rankcell WHERE crn <= {n_probe} AND vec_id < {qlimit}
), pos AS (
  SELECT vec_id, unnest(generate_series(1, 64)) AS p, unnest(v) AS val FROM q
), el AS (
  SELECT vec_id, CAST(FLOOR((p - 1) / 8) AS BIGINT) AS subspace, p, val FROM pos
), centpq AS (
  SELECT vec_id AS code, subspace, p, val AS cval FROM el WHERE vec_id < 4
), dists AS (
  SELECT el.vec_id, el.subspace, c.code,
         SUM((el.val - c.cval) * (el.val - c.cval)) AS d
  FROM el JOIN centpq c ON c.subspace = el.subspace AND c.p = el.p
  GROUP BY el.vec_id, el.subspace, c.code
), codes AS (
  SELECT vec_id, subspace, code FROM (
    SELECT vec_id, subspace, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, subspace ORDER BY d, code) AS rn
    FROM dists
  ) WHERE rn = 1
), cand AS (
  SELECT p.vec_id AS qid, h.vec_id AS xid
  FROM probe p JOIN home h ON p.cell = h.cell AND p.vec_id <> h.vec_id
), adc AS (
  SELECT cand.qid, cand.xid, SUM(l.d) AS adist
  FROM cand
  JOIN codes x ON x.vec_id = cand.xid
  JOIN dists l ON l.vec_id = cand.qid AND l.subspace = x.subspace AND l.code = x.code
  GROUP BY cand.qid, cand.xid
)
SELECT qid, xid, CAST(adist AS BIGINT) AS adist, rn FROM (
  SELECT qid, xid, adist,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, xid) AS BIGINT) AS rn
  FROM adc
) WHERE rn <= {k}
"""
    )


@register("q_ext_ann_ivfpq", oracle=_ivfpq_oracle())
def q_ext_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search — the composition billion-scale vector stores
    actually run: integer k-means coarse cells prune the corpus to
    n_probe/n_cells, and candidates are scored by PQ asymmetric
    distance (8 LUT lookups, no raw vectors touched). Every stage is
    exact integer arithmetic, so the ENTIRE index pipeline — train,
    assign, encode, probe, score, rank — hash-verifies against the SQL
    replay. Candidate bytes ∝ n·(n_probe/n_cells); scoring bytes ∝
    candidates·8 lookups."""
    from pyspark.sql.window import Window

    from octopufs_spark.llm import clustering

    qv = clustering.quantize(load(spark, sf_dir, "embeddings")).localCheckpoint()
    cents = clustering.kmeans_centroids(qv, k=8, iters=1)
    ranked = clustering.rank_cells(qv, cents)
    home = ranked.where(F.col("crn") == 1).select("vec_id", F.col("cluster").alias("cell"))
    probe = ranked.where((F.col("crn") <= 2) & (F.col("vec_id") < 50)).select(
        "vec_id", F.col("cluster").alias("cell")
    )
    e = qv.select("vec_id", F.posexplode("qv").alias("p0", "val")).select(
        "vec_id",
        (F.col("p0") + 1).alias("p"),
        F.floor(F.col("p0") / 8).cast("long").alias("subspace"),
        "val",
    ).localCheckpoint()
    cent = e.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("code"), "subspace", "p", F.col("val").alias("cval")
    )
    dists = (
        e.join(F.broadcast(cent), ["subspace", "p"])
        .groupBy("vec_id", "subspace", "code")
        .agg(
            F.sum((F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))).alias("d")
        )
        .localCheckpoint()  # feeds codes AND query LUTs
    )
    w_code = Window.partitionBy("vec_id", "subspace").orderBy("d", "code")
    codes = (
        dists.withColumn("rn", F.row_number().over(w_code))
        .where(F.col("rn") == 1)
        .select(F.col("vec_id").alias("xid"), "subspace", "code")
    )
    lut = dists.select(F.col("vec_id").alias("qid"), "subspace", "code", "d")
    cand = probe.alias("p").join(
        home.alias("h"),
        (F.col("p.cell") == F.col("h.cell")) & (F.col("p.vec_id") != F.col("h.vec_id")),
    ).select(F.col("p.vec_id").alias("qid"), F.col("h.vec_id").alias("xid"))
    adc = (
        cand.join(codes, "xid")
        .join(lut, ["qid", "subspace", "code"])
        .groupBy("qid", "xid")
        .agg(F.sum("d").alias("adist"))
    )
    w_top = Window.partitionBy("qid").orderBy("adist", "xid")
    return (
        adc.withColumn("rn", F.row_number().over(w_top).cast("long"))
        .where(F.col("rn") <= 5)
        .select("qid", "xid", F.col("adist").cast("long").alias("adist"), "rn")
    )


def _ivfpq_residual_oracle(
    n_cells: int = 8, iters: int = 1, n_probe: int = 2, k: int = 5, qlimit: int = 50
) -> str:
    """DuckDB replay of RESIDUAL IVF-PQ (the textbook formulation):
    database vectors are PQ-encoded as residuals from their home-cell
    centroid, and each query builds a separate LUT per probed cell from
    ITS residual in that cell — so quantization error tracks the local
    cell geometry instead of absolute position."""
    prefix, cents = _kmeans_cte_prefix(n_cells, iters, 1000, 64)
    final_c = cents[:-1]  # cNd's underlying cN CTE holds (cluster, v)
    return (
        prefix
        + f""", rankcell AS (
  SELECT q.vec_id, c.cluster AS cell,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY q.vv - 2 * list_inner_product(q.vd, c.vd) + c.cc, c.cluster
         ) AS crn
  FROM qdd q CROSS JOIN {cents} c
), home AS (
  SELECT vec_id, cell FROM rankcell WHERE crn = 1
), probe AS (
  SELECT vec_id, cell FROM rankcell WHERE crn <= {n_probe} AND vec_id < {qlimit}
), cent_pos AS (
  SELECT cluster AS cell, unnest(generate_series(1, 64)) AS p, unnest(v) AS cval
  FROM {final_c}
), el AS (
  SELECT vec_id, unnest(generate_series(1, 64)) AS p, unnest(v) AS val FROM q
), rx AS (
  SELECT e.vec_id, e.p, CAST(FLOOR((e.p - 1) / 8) AS BIGINT) AS subspace,
         e.val - cp.cval AS rval
  FROM el e JOIN home h ON h.vec_id = e.vec_id
  JOIN cent_pos cp ON cp.cell = h.cell AND cp.p = e.p
), centpq AS (
  SELECT vec_id AS code, subspace, p, rval AS cval FROM rx WHERE vec_id < 4
), codes AS (
  SELECT vec_id, subspace, code FROM (
    SELECT r.vec_id, r.subspace, c.code,
           ROW_NUMBER() OVER (PARTITION BY r.vec_id, r.subspace
                              ORDER BY SUM((r.rval - c.cval) * (r.rval - c.cval)), c.code) AS rn
    FROM rx r JOIN centpq c ON c.subspace = r.subspace AND c.p = r.p
    GROUP BY r.vec_id, r.subspace, c.code
  ) WHERE rn = 1
), rq AS (
  SELECT pr.vec_id AS qid, pr.cell, e.p,
         CAST(FLOOR((e.p - 1) / 8) AS BIGINT) AS subspace,
         e.val - cp.cval AS rval
  FROM probe pr JOIN el e ON e.vec_id = pr.vec_id
  JOIN cent_pos cp ON cp.cell = pr.cell AND cp.p = e.p
), lut AS (
  SELECT r.qid, r.cell, r.subspace, c.code,
         SUM((r.rval - c.cval) * (r.rval - c.cval)) AS d
  FROM rq r JOIN centpq c ON c.subspace = r.subspace AND c.p = r.p
  GROUP BY r.qid, r.cell, r.subspace, c.code
), cand AS (
  SELECT p.vec_id AS qid, h.vec_id AS xid, p.cell
  FROM probe p JOIN home h ON p.cell = h.cell AND p.vec_id <> h.vec_id
), adc AS (
  SELECT cand.qid, cand.xid, SUM(l.d) AS adist
  FROM cand
  JOIN codes x ON x.vec_id = cand.xid
  JOIN lut l ON l.qid = cand.qid AND l.cell = cand.cell
            AND l.subspace = x.subspace AND l.code = x.code
  GROUP BY cand.qid, cand.xid
)
SELECT qid, xid, CAST(adist AS BIGINT) AS adist, rn FROM (
  SELECT qid, xid, adist,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, xid) AS BIGINT) AS rn
  FROM adc
) WHERE rn <= {k}
"""
    )


@register("q_ext_ann_ivfpq_residual", oracle=_ivfpq_residual_oracle())
def q_ext_ann_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ — the formulation production indexes (FAISS
    IVFPQ) actually use: PQ encodes each vector's RESIDUAL from its
    coarse centroid, and queries build a per-probed-cell LUT from their
    own residual, so code error follows local cell geometry. All
    integer arithmetic → the full train/encode/probe/score pipeline
    hash-verifies. Compare q_ext_ann_ivfpq (absolute-position PQ) for
    the accuracy delta on the same fixture.

    Both scoring joins carry a hint, so the plan is the same in every
    run. Unhinted, both plan as sort-merge joins from large static
    estimates, every side is ~1 MB at run time, and AQE converts
    whichever join's stages finish first into a broadcast join: one
    session at sf0.1 ran three final plans (108,845 to 133,720
    shuffle records). ``lut`` is broadcast because it is bounded at
    any scale (50 queries × 2 probed cells × 8 subspaces × 4 codes =
    3,200 rows). ``codes`` is merge-hinted because it has 8 rows per
    vector and grows with the corpus, so it must neither be broadcast
    nor left to AQE's completion-order conversion."""
    from pyspark.sql.window import Window

    from octopufs_spark.llm import clustering

    qv = clustering.quantize(load(spark, sf_dir, "embeddings")).localCheckpoint()
    cents = clustering.kmeans_centroids(qv, k=8, iters=1)
    ranked = clustering.rank_cells(qv, cents)
    home = ranked.where(F.col("crn") == 1).select("vec_id", F.col("cluster").alias("cell"))
    probe = ranked.where((F.col("crn") <= 2) & (F.col("vec_id") < 50)).select(
        "vec_id", F.col("cluster").alias("cell")
    )
    cent_pos = clustering.centroid_df(qv, cents).select(
        F.col("cluster").alias("cell"), F.posexplode("cv").alias("p0", "cval")
    ).select("cell", (F.col("p0") + 1).alias("p"), "cval")
    el = qv.select("vec_id", F.posexplode("qv").alias("p0", "val")).select(
        "vec_id", (F.col("p0") + 1).alias("p"), "val"
    )
    sub = F.floor((F.col("p") - 1) / 8).cast("long").alias("subspace")
    rx = (
        el.join(home, "vec_id")
        .join(F.broadcast(cent_pos), ["cell", "p"])
        .select("vec_id", "p", sub, (F.col("val") - F.col("cval")).alias("rval"))
        .localCheckpoint()
    )
    centpq = rx.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("code"), "subspace", "p", F.col("rval").alias("cval")
    )
    sq = F.sum((F.col("rval") - F.col("cval")) * (F.col("rval") - F.col("cval")))
    w_code = Window.partitionBy("vec_id", "subspace").orderBy("d", "code")
    codes = (
        rx.join(F.broadcast(centpq), ["subspace", "p"])
        .groupBy("vec_id", "subspace", "code")
        .agg(sq.alias("d"))
        .withColumn("rn", F.row_number().over(w_code))
        .where(F.col("rn") == 1)
        .select(F.col("vec_id").alias("xid"), "subspace", "code")
    )
    rq = (
        probe.withColumnRenamed("vec_id", "qid")
        .join(el.withColumnRenamed("vec_id", "qid"), "qid")
        .join(F.broadcast(cent_pos), ["cell", "p"])
        .select("qid", "cell", "p", sub, (F.col("val") - F.col("cval")).alias("rval"))
    )
    lut = (
        rq.join(F.broadcast(centpq), ["subspace", "p"])
        .groupBy("qid", "cell", "subspace", "code")
        .agg(sq.alias("d"))
    )
    cand = probe.alias("p").join(
        home.alias("h"),
        (F.col("p.cell") == F.col("h.cell")) & (F.col("p.vec_id") != F.col("h.vec_id")),
    ).select(
        F.col("p.vec_id").alias("qid"), F.col("h.vec_id").alias("xid"), F.col("p.cell").alias("cell")
    )
    adc = (
        cand.join(codes.hint("merge"), "xid")
        .join(F.broadcast(lut), ["qid", "cell", "subspace", "code"])
        .groupBy("qid", "xid")
        .agg(F.sum("d").alias("adist"))
    )
    w_top = Window.partitionBy("qid").orderBy("adist", "xid")
    return (
        adc.withColumn("rn", F.row_number().over(w_top).cast("long"))
        .where(F.col("rn") <= 5)
        .select("qid", "xid", F.col("adist").cast("long").alias("adist"), "rn")
    )


@register(
    "q_scan_merge_schema",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT) AS with_price,
       CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 = 1) AS BIGINT) AS with_status,
       CAST(SUM(CASE WHEN o_orderkey % 2 = 0
                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_price
FROM orders
""",
)
def q_scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet batches written with
    DIFFERENT column sets (an old writer without o_orderstatus, a new
    writer without o_totalprice) unified by ``mergeSchema`` — missing
    columns backfill as NULL, so counts-per-column reconstruct exactly
    which writer produced each row. The lakehouse reality check: a
    table's files rarely share one schema forever."""
    import tempfile

    out = tempfile.mkdtemp(prefix="octopufs_ms_")
    o = load(spark, sf_dir, "orders")
    o.where(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice").write.mode(
        "overwrite"
    ).parquet(f"{out}/batch=a")
    o.where(F.col("o_orderkey") % 2 == 1).select("o_orderkey", "o_orderstatus").write.mode(
        "overwrite"
    ).parquet(f"{out}/batch=b")
    merged = spark.read.option("mergeSchema", True).parquet(out)
    return merged.agg(
        F.count("*").alias("n_rows"),
        F.count("o_totalprice").alias("with_price"),
        F.count("o_orderstatus").alias("with_status"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
    )


@register(
    "q_ext_gdpr_erasure",
    oracle="""
SELECT 1 AS version,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) FILTER (WHERE user_id % 97 = 0) AS BIGINT) AS erased_user_rows
FROM events
UNION ALL
SELECT 2,
       CAST(COUNT(*) FILTER (WHERE user_id % 97 <> 0) AS BIGINT),
       CAST(COUNT(DISTINCT user_id) FILTER (WHERE user_id % 97 <> 0) AS BIGINT),
       0
FROM events
""",
)
def q_ext_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten as an atomic table operation: a manifest
    table holds the event log at v1; a MERGE with a deletes-only
    changeset (every user_id % 97 == 0 — the erasure request batch)
    publishes v2 in one commit. The output aggregates BOTH snapshots
    and counts surviving rows for the erased users — v2 must show zero
    while v1 (the pre-erasure snapshot, retained until vacuum) still
    holds them, proving the deletion is complete AND atomic rather
    than an in-place scrub."""
    import tempfile

    from octopufs_spark.manifest import ManifestTable
    from octopufs_spark.merge import merge_upsert_manifest

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    root = tempfile.mkdtemp(prefix="octopufs_gdpr_")
    table = ManifestTable(root)
    ev.write.mode("overwrite").parquet(f"{root}/base")
    table.commit_overwrite("base", operation="seed")
    erase_keys = ev.where(F.col("user_id") % 97 == 0).select("event_id").distinct()
    empty_source = spark.createDataFrame([], ev.schema)
    merge_upsert_manifest(spark, table, empty_source, keys=["event_id"], deletes=erase_keys)

    def snap(version: int) -> DataFrame:
        return table.read(spark, version=version).agg(
            F.lit(version).cast("int").alias("version"),
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.when(F.col("user_id") % 97 == 0, 1)).alias("erased_user_rows"),
        ).select("version", "n_events", "n_users", "erased_user_rows")

    return snap(1).unionByName(snap(2))


@register(
    "q_ext_delete_vectors_pos",
    oracle="""
SELECT TRUE AS no_rewrite,
       CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 <> 7) AS BIGINT) AS n_rows_v2,
       CAST((SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders
             WHERE o_orderkey % 10 <> 7) AS DOUBLE) AS total_v2,
       CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 7) AS BIGINT) AS n_reinserted
""",
)
def q_ext_delete_vectors_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITION-granular deletion vectors (the Delta DV bitmap model,
    vs q_ext_delete_vectors' Iceberg-style equality deletes): decile-7
    orders are MOR-deleted by recording (file, row position) pairs
    from the parquet scan's ``_metadata`` virtual columns — data file
    set byte-identical across versions (``no_rewrite``), matching rows
    invisible at v2. The model's distinguishing property is then
    value-verified: RE-APPENDING the deleted rows makes them visible
    again (``n_reinserted``), because positional vectors are scoped to
    exactly the files scanned at delete time — an equality vector
    would shadow the re-insert until compaction. At 100 TB: the delete
    commits KBs, the read-side cost is one broadcast anti-join on
    virtual columns, and no key columns are required at all."""
    import tempfile

    from octopufs_spark.manifest import ManifestTable, write_and_commit
    from octopufs_spark.merge import delete_where_mor_positional

    o = load(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="octopufs_dvp_")
    table = ManifestTable(root)
    write_and_commit(o, table)
    delete_where_mor_positional(spark, table, "o_orderkey % 10 = 7")
    no_rewrite = sorted(table.read_manifest(1).files) == sorted(
        table.read_manifest(2).files
    )
    v2 = table.read(spark, version=2).agg(
        F.count("*").alias("n2"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("t2"),
    )
    write_and_commit(o.where(F.col("o_orderkey") % 10 == 7), table, mode="append")
    v3_reinserted = table.read(spark).where(F.col("o_orderkey") % 10 == 7).agg(
        F.count("*").alias("nr")
    )
    return v2.crossJoin(v3_reinserted).select(
        F.lit(no_rewrite).alias("no_rewrite"),
        F.col("n2").cast("long").alias("n_rows_v2"),
        F.col("t2").alias("total_v2"),
        F.col("nr").cast("long").alias("n_reinserted"),
    )
