"""Streaming-shaped queries, batch-checkable on events (SURVEY.md §2C).

Tumbling / sliding windows and keyed dedup expressed over the batch
events table; the tumbling and dedup transformations also run under
Structured Streaming in octopufs_spark/streaming.py (with watermarks),
where the DuckDB
oracle can't reach — batch twins here give the correctness signal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from octopufs_spark.queries.common import DEC
from octopufs_spark.registry import register
from octopufs_spark.tables import load


@register(
    "q_stream_tumbling",
    oracle="""
SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window count+sum per event_type."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "sum_value")
    )


@register(
    "q_stream_sliding",
    oracle="""
WITH b AS (
  SELECT time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) AS bucket, event_type, value
  FROM events
), w AS (
  SELECT bucket AS window_start, event_type, value FROM b
  UNION ALL
  SELECT bucket - INTERVAL 30 MINUTE, event_type, value FROM b
)
SELECT window_start, event_type,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM w GROUP BY 1, 2
""",
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 30 minutes (each event in 2 windows)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "sum_value")
    )


@register(
    "q_stream_dedup",
    oracle="""
SELECT event_id, ts, user_id, event_type, value FROM (
  SELECT event_id, ts, user_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts, user_id) AS rn
  FROM events
) WHERE rn = 1
""",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup: keep the earliest event per event_id.

    Batch twin of streaming dropDuplicates-with-watermark; expressed as
    row_number=1 so keep-which-row is deterministic.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_id").orderBy("ts", "user_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


@register(
    "q_stream_session",
    oracle="""
WITH gaps AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_ms(CAST(ts AS TIMESTAMP))
                   - LAG(epoch_ms(CAST(ts AS TIMESTAMP))) OVER w >= 1800000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM gaps
)
SELECT MIN(CAST(ts AS TIMESTAMP)) AS session_start,
       MAX(CAST(ts AS TIMESTAMP)) + INTERVAL 30 MINUTE AS session_end,
       user_id,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM sess GROUP BY user_id, session_no
""",
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user — batch session_window.

    ``F.session_window`` assignment IS deterministic: a session is the
    gap-merge closure (new session exactly when the gap to the previous
    event is >= the 30-min gap, since window ends are exclusive), and
    its end is last_event + gap. The oracle replays that definition as
    lag-gap + running-sum sessionization — upgraded from rows-only in
    round 3. Value sums go through DECIMAL(18,2) so per-session sums
    are order-independent in both engines.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "cnt",
            "sum_value",
        )
    )


@register(
    "q_stream_rollup_multires",
    oracle="""
SELECT resolution, bucket, event_type, cnt, sum_value FROM (
  SELECT 'minute' AS resolution, date_trunc('minute', CAST(ts AS TIMESTAMP)) AS bucket,
         event_type, COUNT(*) AS cnt,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
  FROM events GROUP BY 2, 3
  UNION ALL
  SELECT 'hour', date_trunc('hour', CAST(ts AS TIMESTAMP)), event_type, COUNT(*),
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
  FROM events GROUP BY 2, 3
  UNION ALL
  SELECT 'day', date_trunc('day', CAST(ts AS TIMESTAMP)), event_type, COUNT(*),
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
  FROM events GROUP BY 2, 3
)
""",
)
def q_stream_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: minute buckets
    aggregated ONCE from raw data, then hour and day resolutions rolled
    up FROM the minute aggregate (not re-scanned) — the continuous-
    aggregate pattern. At 100 TB the raw table is read once; each
    coarser resolution reduces ~60x fewer rows. Decimal-exact sums make
    the reduction order-independent, so the rollup-of-rollup matches
    the oracle's direct per-resolution aggregation bit-for-bit.
    """
    e = load(spark, sf_dir, "events")
    minute = (
        e.groupBy(
            F.date_trunc("minute", F.col("ts").cast("timestamp")).alias("bucket"),
            "event_type",
        )
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast(DEC)).alias("_dsum"),
        )
    )
    hour = (
        minute.groupBy(
            F.date_trunc("hour", "bucket").alias("bucket"), "event_type"
        )
        .agg(F.sum("cnt").alias("cnt"), F.sum("_dsum").alias("_dsum"))
    )
    day = (
        hour.groupBy(F.date_trunc("day", "bucket").alias("bucket"), "event_type")
        .agg(F.sum("cnt").alias("cnt"), F.sum("_dsum").alias("_dsum"))
    )

    def fin(df: DataFrame, res: str) -> DataFrame:
        return df.select(
            F.lit(res).alias("resolution"),
            "bucket",
            "event_type",
            "cnt",
            F.col("_dsum").cast("double").alias("sum_value"),
        )

    return fin(minute, "minute").unionByName(fin(hour, "hour")).unionByName(fin(day, "day"))


@register(
    "q_stream_sessionize_exact",
    oracle="""
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_ms(CAST(ts AS TIMESTAMP))
                   - LAG(epoch_ms(CAST(ts AS TIMESTAMP))) OVER w > 1800000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, event_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM gaps
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end
FROM sess GROUP BY user_id, session_no
""",
)
def q_stream_sessionize_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic gap-based sessionization (30-min idle closes a
    session): lag-gap flag + running sum = session number — the classic
    two-window formulation, fully oracle-checkable unlike engine
    session_window assignment. One shuffle on user_id; both windows
    share the same partitioning so the second sort is free."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    gap_flag = F.when(ms - F.lag(ms).over(w) > 30 * 60 * 1000, 1).otherwise(0)
    sess = e.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(gap_flag).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("session_no"),
    )
    return sess.groupBy("user_id", F.col("session_no").cast("long").alias("session_no")).agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "q_stream_lateness",
    oracle="""
WITH arr AS (
  SELECT user_id, ts, event_id,
         MAX(CAST(ts AS TIMESTAMP)) OVER (
           PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS high_water
  FROM events
)
SELECT user_id,
       CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP) < high_water - INTERVAL 1 HOUR
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(FLOOR(MAX(epoch_ms(high_water) - epoch_ms(CAST(ts AS TIMESTAMP))) / 1000.0)
            AS BIGINT) AS max_lateness_s,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM arr GROUP BY user_id
""",
)
def q_stream_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data audit — the question every watermark choice needs
    answered first: per user, how many events arrive (event_id =
    arrival order) more than 1 hour behind that user's event-time
    high-water mark, and how far behind at worst. A running-max window
    per user (one shuffle) + one aggregate; the 1-hour threshold
    mirrors the streaming module's default watermark, so n_late is
    exactly what ``withWatermark('ts','1 hour')`` would drop."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    arr = e.select(
        "user_id",
        "ts",
        F.max(F.col("ts").cast("timestamp")).over(w).alias("high_water"),
    )
    lateness_ms = F.unix_millis("high_water") - F.unix_millis(
        F.col("ts").cast("timestamp")
    )
    return arr.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("ts").cast("timestamp")
                < F.col("high_water") - F.expr("interval 1 hour"),
                1,
            ).otherwise(0)
        ).alias("n_late"),
        F.floor(F.max(lateness_ms) / 1000).cast("long").alias("max_lateness_s"),
        F.count("*").alias("n_events"),
    )


@register(
    "q_stream_funnel",
    oracle="""
WITH stage_times AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS did_signup,
       CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup THEN 1 ELSE 0 END) AS BIGINT) AS signup_then_click,
       CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup AND t_purchase > t_click
                THEN 1 ELSE 0 END) AS BIGINT) AS full_funnel
FROM stage_times
""",
)
def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup → click → purchase): first
    occurrence per stage per user via conditional MIN, then ordering
    predicates — one shuffle, no self-joins."""
    e = load(spark, sf_dir, "events")

    def first_ts(etype: str):
        return F.min(F.when(F.col("event_type") == etype, F.col("ts")))

    stages = e.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    return stages.agg(
        F.count("*").alias("n_users"),
        F.sum(F.when(F.col("t_signup").isNotNull(), 1).otherwise(0)).alias("did_signup"),
        F.sum(
            F.when(F.col("t_signup").isNotNull() & (F.col("t_click") > F.col("t_signup")), 1).otherwise(0)
        ).alias("signup_then_click"),
        F.sum(
            F.when(
                F.col("t_signup").isNotNull()
                & (F.col("t_click") > F.col("t_signup"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            ).otherwise(0)
        ).alias("full_funnel"),
    )
