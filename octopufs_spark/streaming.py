"""Structured Streaming surface: windows, watermarks, dedup, sessions.

The batch twins of these transformations live in
queries/streaming_batch.py (oracle-checked); this module provides the
actual streaming builders — readStream → transform → writeStream —
exercised by the pytest streaming suite with file sources feeding
micro-batches. At scale the same plans run against Kafka/file streams;
watermarks bound state so late data is handled without unbounded
memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(spark, source_dir: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-based event stream: each parquet file becomes a micro-batch."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """1-hour tumbling window count+sum per event_type with watermark.

    Watermark bounds the state store: windows older than max(event
    time) - watermark are finalized and evicted.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "sum_value")
    )


def deduped_events(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Keyed dedup within the watermark horizon: duplicate event_ids
    arriving inside the state window are dropped."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def session_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Session windows per user: a session closes after `gap` idle."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "cnt",
        )
    )


def stateful_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running (count, sum, max_ts)
    maintained across micro-batches with applyInPandasWithState.

    This is the escape hatch for stateful semantics Spark's built-in
    windows can't express; state lives in the state store (RocksDB/HDFS
    backed on a cluster), partitioned by the grouping key, so it scales
    with executors, not driver memory. Emits the updated totals for
    every user seen in the current batch (Update mode).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("total", DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def clicks_purchases_join(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: purchases within ``horizon`` after a
    click by the same user (batch twin: queries/tsq.py::q_stream_join).

    Both sides are watermarked and the join condition bounds purchase
    time to [click ts, click ts + horizon], which is what lets Spark
    expire buffered join state: a click older than watermark+horizon
    can never match a future purchase and is evicted. Without the time
    bound the state store grows forever — the interval is load-bearing,
    not cosmetic.
    """
    c = clicks.withWatermark("ts", watermark).select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("c_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"interval {horizon}")),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).alias("lag_seconds"),
    )


def read_kafka_events(
    spark,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka event stream: JSON-encoded events on ``topic`` decoded
    into the same schema as the file source, so every transformation
    in this module composes with either source unchanged.

    The production entry point (a file stream is the test harness's
    stand-in); requires the spark-sql-kafka connector on the JVM
    classpath (``spark.jars.packages=org.apache.spark:
    spark-sql-kafka-0-10_2.13:<spark version>``), which this sandbox
    doesn't ship — the env-gated integration test skips cleanly
    without it. Offsets/partitions map 1:1 onto Spark tasks, so
    parallelism follows the topic's partition count.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    raw = reader.load()
    return raw.select(
        F.from_json(F.col("value").cast("string"), EVENTS_STREAM_SCHEMA).alias("e")
    ).select("e.*")


def write_kafka(
    stream_df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    key_col: str | None = None,
):
    """Kafka sink: rows serialized to JSON values (optionally keyed by
    ``key_col`` for log-compaction / partition affinity). Returns the
    DataStreamWriter; caller ``.start()``s it."""
    cols = [F.to_json(F.struct("*")).alias("value")]
    if key_col:
        cols.insert(0, F.col(key_col).cast("string").alias("key"))
    return (
        stream_df.select(*cols)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
    )


def run_to_memory_sink(stream_df: DataFrame, query_name: str, mode: str = "append"):
    """Start the stream into an in-memory table and return the query
    handle; callers awaitTermination/processAllAvailable then read
    ``spark.table(query_name)``."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(mode)
        .start()
    )


def has_transform_with_state_deps() -> bool:
    """transformWithState needs protobuf Python-side (absent in some
    sandboxes) plus the RocksDB state store provider."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def tws_running_counts(events: DataFrame) -> DataFrame:
    """Per-user running event counts via ``transformWithStateInPandas``
    (Spark 4's successor to applyInPandasWithState): typed state
    variables (`getValueState`) on a RocksDB-backed store, per-key
    timers, and schema'd state evolution. Env-gated: requires the
    ``protobuf`` package (state protocol is proto-encoded between the
    JVM and the Python worker); callers should check
    ``has_transform_with_state_deps()`` first. Caller must set
    spark.sql.streaming.stateStore.providerClass to the RocksDB
    provider before starting the query.
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.count = handle.getValueState("count", "cnt bigint")

        def handleInputRows(self, key, rows, timerValues):
            n = sum(len(pdf) for pdf in rows)
            prev = self.count.get()[0] if self.count.exists() else 0
            total = prev + n
            self.count.update((total,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningCount(),
        outputStructType="user_id bigint, n_events bigint",
        outputMode="Update",
        timeMode="None",
    )
