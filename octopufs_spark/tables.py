"""Loaders for the driver-generated parquet fixtures (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file (or directory) per table under
``{sf_dir}/{name}.parquet``.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# the session confs that change what Spark infers from a parquet footer
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)
# fixture path -> (key, schema Spark inferred under that key)
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """What an inferred schema of ``path`` depends on: the
    ``(st_ino, st_size, st_mtime_ns)`` of the file, or of each data file
    of a directory, and the session's inference confs. None when
    ``path`` is not a local path."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if stat.S_ISDIR(st.st_mode):
        stats = []
        for dirpath, dirs, names in os.walk(path):
            dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
            for n in sorted(names):
                if not n.startswith(("_", ".")):
                    stats.append(os.stat(os.path.join(dirpath, n)))
    else:
        stats = [st]
    files = tuple((s.st_ino, s.st_size, s.st_mtime_ns) for s in stats)
    return files, tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The fixture ``name`` under ``sf_dir``. Spark infers its schema
    once, from a footer (one Spark job); the schema is cached per path
    and later loads pass it to the reader, so they launch no job while
    the fixture's files and the session's inference confs are
    unchanged. A changed file or conf infers again and replaces the
    entry."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # Deterministic semantics under ANY caller's session (the
    # correctness driver builds its own): timestamps must render as the
    # parquet wall-clock values (what DuckDB sees), so pin UTC.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark rejects
        # unless nanosAsLong is set. Sessions built by get_spark have it;
        # set it here too.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    key = _schema_key(spark, path)
    cached = _SCHEMAS.get(path)
    if key is not None and cached is not None and cached[0] == key:
        df = spark.read.schema(cached[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMAS[path] = (key, df.schema)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # events.ts is parquet TIMESTAMP(NANOS): read as long nanos
        # (spark.sql.legacy.parquet.nanosAsLong) and truncated to µs —
        # the same floor DuckDB applies casting TIMESTAMP_NS → TIMESTAMP.
        import pyspark.sql.functions as F

        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz"))
    return df
