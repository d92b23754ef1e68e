"""SparkSession builder with scale-oriented defaults.

The reference configures Spark per-test with dynamic partition
overwrite (reference: src/test/scala/TestUtils.scala:64). We fold that
plus AQE and Arrow into one place so every entry point (tests, bench,
driver contract) runs the same engine configuration.

Defaults are chosen for the local[32] test harness but deliberately
scale-safe: AQE handles skew/coalescing at any cluster size, dynamic
partition overwrite is how partition exchange is expressed relationally,
and Arrow keeps the Pandas-UDF path vectorized.

Python workers run the library's daemon, ``octopufs_spark.pydaemon``.
The stock PySpark daemon's workers re-read ``pyspark.zip``'s directory
on every task when the import cache is reset: a trivial Python task
cost 0.25 CPU-s on a 4-CPU x86 VM (CPython 3.11), 0.025 CPU-s with the
library daemon, which re-reads a zip only when it changed. CPython 3.13
made the reset lazy upstream; there the daemon leaves it alone. On
every version the daemon freezes its heap before it forks, so the full
collection a reused worker runs after each task skips what it
inherited: a trivial 4-task job went from 120–130 ms of worker CPU to
10 ms on the same VM. Because the workers start from a library module,
``get_spark`` puts the library's root first on the workers' PYTHONPATH.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones, switch to broadcast joins when runtime stats allow.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Partition exchange = INSERT OVERWRITE ... PARTITION (dynamic), the
    # relational analog of the reference's copyOverwritePartitions
    # (reference: src/test/scala/TestUtils.scala:64-65).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Arrow-vectorized Pandas UDF / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: keep permissive casts aligned with DuckDB oracle behavior
    # for the correctness harness.
    "spark.sql.ansi.enabled": "false",
    # Session-local timezone pinned to UTC so timestamp semantics match
    # the DuckDB oracle regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # Parquet TIMESTAMP(NANOS) (events.ts) is read as long nanos and
    # converted to timestamp in tables.load — Spark has no ns type.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # ContextCleaner reclaims localCheckpoint/persist blocks only after
    # a JVM GC flushes their weak refs; the 30 min default lets a
    # long-lived session invoking checkpoint-materializing operators
    # (MinHash/LSH featurization, ADC code tables) accumulate dead
    # blocks until storage pressure — the r10 sf10 probe measured
    # repeat invocations 2x slower than first runs, and a 24-query
    # sweep OOMing the heap, purely from orphaned checkpoint blocks.
    "spark.cleaner.periodicGC.interval": "2min",
    # Let Python Data Source readers implementing pushFilters receive
    # catalyst predicates (synthgen narrows its generated id range).
    "spark.sql.python.filterPushdown.enabled": "true",
    # Python workers fork from the library's daemon, which skips
    # re-reading unchanged zips on every task's import-cache reset and
    # freezes its heap before forking (see pydaemon). It must be the
    # daemon module: pyspark.daemon ignores worker modules outside
    # ``pyspark``.
    "spark.python.daemon.module": "octopufs_spark.pydaemon",
    # A fixed young generation (a third of the heap) for the driver JVM.
    # G1 otherwise resizes eden from its pause-time predictions, so how
    # much of the heap a run touches — and the driver's resident set —
    # follows the host's timing noise: the perfbench promotion cycle
    # (1g heap, 4-CPU x86 VM) touched 550-810 MiB of heap run to run,
    # 543-550 MiB with this. It is the ``default`` options key, so a
    # caller's spark.driver.extraJavaOptions adds to it, never drops it.
    "spark.driver.defaultJavaOptions": "-XX:NewRatio=2",
}

# The directory holding the ``octopufs_spark`` package. Workers need it
# on their path to start the daemon above, also when the driver reached
# the library only through ``sys.path``.
_LIBRARY_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "octopufs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback
    ``local[*]``). ``shuffle_partitions`` defaults to 32, whatever the
    master's parallelism: AQE coalesces small shuffles from there, as
    it would on a real cluster. The library root goes first on the Python
    workers' path (``spark.executorEnv.PYTHONPATH``); an ``extra_conf``
    value for that key is kept after it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in DEFAULT_CONF.items():
        builder = builder.config(k, v)
    if shuffle_partitions is None:
        shuffle_partitions = 32
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_LIBRARY_ROOT, conf.get("spark.executorEnv.PYTHONPATH")) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
