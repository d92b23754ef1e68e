"""octopufs_spark — a PySpark-native analytics + storage-management engine.

A from-scratch rebuild of the capabilities of the reference toolkit
(procter-gamble-oss/octopufs, a Scala/Spark ADLS+Hive storage manager)
re-expressed Spark-first, plus the relational / streaming / LLM-data
pipeline operator surface declared in SURVEY.md §2C.

Layout:
  session.py     — SparkSession builder with scale-ready defaults
  registry.py    — query registry powering __spark_entry__.py
  tables.py      — parquet table loaders for the driver fixtures
  queries/       — declared query inventory (§2C), one module per family
  fs/            — filesystem toolkit (inventory, delta, copy, move, fuse)
  catalog.py     — metastore/table helpers (locations, partitions, refresh)
  promotor.py    — table/partition promotion built on fs + catalog
  compact.py     — small-file compaction (median-size heuristic)
  streaming.py   — Structured Streaming surface (windows, watermark,
                   dedup, applyInPandasWithState stateful ops)
  acl.py         — POSIX-ACL modify/clear/sync with parent inheritance
                   (sidecar store + real chmod backend)
  manifest_log.py — the manifest log without Spark (versions, refs, the
                   commit loop, data-skipping metadata, vacuum)
  manifest.py    — manifest-committed tables: the log plus Spark reads,
                   staged writes, compaction, promotion and stream sinks
  merge.py       — row-level MERGE: CDC upsert/delete + SCD Type 2
  scale.py       — skew salting + bucketed co-located joins
  timeseries.py  — as-of / interval joins, range bucketing
  llm/           — dedup / similarity / text-analysis / multimodal operators
"""

__version__ = "0.3.0"
