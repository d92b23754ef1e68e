"""Tree diff + rsync-style synchronize.

Rebuild of the reference's Delta (reference: Delta.scala:40-50): list
both trees, strip prefixes, set-difference on (relative path, size) in
both directions. The listings come from ``list_tree`` and are already
on the driver, so the diff is a plain Python set difference — shipping
them to Spark to anti-join and collect back would add only cost.
"""

from __future__ import annotations

import logging

from pyspark.sql import SparkSession

from octopufs_spark.fs.core import get_filesystem, list_tree
from octopufs_spark.fs.distributed import copy_files
from octopufs_spark.fs.local import delete_paths
from octopufs_spark.fs.model import Paths

log = logging.getLogger(__name__)


def _rel_files(uri: str) -> set[tuple[str, int]]:
    """{(prefix-stripped relative path, byte size)} of the files under ``uri``."""
    _, root = get_filesystem(uri)
    return {(e.path[len(root) + 1 :], e.byte_size) for e in list_tree(uri) if not e.is_dir}


def get_delta(
    spark: SparkSession, src_uri: str, trg_uri: str
) -> tuple[list[str], list[str]]:
    """(missing_in_target, only_in_target) as sorted relative paths
    (reference: getDelta, Delta.scala:40-50). A file rewritten with a
    new size appears in both. Runs no Spark job; ``spark`` is unused and
    kept so existing callers keep working."""
    src = _rel_files(src_uri)
    trg = _rel_files(trg_uri)
    return sorted(rel for rel, _ in src - trg), sorted(rel for rel, _ in trg - src)


def synchronize(
    spark: SparkSession, src_uri: str, trg_uri: str, task_count: int = -1
) -> None:
    """Make target mirror source: delete extras, copy missing
    (reference: synchronize, Delta.scala:25-32)."""
    missing, extra = get_delta(spark, src_uri, trg_uri)
    src_prefix = src_uri.rstrip("/")
    trg_prefix = trg_uri.rstrip("/")
    if extra:
        delete_paths([f"{trg_prefix}/{rel}" for rel in extra])
    if missing:
        copy_files(
            spark,
            [Paths(f"{src_prefix}/{rel}", f"{trg_prefix}/{rel}") for rel in missing],
            task_count,
        )
    log.info("synchronize: copied %d, deleted %d", len(missing), len(extra))
