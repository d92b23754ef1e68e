"""Compaction tests (reference: Coalesce.scala behavior)."""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor, wait
from pathlib import Path

from octopufs_spark import compact
from tests.conftest import SF_DIR


def _write_fragmented(spark, path: str, n_files: int = 20):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return df.count()


def test_median_heuristic_skips_large_files(spark, tmp_path):
    path = str(tmp_path / "big")
    _write_fragmented(spark, path, n_files=2)
    # files ~tens of KB; 0MB-target → already "large enough" relative to 0
    assert compact.figure_out_number_of_partitions(path, requested_mb=0) == -1


def test_auto_coalesce_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "frag")
    n = _write_fragmented(spark, path, n_files=20)
    files_before = len(list(Path(path).glob("*.parquet")))
    assert files_before >= 20
    rewritten = compact.do_auto_coalesce(spark, path, requested_size_mb=100)
    assert rewritten
    files_after = len(list(Path(path).glob("*.parquet")))
    assert files_after < files_before
    assert spark.read.parquet(path).count() == n
    assert not Path(path + "_temp").exists()


def test_get_lowest_folders(tmp_path):
    (tmp_path / "t" / "a" / "x").mkdir(parents=True)
    (tmp_path / "t" / "a" / "y").mkdir(parents=True)
    (tmp_path / "t" / "b").mkdir(parents=True)
    leaves = {Path(p).name for p in compact.get_lowest_folders(str(tmp_path / "t"))}
    assert leaves == {"x", "y", "b"}


def test_do_it_all_partitioned(spark, tmp_path):
    root = str(tmp_path / "part")
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    from pyspark.sql import functions as F

    (
        df.withColumn("o_year", F.year("o_orderdate"))
        .repartition(10)
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(root)
    )
    n = spark.read.parquet(root).count()
    rewritten = compact.do_it_all(spark, [root], requested_file_size_mb=100)
    assert rewritten > 0
    assert spark.read.parquet(root).count() == n
    # a compacted leaf holds one data file beside _SUCCESS and .crc
    # files; only the data file counts, so a second run settles
    names = sorted(str(p.relative_to(root)) for p in Path(root).rglob("*"))
    assert any(name.endswith(".crc") for name in names)
    assert compact.do_it_all(spark, [root], requested_file_size_mb=100) == 0
    assert sorted(str(p.relative_to(root)) for p in Path(root).rglob("*")) == names


def test_own_pool_threads_exit(tmp_path, monkeypatch):
    """Without a caller's pool, do_partition_coalesce shuts its own pool
    down: its threads exit once the work is done, even while something
    still holds the pool."""
    for i in range(4):
        (tmp_path / "t" / f"p={i}").mkdir(parents=True)
    pools = []

    class Recorded(ThreadPoolExecutor):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            pools.append(self)

    monkeypatch.setattr(compact, "ThreadPoolExecutor", Recorded)
    baseline = threading.active_count()
    # empty leaves: nothing to compact, so no Spark session is needed
    futures = compact.do_partition_coalesce(None, str(tmp_path / "t"))
    done, _ = wait(futures, timeout=30)
    assert len(done) == 4 and [f.result() for f in futures] == [False] * 4
    assert len(pools) == 1
    deadline = time.monotonic() + 10
    while threading.active_count() > baseline and time.monotonic() < deadline:
        time.sleep(0.05)
    assert threading.active_count() == baseline
