"""Shared fixtures: one session-scoped SparkSession + seeded tree builder.

The reference builds random folder trees in its tests with unseeded
Random (reference: src/test/scala/TestUtils.scala:88-113, a flake
source) — here the RNG is always seeded.
"""

from __future__ import annotations

import random
import uuid
from pathlib import Path

import pytest

from octopufs_spark.fs import distributed, local
from octopufs_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("octopufs_tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def jobs_of(spark, fn):
    """``fn()`` and the ids of the Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "counted")
    try:
        out = fn()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.fixture()
def driver_pools(monkeypatch) -> list[int]:
    """The size of each thread pool ``fs.local._run_threaded`` starts
    during the test — the driver pools of copies, compaction and the
    metadata ops — in start order; a batch on the calling thread starts
    none."""
    sizes: list[int] = []
    real = local.ThreadPoolExecutor

    def recording(max_workers=None, **kw):
        sizes.append(max_workers)
        return real(max_workers=max_workers, **kw)

    monkeypatch.setattr(local, "ThreadPoolExecutor", recording)
    return sizes


BATCH_PATHS = ("driver", "spark")


def _send_batches(monkeypatch, path: str) -> None:
    """Sends every batch of ``fs.distributed.map_partitions`` — copies
    and compaction's rewrites — down ``path``: ``driver`` keeps the size
    limit (test batches are far below it), ``spark`` sets it to 0 so
    that every batch runs a Spark job."""
    if path == "spark":
        monkeypatch.setattr(distributed, "DRIVER_COPY_BYTES", 0)


@pytest.fixture(params=BATCH_PATHS)
def batch_path(request, monkeypatch):
    """Runs a test once on each path of ``fs.distributed.map_partitions``
    (see ``_send_batches``); the test's id names the path."""
    _send_batches(monkeypatch, request.param)
    return request.param


@pytest.fixture()
def each_batch_path(monkeypatch):
    """``batch_path`` as a loop inside one test: ``for path in
    each_batch_path():`` runs the body on the driver path, then again
    on the Spark path. The test keeps one id, so each run must build
    its own inputs (under ``tmp_path / path``)."""

    def paths():
        for path in BATCH_PATHS:
            with monkeypatch.context() as m:
                _send_batches(m, path)
                yield path

    return paths


def failing_copy_jobs(spark, pairs, match: str) -> list[int]:
    """The ids of the Spark jobs a ``copy_files(spark, pairs)`` that
    must raise ``match`` launched."""

    def run():
        with pytest.raises(RuntimeError, match=match):
            distributed.copy_files(spark, pairs)

    return jobs_of(spark, run)[1]


@pytest.fixture()
def seeded_rng():
    return random.Random(42)


def build_random_tree(
    root: Path, rng: random.Random, depth: int = 3, children: tuple[int, int] = (2, 3)
) -> list[Path]:
    """Random folder tree with one .txt file per folder
    (reference-shaped: src/test/scala/TestUtils.scala:88-113)."""
    files: list[Path] = []

    def rec(folder: Path, level: int) -> None:
        folder.mkdir(parents=True, exist_ok=True)
        f = folder / f"{folder.name or 'root'}.txt"
        f.write_bytes(rng.randbytes(rng.randint(10, 200)))
        files.append(f)
        if level < depth:
            for i in range(rng.randint(*children)):
                rec(folder / f"d{level}_{i}", level + 1)

    rec(root, 0)
    return files
