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
