"""The library's PySpark daemon (octopufs_spark.pydaemon): an import-cache
reset does not re-read unchanged zips, the daemon freezes its heap
before it forks workers while a task's garbage is still collected,
workers really run it, and a driver that reaches the library only
through ``sys.path`` still runs Python tasks, with a caller's worker
PYTHONPATH kept after the library root."""

from __future__ import annotations

import gc
import importlib.util
import os
import runpy
import subprocess
import sys
import textwrap
import warnings
import zipfile
import zipimport

import pytest

from octopufs_spark import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

before_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the import-cache reset is lazy upstream"
)


def _write_zip(path, source: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("m.py", source)


def _load_m(importer: zipimport.zipimporter):
    spec = importer.find_spec("m")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@before_313
def test_invalidate_rereads_only_a_changed_zip(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pydaemon._invalidate_caches)
    importer = zipimport.zipimporter(str(archive))
    importer.invalidate_caches()  # first reset of a fresh importer: reads, stamps
    assert _load_m(importer).VALUE == 1

    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or real_read(a))
    importer.invalidate_caches()
    assert reads == []

    _write_zip(archive, "VALUE = 'changed, and longer'\n")
    importer.invalidate_caches()
    assert reads == [str(archive)]
    assert _load_m(importer).VALUE == "changed, and longer"


@before_313
def test_worker_runs_library_daemon(spark):
    # defined here so cloudpickle ships it by value to the workers
    def reads_on_reset(_):
        import importlib
        import zipimport

        reads = [0]
        real_read = zipimport._read_directory

        def counting(archive):
            reads[0] += 1
            return real_read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real_read
        yield reads[0]

    assert spark.sparkContext.parallelize(range(2), 2).mapPartitions(reads_on_reset).collect() == [0, 0]


def test_daemon_freezes_its_heap_before_serving(monkeypatch):
    from pyspark import daemon

    counts = []
    monkeypatch.setattr(daemon, "manager", lambda: counts.append(gc.get_freeze_count()))
    # before 3.13 the block patches zipimporter class-wide: undo it after
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    try:
        with warnings.catch_warnings():
            # this module already imported pydaemon; running it again is fine
            warnings.simplefilter("ignore", RuntimeWarning)
            runpy.run_module("octopufs_spark.pydaemon", run_name="__main__")
    finally:
        gc.unfreeze()
    assert len(counts) == 1 and counts[0] > 0


def test_workers_start_with_a_frozen_heap(spark):
    def freeze_count(_):
        import gc

        yield gc.get_freeze_count()

    counts = spark.sparkContext.parallelize(range(4), 4).mapPartitions(freeze_count).collect()
    assert len(counts) == 4 and all(c > 0 for c in counts), counts


def test_cycle_a_task_leaves_is_freed_between_tasks(spark):
    """The freeze covers only the daemon's heap: a reference cycle one
    task leaves behind in a reused worker is collected before the
    worker's next task."""

    def leave_cycle(_):
        import os
        import sys
        import weakref

        class Node:
            pass

        node = Node()
        node.me = node
        sys._octopufs_cycle_ref = weakref.ref(node)
        yield os.getpid()

    def cycle_freed(_):
        import os
        import sys

        ref = sys.__dict__.pop("_octopufs_cycle_ref", None)
        yield os.getpid(), None if ref is None else ref() is None

    sc = spark.sparkContext
    recorded = set(sc.parallelize(range(4), 4).mapPartitions(leave_cycle).collect())
    for _ in range(20):  # until a later task lands on a recording worker
        out = sc.parallelize(range(4), 4).mapPartitions(cycle_freed).collect()
        seen = [(pid, freed) for pid, freed in out if freed is not None]
        if seen:
            break
    assert seen and {pid for pid, _ in seen} <= recorded, (seen, recorded)
    assert all(freed for _, freed in seen), seen


DRIVER = textwrap.dedent(
    """
    import os, sys
    sys.path.insert(0, {repo!r})
    from octopufs_spark.fs import distributed
    from octopufs_spark.session import get_spark

    extra = {{"spark.executorEnv.PYTHONPATH": "/caller/path"}}
    spark = get_spark("pydaemon_path", master="local[2]", extra_conf=extra)
    worker_path = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
    assert worker_path == os.pathsep.join([{repo!r}, "/caller/path"]), worker_path
    assert spark.sparkContext.parallelize(range(4), 2).map(lambda x: x * x).sum() == 14
    os.makedirs("src")
    pairs = []
    for name in ("a.bin", "b.bin"):
        with open(os.path.join("src", name), "wb") as f:
            f.write(name.encode() * 100)
        pairs.append((os.path.abspath(os.path.join("src", name)),
                      os.path.abspath(os.path.join("dst", name))))
    # the copy body in Python tasks: the workers import the library
    copy = distributed._copy_partition
    results = spark.sparkContext.parallelize(pairs, 2).mapPartitions(copy).collect()
    assert sorted(results) == [(src, True) for src, _ in pairs], results
    for name in ("a.bin", "b.bin"):
        with open(os.path.join("dst", name), "rb") as f:
            assert f.read() == name.encode() * 100
    spark.stop()
    print("OK")
    """
)


def test_driver_on_sys_path_only_runs_python_tasks(tmp_path):
    script = tmp_path / "driver.py"
    script.write_text(DRIVER.format(repo=REPO))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "OK", proc.stdout[-2000:]
