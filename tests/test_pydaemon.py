"""The library's PySpark daemon (octopufs_spark.pydaemon): an import-cache
reset does not re-read unchanged zips, workers really run it, and a
driver that reaches the library only through ``sys.path`` still runs
Python tasks, with a caller's worker PYTHONPATH kept after the
library root."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import textwrap
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


DRIVER = textwrap.dedent(
    """
    import os, sys
    sys.path.insert(0, {repo!r})
    from octopufs_spark.fs import distributed
    from octopufs_spark.fs.model import Paths
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
        pairs.append(Paths(os.path.abspath(os.path.join("src", name)),
                           os.path.abspath(os.path.join("dst", name))))
    results = distributed.copy_files(spark, pairs)
    assert all(r.success for r in results) and len(results) == 2, results
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
