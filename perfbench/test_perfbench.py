"""Self-test: a shortened run of every declared workload, untraced and
traced, must emit every declared metric and pass its checks.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from perfbench.trace import Tracer, tree_cpu_s  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace)],  # fmt: skip
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_short_run_emits_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_scratch"))


def test_bare_directory_fails_without_result(tmp_path):
    """Without the library next to it the benchmark exits non-zero and
    prints no result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p)
    proc = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_self_time_counts_concurrent_children_once():
    tr = Tracer(enabled=True)
    tr.spans = [
        (1, 0, "compact.do_it_all", 0.0, 10.0),
        (2, 1, "compact.do_auto_coalesce", 1.0, 5.0),
        (3, 1, "compact.do_auto_coalesce", 2.0, 6.0),
        (4, 2, "fs.core.list_tree", 1.0, 2.0),
    ]
    summ = tr.summary()
    assert summ["compact.do_auto_coalesce"]["calls"] == 2
    assert summ["layer:compact"]["self_s"] == pytest.approx(9.0)
    assert summ["layer:fs.core"]["self_s"] == pytest.approx(1.0)


def test_tree_cpu_counts_reaped_children():
    """A child's CPU still counts after the child has exited."""
    before = tree_cpu_s()
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3:\n    pass\n"
    subprocess.run([sys.executable, "-c", burn], check=True, timeout=60)
    assert tree_cpu_s() - before >= 0.25


def test_install_wraps_by_name_import_sites():
    """``promotor`` binds ``copy_files`` by name: its binding is traced."""
    script = (
        "import octopufs_spark.fs.distributed as d, octopufs_spark.promotor as p\n"
        "from perfbench.trace import Tracer\n"
        "orig = d.copy_files\n"
        "Tracer(enabled=True).install()\n"
        "assert p.copy_files is d.copy_files and d.copy_files.__wrapped__ is orig\n"
    )
    proc = subprocess.run([sys.executable, "-c", script], cwd=ROOT, capture_output=True, text=True)
    assert proc.returncode == 0, proc.stderr
