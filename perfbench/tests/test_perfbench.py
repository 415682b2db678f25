"""Self-test of the benchmark: every workload at a tiny size.

Run from the repository root with ``python -m pytest perfbench/tests -q``
(about four minutes: one untraced and one traced run per workload, each a
fresh Spark session). It checks that an untraced run emits every end-to-end
metric of ``BENCHMARK.json`` with its unit, that a traced run emits every
per-layer metric, that one changed output value is caught and counted in
``error_rate``, and that the benchmark refuses to run without the package.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "0.01", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    assert lines[-2].startswith("perfbench-detail ")
    return json.loads(lines[-1])


def _units(result: dict) -> dict[str, str]:
    return {name: m["unit"] for name, m in result["metrics"].items()}


def test_per_layer_list_matches_the_code():
    from layers import metric_names

    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == metric_names()


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_emits_every_end_to_end_metric(workload):
    result = _result(_run(workload, 0))
    assert _units(result) == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values()), result
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_counts_one_corrupted_output(workload):
    result = _result(_run(workload, 1, "--corrupt-one"))
    assert _units(result) == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert not result["correct"] and result["failed"] >= 1
    assert result["metrics"]["error_rate"]["value"] == pytest.approx(
        result["failed"] / result["attempted"])
    assert result["metrics"]["error_rate"]["value"] > 0


def test_refuses_to_run_without_the_package():
    # A directory holding only BENCHMARK.json and the benchmark's files,
    # kept inside the repository's gitignored work area.
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=work)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(WORKLOADS[0], 0, cwd=bare)
    finally:
        shutil.rmtree(bare)
        if not os.listdir(work):
            os.rmdir(work)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
