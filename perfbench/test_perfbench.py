"""The benchmark's own tests. Each case starts Spark in a fresh process,
so the module takes a few minutes:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
#: the workloads in BENCHMARK.json, plus the one kept for runs by hand
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["semlink_grid"]
#: inputs this small keep one run near the cost of the Spark start
TINY = "0.02"


def bench(workload, trace, corrupt=0):
    proc = subprocess.run(
        [
            sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
            "--seed", "3", "--seconds", "1", "--trace", str(trace),
            "--scale", TINY, "--corrupt", str(corrupt),
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_is_printed_with_its_unit(workload, trace):
    report, result = bench(workload, trace)
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {m["name"]: m["unit"] for m in spec} == {
        name: m["unit"] for name, m in result["metrics"].items()
    }
    for m in spec:
        assert isinstance(result["metrics"][m["name"]]["value"], (int, float))
        assert any(line.split()[1] == m["name"] for line in report), m["name"]
    assert any(line.split()[1] == "failed_frac" for line in report)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_answer_counts_as_failed(workload):
    report, result = bench(workload, 0, corrupt=1)
    assert not result["correct"]
    assert result["failed"] >= 1
    frac = [float(line.split()[2]) for line in report if line.split()[1] == "failed_frac"]
    assert frac and frac[0] > 0


def test_exits_nonzero_without_the_package(tmp_path):
    """In a directory holding only the benchmark, it must fail without
    printing a result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
