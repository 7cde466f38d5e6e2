"""Self-checks of the benchmark (slow: each traced run starts Spark).

    python3 -m pytest perfbench -q

* ``BENCHMARK.json`` names exactly the metrics ``run.py`` prints.
* Exact counters repeat: two traced runs of the same code and seed report
  identical job, stage, task, py4j-call, shuffle/input byte and streaming
  counts, and each run's traced passes already agreed with each other.
* Without the engine package next to it the benchmark exits non-zero and
  prints no result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, EXACT, PER_LAYER  # noqa: E402
from workloads import MIXES  # noqa: E402


def _run(cwd: str, workload: str, seed: int, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "12", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_benchmark_json_matches_run_py():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(MIXES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


@pytest.mark.parametrize("workload", sorted(MIXES))
def test_exact_counts_repeat(workload):
    counted = EXACT + [k for k, u in PER_LAYER.items() if u == "count"]
    seen = []
    for _ in range(2):
        proc = _run(ROOT, workload, seed=5, trace=1)
        assert proc.returncode == 0, proc.stderr[-2000:]
        assert "exact counts repeat across 2 traced passes: True" in proc.stdout
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        assert result["correct"] and result["failed"] == 0
        seen.append({k: result["metrics"][k]["value"] for k in counted})
    assert seen[0] == seen[1]


def test_fails_without_engine():
    bare = os.path.join(ROOT, ".perfbench", "no-engine")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = _run(bare, "serving", seed=1, trace=0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
