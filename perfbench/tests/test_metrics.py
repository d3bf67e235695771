"""A tiny-size pass of every workload, untraced and traced: each metric that
BENCHMARK.json declares is emitted, with its unit, and the run is correct.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.run import run_benchmark  # noqa: E402
from perfbench.workloads import TINY, WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_spec_names_the_workloads_the_benchmark_runs():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_tiny_pass_emits_every_metric(workload, trace, tmp_path):
    detail, result = run_benchmark(workload, seed=5, seconds=0, trace=bool(trace),
                                   work=str(tmp_path), sizes=TINY)
    assert result["correct"], detail["mismatches"]
    assert result["attempted"] >= 1 and result["failed"] == 0
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    if not trace:
        assert result["metrics"]["ok_frac"]["value"] == 1.0
    elif workload == "metadata_dirty":
        assert result["metrics"]["plans.ledger.redo_frac"]["value"] == 1.0


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    subprocess.run(["cp", "-r", os.path.join(ROOT, "perfbench"),
                    os.path.join(ROOT, "BENCHMARK.json"), str(tmp_path)], check=True)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "audio_payload",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout == ""
