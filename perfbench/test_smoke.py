"""Smoke test of the benchmark at its small ``smoke`` scale.

    python3 -m pytest perfbench/test_smoke.py -q      # from the checkout root

Every workload runs untraced and traced; each run must print every metric
BENCHMARK.json declares, with its unit, and pass its correctness gate. A
run with ``--perturb`` swaps one top-k id and must be reported as failed.
Each run launches its own Spark JVM, so the whole test takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run_bench(workload: str, trace: int, *extra: str) -> dict:
    cmd = [
        sys.executable,
        "perfbench/run.py",
        "--workload", workload,
        "--seed", "7",
        "--seconds", "1",
        "--trace", str(trace),
        "--scale", "smoke",
        *extra,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(line: dict, declared: list[dict]) -> None:
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in declared}
    got = {name: m["unit"] for name, m in line["metrics"].items()}
    assert got == want
    for name, m in line["metrics"].items():
        assert isinstance(m["value"], float), name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_emits_end_to_end_metrics(workload):
    line = run_bench(workload, 0)
    assert_metrics(line, SPEC["end_to_end"])
    assert line["correct"] and line["failed"] == 0
    assert all(m["value"] > 0 for m in line["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_per_layer_metrics(workload):
    line = run_bench(workload, 1)
    assert_metrics(line, SPEC["per_layer"])
    assert line["correct"] and line["failed"] == 0
    assert line["metrics"]["spark.jobs"]["value"] > 0


def test_swapped_topk_id_is_caught():
    line = run_bench("ingest_batch", 0, "--perturb")
    assert not line["correct"]
    assert line["failed"] >= 1


def test_fails_without_engine(tmp_path):
    """In a directory with only the benchmark, the run exits non-zero
    without printing a result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
        env=env,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
