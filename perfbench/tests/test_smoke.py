"""Smoke self-test of the benchmark at a tiny size.

    python3 -m pytest perfbench/tests -q

Every workload must print every metric named in BENCHMARK.json with its
unit, in both the end-to-end and the traced run, and an output corrupted
on purpose must count as a failed operation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORK = os.path.join(ROOT, ".bench_work", "smoke")
TINY = ["--size", "400", "--seconds", "1", "--work", WORK]


def bench(*args: str) -> dict:
    proc = subprocess.run(
        SPEC["command"] + list(args) + TINY, cwd=ROOT, capture_output=True,
        text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(result: dict, specs: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    got = result["metrics"]
    assert set(got) == {m["name"] for m in specs}
    for m in specs:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_every_metric_with_its_unit(workload, trace):
    result = bench("--workload", workload, "--seed", "3", "--trace", trace)
    assert result["correct"] and result["failed"] == 0, result
    assert result["attempted"] >= 3
    assert_metrics(result, SPEC["end_to_end" if trace == "0" else "per_layer"])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_corrupted_output_is_a_failed_op(workload):
    result = bench("--workload", workload, "--seed", "3", "--trace", "0",
                   "--corrupt-op", "1")
    assert not result["correct"]
    assert result["failed"] == 1


def test_refuses_to_run_without_the_program():
    """A directory holding only the benchmark must exit non-zero and
    print no result."""
    import shutil

    tmp_path = os.path.join(WORK, "bare")
    shutil.rmtree(tmp_path, ignore_errors=True)
    os.makedirs(tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"),
                    os.path.join(tmp_path, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_north",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
