"""Self-test of the benchmark at sf0.001.

    python3 -m pytest perfbench -q

Runs ``perfbench/run.py`` from the repository root and checks its
output: every metric named in ``BENCHMARK.json`` prints with its unit, a
clean run is correct, a result with one row dropped is reported as a
failed operation, and the command refuses to run where the engine is
missing. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(REPO, "BENCHMARK.json")))


def run_bench(cwd: str, *args: str) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


@pytest.mark.parametrize(
    "workload,trace,corrupt",
    [("derive", 0, False), ("derive", 1, True), ("curate", 0, True), ("curate", 1, False)],
)
def test_metrics_and_checks(workload, trace, corrupt):
    args = ["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
            "--sf", "0.001"] + (["--corrupt"] if corrupt else [])
    rc, lines = run_bench(REPO, *args)
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    assert result["attempted"] >= 1
    if corrupt:
        assert rc == 1 and result["correct"] is False and result["failed"] >= 1
        assert json.loads(lines[-2])["failures"]
    else:
        assert rc == 0 and result["correct"] is True and result["failed"] == 0


def test_refuses_without_engine(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines = run_bench(str(tmp_path), "--workload", "derive", "--seed", "1",
                          "--seconds", "1", "--trace", "0")
    assert rc != 0 and not lines
