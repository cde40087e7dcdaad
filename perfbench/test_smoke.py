"""The benchmark's own test: every workload at its smoke size, traced, and
the refusal to run without the program.

    python -m pytest perfbench/test_smoke.py -q     (about a minute each)
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


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", ["ingest_mix", "corpus"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_workload_smoke(workload, trace):
    out = run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
              "--trace", trace, "--size", "smoke")
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = bench["per_layer" if trace == "1" else "end_to_end"]
    assert [(n, m["unit"]) for n, m in res["metrics"].items()] == [
        (m["name"], m["unit"]) for m in want]
    if trace == "0":
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_refuses_without_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = run(str(tmp_path), "--workload", "ingest_mix", "--seed", "1",
              "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert out.stdout.strip() == ""
