"""Smoke test: a tiny run of every workload, untraced and traced, prints
every metric BENCHMARK.json names, with its unit, and passes its checks.

    python3 -m pytest kgbench/test_smoke.py -q

Each case starts its own Spark session (about 30 s each on 4 cores).
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def _run(cwd: str, *extra: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, *BENCH["command"][1:])]
    return subprocess.run(cmd + list(extra), cwd=cwd, capture_output=True,
                          text=True, timeout=600)


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_run_prints_every_metric(workload, trace, tmp_path):
    out = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
               "--trace", trace, "--terms", "120", "--docs", "400")
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = BENCH["per_layer"] if trace == "1" else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if trace == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_without_the_program_fails_without_a_result(tmp_path):
    """A directory holding only BENCHMARK.json and the benchmark's own
    files is not runnable: exit non-zero and print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns(".cache", ".work",
                                                      "__pycache__"))
    out = _run(str(tmp_path), "--workload", BENCH["workloads"][0]["name"],
               "--seed", "1", "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
