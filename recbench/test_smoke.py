"""Smoke test of the benchmark itself at toy size.

    python3 -m pytest recbench/test_smoke.py -q

Every workload runs untraced and traced; each prints every metric that
BENCHMARK.json names, with its unit, and no failed operation.  The traced
run's span self times are non-negative and add up to each root span.  A
directory holding only the benchmark (no engine) makes the run fail
without printing a result.
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
sys.path.insert(0, ROOT)

from recbench.trace import self_times  # noqa: E402
from recbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload, trace, cwd=ROOT, seed=7):
    cmd = [sys.executable, *SPEC["command"][1:], "--workload", workload, "--seed",
           str(seed), "--seconds", "1", "--trace", str(trace), "--size", "toy"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_prints_every_metric(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    meta = json.loads(lines[-2])["meta"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0, m["name"]
    for key in ("nproc", "master", "shuffle_partitions", "seed", "data", "git_sha",
                "source_sha256", "spark", "python"):
        assert key in meta
    if trace:
        with open(os.path.join(ROOT, "recbench_out", f"spans-{workload}-7.json")) as fh:
            spans = json.load(fh)
        _check_self_times(spans)


def _check_self_times(spans):
    selft = self_times(spans)
    assert all(v >= -1e-9 for v in selft.values())
    by_root = {}
    for s in spans:
        root = s
        while root["parent"] is not None:
            root = spans[root["parent"]]
        by_root.setdefault(root["id"], []).append(s)
    assert by_root
    for rid, members in by_root.items():
        total = sum(selft[s["id"]] for s in members)
        root = spans[rid]
        assert abs(total - (root["t1"] - root["t0"])) < 1e-6


def test_refuses_without_engine(tmp_path):
    """Only BENCHMARK.json and the benchmark's files: non-zero exit, no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(SPEC["workloads"][0]["name"], 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
