"""End-to-end smoke: every workload, untraced and traced, at a tenth
of the benchmark's input size (TPC-H-like scale 0.001), with one
steady pass. Each case starts its own Spark session, so the module
takes a few minutes."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_one_pass(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace),
         "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    line = json.loads(out.stdout.strip().splitlines()[-1])
    assert line["failed"] == 0 and line["correct"], out.stderr[-3000:]
    assert line["attempted"] >= 2 * len(WORKLOADS[workload].ops)
    names = M.PER_LAYER if trace else M.END_TO_END
    assert set(line["metrics"]) == set(names)
    path = os.path.join(ROOT, ".bench_work", "results",
                        f"{workload}-seed7-trace{trace}.json")
    with open(path) as f:
        result = json.load(f)
    assert result["failed_ratio"] == 0
    for name, op in result["ops"].items():
        assert op["check"] == "ok", name
        assert op["cold_s"] > 0 and op["steady_s"], name
        if trace:
            assert set(op["layers"]) >= set(M.ADDITIVE), name
