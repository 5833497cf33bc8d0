"""The metric names a run prints are the names BENCHMARK.json lists."""

from __future__ import annotations

import io
import json
import os
import sys
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def last_line(result: dict) -> dict:
    buf = io.StringIO()
    with redirect_stdout(buf):
        M.report(result, "r.json")
    return json.loads(buf.getvalue().splitlines()[-1])


def fake_result(traced: bool) -> dict:
    return {
        "end_to_end": {k: 1.5 for k in M.END_TO_END},
        "per_layer": {k: 2.5 for k in M.PER_LAYER} if traced else None,
        "attempted": 10, "failed": 0, "failed_ratio": 0.0,
        "zero_row_results": [],
    }


def test_emitted_names_and_units_match_benchmark_json():
    b = spec()
    for traced, key in ((False, "end_to_end"), (True, "per_layer")):
        line = last_line(fake_result(traced))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        want = {m["name"]: m["unit"] for m in b[key]}
        got = {k: v["unit"] for k, v in line["metrics"].items()}
        assert got == want


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in spec()["workloads"]] == list(WORKLOADS)


def test_per_layer_aggregation_covers_every_name():
    split = {k: 1.0 for k in (*M.ADDITIVE, *M._PARTS)}
    out = M.per_layer({"a": split, "b": split}, cores=4,
                      session_build_s=3.0, overhead_s=0.1)
    assert set(out) == set(M.PER_LAYER)
    assert out["catalog.loads"] == 2.0
    assert out["catalog.reuse_ratio"] == 1.0
    assert out["exec.core_util"] == 0.25


def test_warmup_is_a_registry_entry_no_pass_times():
    sys.path.insert(0, os.path.dirname(HERE))
    import __spark_entry__

    registry = dict(__spark_entry__.queries())
    for w in WORKLOADS.values():
        assert w.warmup in registry
        assert w.warmup not in dict(w.ops)
        assert all(name in registry for name, _mode in w.ops)
