"""The compare helper's per-workload spreads and per-op ratios."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from compare import compare, op_medians, spread  # noqa: E402


def result(pass_s: float, ops: dict[str, list[float]]) -> dict:
    return {"meta": {"workload": "w"}, "end_to_end": {"pass_s": pass_s},
            "ops": {k: {"steady_s": v} for k, v in ops.items()}}


def test_spread_is_median_and_quartiles():
    assert spread([4.0]) == (4.0, 4.0, 4.0)
    med, q1, q3 = spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert med == 3.0 and q1 < med < q3


def test_geometric_mean_of_per_op_ratios():
    base = {"w": [result(2.0, {"a": [1.0, 1.0], "b": [2.0]})]}
    new = {"w": [result(3.0, {"a": [2.0], "b": [1.0, 1.0, 9.0]})]}
    assert op_medians(new["w"]) == {"a": 2.0, "b": 1.0}
    lines = compare(base, new)
    # per-op ratios 2.0 and 0.5: geometric mean 1.0
    assert lines[-1].endswith("1.0000")
    assert any(ln.startswith("pass_s") and ln.endswith("1.500") for ln in lines)
    assert compare(base, {"other": new["w"]}) == []
