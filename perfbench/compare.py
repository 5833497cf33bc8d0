"""Compare two sets of benchmark result files.

    python3 perfbench/compare.py --base .bench_work/results/a*.json \
        --new other/.bench_work/results/b*.json

For each workload, prints every end-to-end metric's median and
quartiles on each side with the new/base ratio, then each op's median
steady time on each side, and the geometric mean of the per-op
ratios.
"""

from __future__ import annotations

import argparse
import json
import math
import statistics


def load(paths: list[str]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for p in paths:
        with open(p) as f:
            r = json.load(f)
        out.setdefault(r["meta"]["workload"], []).append(r)
    return out


def spread(xs: list[float]) -> tuple[float, float, float]:
    """(median, first quartile, third quartile)."""
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (math.nan,) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q2, q1, q3


def fmt(t: tuple[float, float, float]) -> str:
    return f"{t[0]:10.4g} [{t[1]:.4g}, {t[2]:.4g}]"


def op_medians(results: list[dict]) -> dict[str, float]:
    pooled: dict[str, list[float]] = {}
    for r in results:
        for name, o in r["ops"].items():
            pooled.setdefault(name, []).extend(o["steady_s"])
    return {k: statistics.median(v) for k, v in pooled.items() if v}


def compare(base: dict[str, list[dict]], new: dict[str, list[dict]]) -> list[str]:
    lines = []
    for wl in sorted(set(base) & set(new)):
        b, n = base[wl], new[wl]
        lines.append(f"== {wl}: {len(b)} base run(s), {len(n)} new run(s)")
        lines.append(f"{'metric':24} {'base median [q1, q3]':>30} "
                     f"{'new median [q1, q3]':>30} {'new/base':>9}")
        for metric in b[0]["end_to_end"]:
            sb = spread([r["end_to_end"][metric] for r in b])
            sn = spread([r["end_to_end"][metric] for r in n])
            ratio = sn[0] / sb[0] if sb[0] else math.nan
            lines.append(f"{metric:24} {fmt(sb):>30} {fmt(sn):>30} {ratio:9.3f}")
        mb, mn = op_medians(b), op_medians(n)
        ratios = []
        lines.append(f"{'op':34} {'base s':>9} {'new s':>9} {'new/base':>9}")
        for op in sorted(set(mb) & set(mn)):
            ratio = mn[op] / mb[op]
            ratios.append(ratio)
            lines.append(f"{op:34} {mb[op]:9.4f} {mn[op]:9.4f} {ratio:9.3f}")
        if ratios:
            geo = math.exp(sum(math.log(x) for x in ratios) / len(ratios))
            lines.append(f"geometric mean of {len(ratios)} per-op ratios: "
                         f"{geo:.4f}")
    return lines


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--base", nargs="+", required=True)
    p.add_argument("--new", nargs="+", required=True)
    a = p.parse_args(argv)
    print("\n".join(compare(load(a.base), load(a.new))))


if __name__ == "__main__":
    main()
