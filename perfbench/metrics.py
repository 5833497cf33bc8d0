"""Metric definitions and the result record of one benchmark run."""

from __future__ import annotations

import json
import os
import platform
import statistics

# name -> unit; every workload emits every one of them
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "cold_pass_s": "s",
    "op_s.p50": "s",
    "compile_ms.p50": "ms",
    "peak_rss_mb": "MB",
}

# additive per-op layer values: summed over a pass's ops
ADDITIVE = {
    "parser.parse_ms": "ms",
    "parser.ast_nodes": "count",
    "compiler.self_ms": "ms",
    "compiler.py4j_calls": "count",
    "catalog.loads": "count",
    "catalog.distinct_tables": "count",
    "catalog.load_ms": "ms",
    "catalog.load_jobs": "count",
    "sql_backend.to_sql_ms": "ms",
    "sql_backend.sql_bytes": "bytes",
    "operators.build_ms": "ms",
    "operators.eager_jobs": "count",
    "materialize.calls": "count",
    "manifest.commits": "count",
    "manifest.commit_ms": "ms",
    "manifest.bytes_written": "bytes",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "catalyst.plan_nodes": "count",
    "catalyst.codegen_stages": "count",
    "exec.action_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.single_task_stages": "count",
    "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "python.udf_nodes": "count",
    "python.worker_cpu_ms": "ms",
    "jvm.gc_ms": "ms",
}
RATIOS = {
    "catalog.reuse_ratio": "ratio",
    "manifest.space_amp": "ratio",
    "exec.core_util": "ratio",
}
PER_LAYER = {"session.build_s": "s", **ADDITIVE, **RATIOS,
             "trace.overhead_s": "s"}

# helper sums behind the ratios, kept per op but not emitted
_PARTS = ("manifest.disk_bytes", "manifest.live_bytes")


def op_layers(spans, rec: dict) -> dict:
    """One traced op's layer split from its spans and counters."""
    from spans import children, self_time, subtree_counts

    kids = children(spans)
    mine = [i for i, s in enumerate(spans) if s.op == rec["op_id"]]
    roots = {s.name: i for i in mine for s in [spans[i]] if s.parent is None}

    def under(root: str, name: str) -> list[int]:
        if root not in roots:
            return []
        out, todo = [], [roots[root]]
        while todo:
            i = todo.pop()
            for k in kids.get(i, ()):
                if spans[k].name == name and spans[i].name != name:
                    out.append(k)
                todo.append(k)
        return out

    def ms(idx) -> float:
        return 1000 * sum(spans[i].dur for i in idx)

    def total(idx, key) -> float:
        return sum(spans[i].counts.get(key, 0) for i in idx)

    parse = under("op", "parser.parse")
    comp = under("op", "compiler.compile_prql")
    loads = under("op", "catalog.load")
    to_sql = under("to_sql", "sql_backend.to_sql")
    build = under("op", "build")
    manifest = [i for i in mine if spans[i].name.startswith("manifest.")
                and not (spans[i].parent is not None and spans[
                    spans[i].parent].name.startswith("manifest."))]
    op_tree = [roots["op"]] + _descendants(kids, roots["op"])
    load_jobs = sum(subtree_counts(spans, i, kids, "jobs") for i in loads)
    act = rec["action"]
    disk, live = rec["manifest_bytes"]
    return {
        "parser.parse_ms": ms(parse),
        "parser.ast_nodes": total(parse, "ast_nodes"),
        "compiler.self_ms": 1000 * sum(self_time(spans, i, kids) for i in comp),
        "compiler.py4j_calls": sum(
            subtree_counts(spans, i, kids, "py4j_calls",
                           stop=frozenset({"catalog.load"})) for i in comp),
        "catalog.loads": len(loads),
        "catalog.distinct_tables": len({spans[i].attrs["table"] for i in loads}),
        "catalog.load_ms": ms(loads),
        "catalog.load_jobs": load_jobs,
        "sql_backend.to_sql_ms": ms(to_sql),
        "sql_backend.sql_bytes": total(to_sql, "sql_bytes"),
        "operators.build_ms": 1000 * sum(self_time(spans, i, kids) for i in build),
        "operators.eager_jobs": rec["build_jobs"] - load_jobs,
        "materialize.calls": total(op_tree, "materialize.calls"),
        "manifest.commits": total(op_tree, "manifest.commits"),
        "manifest.commit_ms": ms(manifest),
        "manifest.bytes_written": total(manifest, "bytes_written"),
        "manifest.disk_bytes": disk,
        "manifest.live_bytes": live,
        "catalyst.analysis_ms": act["analysis_ms"],
        "catalyst.optimization_ms": act["optimization_ms"],
        "catalyst.planning_ms": act["planning_ms"],
        "catalyst.plan_nodes": act["plan_nodes"],
        "catalyst.codegen_stages": act["codegen_stages"],
        "exec.action_ms": 1000 * rec["drain_s"],
        "exec.jobs": act["jobs"],
        "exec.stages": act["stages"],
        "exec.tasks": act["tasks"],
        "exec.single_task_stages": act["single_task_stages"],
        "exec.executor_run_ms": act["executor_run_ms"],
        "exec.executor_cpu_ms": act["executor_cpu_ms"],
        "exec.shuffle_read_bytes": act["shuffle_read_bytes"],
        "exec.shuffle_write_bytes": act["shuffle_write_bytes"],
        "exec.spill_bytes": act["spill_bytes"],
        "python.udf_nodes": act["udf_nodes"],
        "python.worker_cpu_ms": act["worker_cpu_ms"],
        "jvm.gc_ms": act["gc_ms"],
    }


def _descendants(kids, i: int) -> list[int]:
    out, todo = [], [i]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def per_layer(by_op: dict[str, dict], cores: int, session_build_s: float,
              overhead_s: float) -> dict:
    """Workload-level layer metrics: each additive value summed over
    the ops of one pass, ratios taken from those sums."""
    tot = {k: sum(v[k] for v in by_op.values())
           for k in (*ADDITIVE, *_PARTS)}
    out = {"session.build_s": session_build_s}
    out.update({k: tot[k] for k in ADDITIVE})
    out["catalog.reuse_ratio"] = ratio(tot["catalog.distinct_tables"],
                                       tot["catalog.loads"])
    out["manifest.space_amp"] = ratio(tot["manifest.disk_bytes"],
                                      tot["manifest.live_bytes"])
    out["exec.core_util"] = ratio(tot["exec.executor_run_ms"],
                                  tot["exec.action_ms"] * cores)
    out["trace.overhead_s"] = overhead_s
    return out


def environment(bench, rev: str | None) -> dict:
    spark = bench.spark
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "java": spark._jvm.System.getProperty("java.version"),
        "spark": spark.version,
        "python": platform.python_version(),
        "git_rev": rev,
        "env": {k: v for k, v in sorted(os.environ.items())
                if k.startswith("SPARK_GRAFT_")},
        "workload": bench.args.workload,
        "seed": bench.args.seed,
        "seconds": bench.args.seconds,
        "trace": bench.args.trace,
        "inputs": bench.scale,
        "ops": [list(o) for o in bench.ops],
    }


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def ok_recs(passes) -> list[dict]:
    return [r for _dt, recs in passes for r in recs if not r.get("failed")]


def median_pass(recs: list[dict]) -> float:
    """A pass built from each op's median time, so one slow repetition
    of one op does not move the whole pass."""
    per_op: dict[str, list[float]] = {}
    for r in recs:
        per_op.setdefault(r["op"], []).append(r["op_s"])
    return sum(statistics.median(v) for v in per_op.values())


def result(bench, res: dict, meta: dict) -> dict:
    steady = ok_recs(res["steady"])
    e2e = {
        "setup_s": bench.setup_s,
        "pass_s": median_pass(steady),
        "cold_pass_s": res["cold_s"],
        "op_s.p50": _median([r["op_s"] for r in steady]),
        "compile_ms.p50": 1000 * _median([r["build_s"] for r in steady]),
        "peak_rss_mb": _median(bench.pass_rss_mb),
    }
    ops = {}
    for name, mode in bench.ops:
        cold = [r for r in res["cold"] if r["op"] == name]
        mine = [r for r in steady if r["op"] == name]
        ops[name] = {
            "drain": mode,
            "cold_s": cold[0].get("op_s") if cold else None,
            "steady_s": [r["op_s"] for r in mine],
            "steady_build_s": [r["build_s"] for r in mine],
            "check": res["checks"].get(name),
        }
    layers = None
    spans_out = None
    if bench.args.trace:
        spans = bench.tracer.spans
        traced = ok_recs(res["traced"])
        by_op: dict[str, list[dict]] = {}
        for r in traced:
            by_op.setdefault(r["op"], []).append(
                op_layers(spans, r))
        med = {name: {k: statistics.median(x[k] for x in xs) for k in xs[0]}
               for name, xs in by_op.items()}
        for name, split in med.items():
            ops[name]["layers"] = split
        overhead = median_pass(traced) - e2e["pass_s"]
        layers = per_layer(med, bench.cores, bench.session_build_s, overhead)
        spans_out = [dict(name=s.name, start=s.start, end=s.end,
                          parent=s.parent, op=s.op, counts=s.counts,
                          attrs=s.attrs) for s in spans]
    failed = sum(1 for f in bench.failures if "error" in f) + sum(
        f.get("executions", 0) for f in bench.failures if "check" in f)
    return {
        "meta": meta,
        "end_to_end": e2e,
        "per_layer": layers,
        "attempted": bench.attempted,
        "failed": failed,
        "failed_ratio": failed / max(1, bench.attempted),
        "failures": bench.failures,
        "zero_row_results": bench.zero_row,
        "op_samples": len(steady),
        "phase_wall_s": bench.phase_wall_s,
        "phase_steal_s": bench.phase_steal_s,
        "rss_mb": {"setup_and_cold_peak": bench.cold_rss_mb,
                   "steady_pass_peaks": bench.pass_rss_mb},
        "passes": {"cold_s": res["cold_s"],
                   "steady_s": [dt for dt, _ in res["steady"]],
                   "traced_s": [dt for dt, _ in res["traced"]]},
        "ops": ops,
        "spans": spans_out,
    }


def report(result: dict, path: str) -> None:
    """Human-readable lines, then the result as one JSON line, last."""
    for name, unit in END_TO_END.items():
        print(f"{name} {result['end_to_end'][name]:.6g} {unit}")
    print(f"failed_ratio {result['failed_ratio']:.6g} ratio "
          f"({result['failed']} of {result['attempted']} ops)")
    if result["zero_row_results"]:
        print(f"zero-row results: {result['zero_row_results']}")
    print(f"result file: {path}")
    if result["per_layer"] is not None:
        metrics = {k: {"value": result["per_layer"][k], "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": result["end_to_end"][k], "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }), flush=True)
