"""prql_spark benchmark: one workload, one client, closed loop.

    python3 perfbench/run.py --workload prql_tpch --seed 1 --seconds 8 --trace 0

Run from the repository root. The run

1. generates its input tables from ``--seed`` under ``.bench_work/``,
   in a child process, keyed on the seed, the sizes and the
   generator's source;
2. starts a fresh session with ``build_spark`` on ``local[nproc]``
   and times it until warm (``setup_s``);
3. runs one cold pass over the workload's ops, then steady passes
   until ``--seconds`` have gone by (at least four untraced passes;
   a traced run alternates untraced and traced passes, at least two
   of each). One op runs at a time and each
   starts after the previous one's result is drained; the seed sets
   the op order of every pass. A JVM GC runs before every timed op.
   Each untraced steady pass also records the peak RSS of this
   process plus the JVM over that pass;
4. outside the timed passes, checks every op's output against the
   registry's DuckDB oracle;
5. writes every op's cold and steady times (and, traced, its layer
   split and spans) to ``.bench_work/results/`` and prints one JSON
   line last: end-to-end metrics untraced (``--trace 0``), per-layer
   metrics traced (``--trace 1``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Input size: the TPC-H-like tables at scale 0.01 (60k lineitem
# rows), 1,000 documents, 500 embeddings and 10k events. Large enough
# that every op returns rows and execution shows next to compile time;
# small enough that one run stays near 50 s on a 4-core host.
SCALE = dict(sf=0.01, n_docs=1000, n_vecs=500)
QUIET_WAIT_S = 30
MIN_STEADY_PASSES = 4
MIN_TRACED_PASSES = 2


def since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - start / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs, since
    boot: a run that lost much of it ran on a contended host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiply the input sizes (tests use 0.1)")
    return p.parse_args(argv)


def isolate(work: str) -> str:
    """Point every temp and scratch location at ``work`` so the run
    reads and writes only inside the checkout."""
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # -XX:-UsePerfData: the JVM's perf-counter file goes to /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.hadoop.hadoop.tmp.dir={tmp} pyspark-shell")
    import tempfile

    tempfile.tempdir = None
    return tmp


def wait_for_quiet_host() -> None:
    """Refuse to measure beside another live JVM: a concurrent Spark
    session inflates single ops several-fold on a small host."""
    from sparkstats import live_jvms

    deadline = time.time() + QUIET_WAIT_S
    while live_jvms():
        if time.time() > deadline:
            log(f"refusing to run: live JVM(s) {live_jvms()}")
            sys.exit(2)
        time.sleep(1)


def git_rev(root: str) -> str | None:
    """The checkout's commit; None outside a git checkout."""
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


class Bench:
    def __init__(self, args, root: str):
        self.args = args
        self.work = os.path.join(root, ".bench_work")
        self.workload = WORKLOADS[args.workload]
        self.ops = self.workload.ops
        self.rng = random.Random(args.seed)
        self.failures: list[dict] = []
        self.attempted = 0
        self.zero_row: list[str] = []
        self.cold_rss_mb = 0.0
        self.pass_rss_mb: list[float] = []
        self.tracer = None
        self.inst = None
        # wall-clock time at the end of each phase, from process start
        self.phase_wall_s: dict[str, float] = {}
        self.phase_steal_s: dict[str, float] = {"start": host_steal_s()}

    def mark(self, phase: str) -> None:
        self.phase_wall_s[phase] = since_process_start()
        self.phase_steal_s[phase] = host_steal_s()

    # ---------------------------------------------------------- setup
    def setup(self, pre: float) -> None:
        """Import, build the session and warm it with the workload's
        warm-up entry and, where the workload needs them, with a
        ``mapInPandas`` that starts the Python workers. ``setup_s`` counts
        from process start, less the harness's own host check and input
        generation."""
        t0 = time.perf_counter()
        from pyspark.sql import functions as F

        import prql_spark
        from prql_spark import build_spark

        import workloads

        t_build = time.perf_counter()
        self.cores = len(os.sched_getaffinity(0))
        spark = build_spark("prql_spark-perfbench", cpus=self.cores)
        self.session_build_s = time.perf_counter() - t_build
        spark.sparkContext.setLogLevel("ERROR")
        self.builders = workloads.builders()
        self.builders[self.workload.warmup](spark, self.data).collect()
        if self.workload.python_workers:
            spark.range(8).mapInPandas(lambda it: it, "id long").collect()
        self.setup_s = pre + time.perf_counter() - t0
        self.spark, self.F, self.prql_spark = spark, F, prql_spark
        self.texts = workloads.prql_texts()
        from sparkstats import SparkStats

        self.stats = SparkStats(spark)

    def make_data(self) -> None:
        """Generate the inputs in a child process, so that the
        generator's memory never counts in this process's RSS peak.
        A cached set is reused only if the generator is unchanged."""
        sc = {k: (v * self.args.scale if k == "sf"
                  else max(50, int(v * self.args.scale)))
              for k, v in SCALE.items()}
        gen = os.path.join(HERE, "datagen.py")
        with open(gen, "rb") as f:
            src = hashlib.sha256(f.read()).hexdigest()[:12]
        self.scale = dict(sc, generator=src)
        tag = (f"seed{self.args.seed}-sf{sc['sf']}-d{sc['n_docs']}"
               f"-v{sc['n_vecs']}-{src}")
        self.data = os.path.join(self.work, "data", tag)
        subprocess.run([sys.executable, gen, self.data, str(self.args.seed),
                        str(sc["sf"]), str(sc["n_docs"]), str(sc["n_vecs"])],
                       check=True, timeout=300)

    # ------------------------------------------------------------ ops
    def drain(self, df, mode: str):
        if mode == "collect":
            return df, df.collect()
        F = self.F
        dd = df.select(F.xxhash64(*[F.col(c) for c in df.columns]).alias("h")
                       ).selectExpr("bit_xor(h) AS h")
        return dd, dd.collect()[0][0]

    def run_op(self, name: str, mode: str, traced: bool) -> dict:
        """One timed op: GC, build, drain. Traced, also reads the
        layer counters around it (outside the timed region)."""
        st = self.stats
        self.attempted += 1
        st.gc()
        rec: dict = {"op": name}
        if traced:
            before = dict(gc=st.gc_ms(), py=st.python_worker_cpu_ms())
            self.tracer.op = f"{name}#{self.attempted}"
            self.tracer.enabled = True
        try:
            if traced:
                jb = self.tracer.quiet(st.jobs)
            with self._span("op"):
                t0 = time.perf_counter()
                with self._span("build"):
                    df = self.builders[name](self.spark, self.data)
                t1 = time.perf_counter()
                if traced:
                    j0, s0 = self.tracer.quiet(st.jobs), self.tracer.quiet(st.next_stage)
                with self._span("drain"):
                    executed, value = self.drain(df, mode)
                t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 — an op failing is a result
            self.tracer_off()
            self.failures.append({"op": name, "error": repr(e)[:500]})
            log(f"FAIL {name}: {e!r}"[:2000])
            traceback.print_exc(limit=3)
            return {"op": name, "failed": True}
        rec.update(build_s=t1 - t0, drain_s=t2 - t1, op_s=t2 - t0,
                   df=df, mode=mode, value=value)
        if traced:
            self.tracer.enabled = False
            rec["build_jobs"] = j0 - jb
            rec["manifest_bytes"] = self.manifest_bytes(self.tracer.op)
            rec["action"] = dict(
                st.stages_since(s0), jobs=st.jobs() - j0,
                gc_ms=st.gc_ms() - before["gc"],
                worker_cpu_ms=st.python_worker_cpu_ms() - before["py"],
                **st.plan_stats(executed._jdf))
            if name in self.texts:
                self.tracer.enabled = True
                try:
                    with self._span("to_sql"):
                        self.prql_spark.compile(
                            self.texts[name], self.prql_spark.Catalog(
                                self.spark, self.data), "duckdb")
                except Exception as e:  # noqa: BLE001
                    self.failures.append({"op": name, "error": f"to_sql: {e!r}"[:500]})
                    log(f"FAIL {name} to_sql: {e!r}"[:2000])
                self.tracer.enabled = False
            rec["op_id"] = self.tracer.op
        return rec

    def manifest_bytes(self, op_id: str) -> tuple[int, int]:
        """(bytes on disk, bytes live) over the manifest tables the
        op wrote."""
        from spans import live_manifest_bytes

        paths = {s.attrs["path"] for s in self.tracer.spans
                 if s.op == op_id and s.name.startswith("manifest.")
                 and s.attrs.get("path")}
        pairs = [live_manifest_bytes(p) for p in sorted(paths)]
        return sum(p[0] for p in pairs), sum(p[1] for p in pairs)

    def _span(self, span: str, **attrs):
        if self.tracer is None:
            import contextlib

            return contextlib.nullcontext()
        return self.tracer.span(span, **attrs)

    def tracer_off(self) -> None:
        if self.tracer is not None:
            self.tracer.enabled = False
            self.tracer.muted = False

    def one_pass(self, traced: bool) -> tuple[float, list[dict]]:
        """Run every op once in seed order; the pass time is the sum of
        the ops' timed regions, so forced GCs and trace bookkeeping
        between ops stay out of it."""
        order = self.rng.sample(self.ops, len(self.ops))
        recs = [self.run_op(n, m, traced) for n, m in order]
        return sum(r.get("op_s", 0.0) for r in recs), recs

    # ---------------------------------------------------------- check
    def check(self, last: dict[str, dict]) -> dict:
        """Compare each op's output from its last steady build with
        the oracle; untimed."""
        import __spark_entry__
        from check import Oracle

        oracles = __spark_entry__.oracle_sql()
        oracle = Oracle(self.data)
        out = {}
        try:
            for name, _mode in self.ops:
                rec = last.get(name)
                if rec is None or rec.get("failed"):
                    out[name] = "op failed"
                    continue
                try:
                    rows = rec["df"].collect()
                    err = oracle.compare(oracles[name], rec["df"].columns, rows)
                except Exception as e:  # noqa: BLE001
                    err = f"check raised {e!r}"[:500]
                if err is None and not rows:
                    self.zero_row.append(name)
                out[name] = err or "ok"
        finally:
            oracle.close()
        return out

    # ------------------------------------------------------------ run
    def run(self) -> dict:
        traced_run = bool(self.args.trace)
        if traced_run:
            from spans import Instrumentation, Tracer

            self.tracer = Tracer()
            self.inst = Instrumentation(self.tracer, self.stats.jobs)
            self.inst.install()
        cold_s, cold = self.one_pass(traced=False)
        self.mark("cold")
        self.cold_rss_mb = self.stats.rss_peak_mb()
        steady, traced_passes = [], []
        self.all_recs = list(cold)
        t0 = time.perf_counter()
        # untraced runs make at least four steady passes: steady times
        # still fall from pass to pass as the JIT warms, so a slow run
        # that stopped after fewer would take its medians from earlier,
        # slower passes. Traced runs make at least two
        # of each kind, untraced first, so warm-up does not read as
        # overhead and every layer value is a median of two or more
        min_steady = MIN_TRACED_PASSES if traced_run else MIN_STEADY_PASSES
        min_traced = MIN_TRACED_PASSES if traced_run else 0
        while (len(steady) < min_steady or len(traced_passes) < min_traced
               or time.perf_counter() - t0 < self.args.seconds):
            # traced runs alternate untraced and traced passes, so the
            # tracing overhead is measured on the same warm session
            traced = traced_run and len(traced_passes) < len(steady)
            if not traced:
                self.stats.reset_rss_peak()
            dt, recs = self.one_pass(traced)
            if not traced:
                self.pass_rss_mb.append(self.stats.rss_peak_mb())
            (traced_passes if traced else steady).append((dt, recs))
            self.all_recs += recs
        self.mark("steady")
        last = {r["op"]: r for _dt, recs in steady for r in recs}
        checks = self.check(last)
        self.mark("check")
        for name, verdict in checks.items():
            if verdict not in ("ok", "op failed"):
                log(f"CHECK {name}: {verdict}")
                bad = sum(1 for r in self.all_recs
                          if r["op"] == name and not r.get("failed"))
                self.failures.append({"op": name, "check": verdict,
                                      "executions": bad})
        return dict(cold_s=cold_s, cold=cold, steady=steady,
                    traced=traced_passes, checks=checks)

    def shutdown(self) -> None:
        """Stop the session and wait for the JVM and its Python
        workers to exit."""
        from pyspark import SparkContext

        from sparkstats import children_of

        jvm_pid = self.stats.jvm_pid
        workers = children_of(jvm_pid)
        gw = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while any(os.path.exists(f"/proc/{p}") and _alive(p) for p in workers):
            if time.time() > deadline:
                for p in workers:
                    _kill(p)
                break
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _kill(pid: int) -> None:
    import signal

    try:
        os.kill(pid, signal.SIGKILL)
    except OSError:
        pass


def main(argv=None) -> int:
    pre = since_process_start()
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    import importlib.util

    missing = [m for m in ("prql_spark", "__spark_entry__")
               if importlib.util.find_spec(m) is None]
    if missing:
        log(f"run from the repository root: cannot import {missing}")
        return 1
    bench = Bench(args, root)
    isolate(bench.work)
    wait_for_quiet_host()
    bench.make_data()
    bench.mark("data")
    bench.setup(pre)
    bench.mark("setup")
    try:
        res = bench.run()
    finally:
        bench.tracer_off()
        if bench.inst is not None:
            bench.inst.uninstall()
        meta = M.environment(bench, git_rev(root))
        bench.shutdown()
        bench.mark("shutdown")
    result = M.result(bench, res, meta)
    out_dir = os.path.join(bench.work, "results")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(result, f, indent=1, default=str)
    M.report(result, path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
