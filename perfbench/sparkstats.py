"""Counters read from Spark, the JVM and ``/proc`` around each op.

Everything here goes through public py4j handles on a live session:
the DAG scheduler's job and stage counters, the status store's stage
list (which works with the UI off), a query's phase tracker, the GC
MXBeans and the process table.
"""

from __future__ import annotations

import os
import re

PY_UDF_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "FlatMapGroupsInPandas")
_CLK = os.sysconf("SC_CLK_TCK")


class SparkStats:
    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.jvm = sc._jvm
        self.jvm_pid = int(self.jvm.java.lang.ProcessHandle.current().pid())

    def jobs(self) -> int:
        return int(self.jsc.dagScheduler().nextJobId())

    def next_stage(self) -> int:
        return int(self.jsc.dagScheduler().nextStageId())

    def gc(self) -> None:
        self.jvm.System.gc()

    def gc_ms(self) -> int:
        beans = self.jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(int(b.getCollectionTime()) for b in beans)

    def stages_since(self, first_stage: int) -> dict:
        """Totals over the stages with id >= ``first_stage`` that ran
        (skipped stages, reused from an earlier shuffle, are left
        out)."""
        self.jsc.listenerBus().waitUntilEmpty()
        empty = self.jvm.java.util.ArrayList
        seq = self.jsc.statusStore().stageList(
            empty(), False, False,
            self.sc._gateway.new_array(self.jvm.double, 0), empty())
        out = dict(stages=0, tasks=0, single_task_stages=0,
                   executor_run_ms=0, executor_cpu_ms=0.0,
                   shuffle_read_bytes=0, shuffle_write_bytes=0,
                   spill_bytes=0)
        for st in self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq):
            if int(st.stageId()) < first_stage:
                continue
            if st.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            tasks = int(st.numTasks())
            out["stages"] += 1
            out["tasks"] += tasks
            out["single_task_stages"] += tasks == 1
            out["executor_run_ms"] += int(st.executorRunTime())
            out["executor_cpu_ms"] += int(st.executorCpuTime()) / 1e6
            out["shuffle_read_bytes"] += int(st.shuffleReadBytes())
            out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
            out["spill_bytes"] += int(st.memoryBytesSpilled()) + int(
                st.diskBytesSpilled())
        return out

    @staticmethod
    def plan_stats(jdf) -> dict:
        """Catalyst phase times and final-plan shape of an executed
        DataFrame's query."""
        qe = jdf.queryExecution()
        phases = qe.tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            out[f"{phase}_ms"] = (
                int(opt.get().durationMs()) if opt.isDefined() else 0)
        plan = qe.executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        nodes = [ln for ln in final.splitlines()
                 if ln.strip() and not ln.strip().startswith("+- ==")
                 and not ln.lstrip().startswith(("AdaptiveSparkPlan",))]
        out["plan_nodes"] = len(nodes)
        out["codegen_stages"] = len(set(re.findall(r"\*\((\d+)\)", final)))
        out["udf_nodes"] = sum(final.count(n) for n in PY_UDF_NODES)
        return out

    def rss_peak_mb(self) -> float:
        """Peak RSS of this client process plus the JVM since the last
        ``reset_rss_peak`` (or since each started)."""
        return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(self.jvm_pid)) / 1024

    def reset_rss_peak(self) -> None:
        """Set both processes' peak RSS back to their current RSS."""
        for pid in (os.getpid(), self.jvm_pid):
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")

    def python_worker_cpu_ms(self) -> float:
        """CPU time of the ``pyspark.daemon`` process tree: the daemons
        with their reaped children, plus their live workers."""
        procs = _proc_table()
        daemons = {pid for pid, (ppid, cmd, _) in procs.items()
                   if ppid == self.jvm_pid and "pyspark.daemon" in cmd}
        ticks = 0
        for pid, (ppid, _cmd, t) in procs.items():
            if pid in daemons:
                ticks += t[0] + t[1] + t[2] + t[3]
            elif ppid in daemons:
                ticks += t[0] + t[1]
        return ticks * 1000 / _CLK


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _proc_table() -> dict[int, tuple[int, str, tuple[int, int, int, int]]]:
    """pid -> (ppid, cmdline, (utime, stime, cutime, cstime) ticks)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        out[int(d)] = (int(fields[1]), cmd,
                       tuple(int(x) for x in fields[11:15]))
    return out


def live_jvms(exclude: set[int] = frozenset()) -> list[int]:
    """Pids of running (not zombie) java processes."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in exclude:
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        if head.split("(", 1)[1] == "java" and rest.split()[0] != "Z":
            out.append(int(d))
    return out


def children_of(pid: int) -> list[int]:
    return [p for p, (ppid, _c, _t) in _proc_table().items() if ppid == pid]
