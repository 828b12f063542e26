"""Readers for the per-layer numbers, all from outside the engine.

Spark side: the status store (jobs, stages and task totals of one op's
job group), Catalyst's phase tracker, the codegen compile counters and the
block manager's storage memory. Host side: CPU steal, load average, free
memory and resident set sizes from ``/proc``.
"""

from __future__ import annotations

import os
import resource
import uuid

MB = 1024 * 1024

# Stage totals summed over an op's jobs: status-store field -> (metric, scale).
_STAGE_FIELDS = {
    "numTasks": ("exec.tasks", 1),
    "executorRunTime": ("exec.task_run_s", 1e-3),
    "executorCpuTime": ("exec.task_cpu_s", 1e-9),
    "inputBytes": ("exec.input_bytes", 1),
    "shuffleReadBytes": ("exec.shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("exec.shuffle_write_bytes", 1),
    "diskBytesSpilled": ("exec.spill_bytes", 1),
    "jvmGcTime": ("exec.gc_s", 1e-3),
}
_PHASES = {"analysis": "catalyst.analysis_s", "optimization": "catalyst.optimization_s", "planning": "catalyst.planning_s"}
# Names of the per-op numbers ``SparkProbe.end`` and ``SparkProbe.catalyst``
# return, and of the per-pass ones ``SparkProbe.memory`` returns.
END_KEYS = (*(m for m, _ in _STAGE_FIELDS.values()), "exec.stages", "exec.jobs", "codegen.compiles", "codegen.compile_s")
OP_KEYS = (*END_KEYS, *_PHASES.values())
MEMORY_KEYS = ("jvm.heap_used_mb", "jvm.storage_used_mb")


class SparkProbe:
    """Per-op counters for one live session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._jsc = self.sc._jsc.sc()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._runtime = jvm.java.lang.Runtime.getRuntime()
        self._group = ""
        self._cg0 = (0, 0)

    def _codegen_now(self) -> tuple[int, int]:
        return self._compiles.getCount(), self._codegen.compileTime()

    def begin(self, op: str) -> None:
        self._group = f"bench-{op}-{uuid.uuid4().hex[:8]}"
        self.sc.setJobGroup(self._group, op)
        self._cg0 = self._codegen_now()

    def catalyst(self, df) -> dict[str, float]:
        """Force physical planning of ``df`` and read Catalyst's phase
        times (the op's action re-plans on top of the cached analysis)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        out = dict.fromkeys(_PHASES.values(), 0.0)
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in _PHASES:
                out[_PHASES[kv._1()]] = kv._2().durationMs() / 1e3
        return out

    def end(self) -> dict[str, float]:
        """Counters of the jobs run since ``begin``. Read at once: the
        session keeps only the most recent jobs and stages."""
        self._jsc.listenerBus().waitUntilEmpty()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        out = dict.fromkeys(END_KEYS, 0.0)
        store = self._jsc.statusStore()
        job_ids = self.sc.statusTracker().getJobIdsForGroup(self._group)
        out["exec.jobs"] = float(len(job_ids))
        for jid in job_ids:
            it = store.job(jid).stageIds().iterator()
            while it.hasNext():
                stage = store.lastStageAttempt(it.next())
                if str(stage.status()) == "SKIPPED":
                    continue
                out["exec.stages"] += 1
                for field, (name, scale) in _STAGE_FIELDS.items():
                    out[name] += getattr(stage, field)() * scale
        n, ns = self._codegen_now()
        out["codegen.compiles"] = float(n - self._cg0[0])
        out["codegen.compile_s"] = (ns - self._cg0[1]) / 1e9
        return out

    def memory(self) -> dict[str, float]:
        rt = self._runtime
        used = 0
        it = self._jsc.env().blockManager().master().getMemoryStatus().valuesIterator()
        while it.hasNext():
            max_remaining = it.next()
            used += max_remaining._1() - max_remaining._2()
        return dict(zip(MEMORY_KEYS, ((rt.totalMemory() - rt.freeMemory()) / MB, used / MB)))


def _proc_kb(pid: int, key: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return float(line.split()[1])
    return 0.0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_proc_kb(jvm_pid, "VmHWM") + py_kb) / 1024


def steal_s() -> float:
    """Cumulative CPU steal of the host, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def host_snapshot() -> dict[str, float]:
    with open("/proc/meminfo") as f:
        mem = {ln.split(":")[0]: float(ln.split()[1]) for ln in f}
    return {
        "host.loadavg_1m": os.getloadavg()[0],
        "host.mem_available_mb": mem.get("MemAvailable", 0.0) / 1024,
        "host.mem_total_mb": mem.get("MemTotal", 0.0) / 1024,
        "host.steal_total_s": steal_s(),
    }
