"""Read Spark's own counters from the driver JVM.

Every count here is taken from a monotone source, so the difference
across an operation is exact no matter how many jobs ran before it:

* jobs: ``DAGScheduler.numTotalJobs()`` (the next job id);
* stages: ``DAGScheduler.nextStageId()``;
* tasks, GC, input and shuffle bytes: the cumulative totals of
  ``statusStore().executorList(true)``.

Task run and CPU time are summed over the operation's stage ids (the
local driver-executor's ``totalDuration`` follows wall time, not task
time).

``statusStore().jobsList(...)`` is never used for counting: it is capped
at ``spark.ui.retainedJobs``, and once the cap is reached its length
stops tracking the number of jobs.  Per-job and per-stage records are
read only for ids inside the operation just finished, which are still
retained.
"""

from __future__ import annotations

import os
import resource

_TICK = os.sysconf("SC_CLK_TCK")


class SparkProbe:
    def __init__(self, spark):
        self._jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._dag = self._sc.dagScheduler()
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def jobs(self) -> int:
        return int(self._dag.numTotalJobs())

    def stages(self) -> int:
        return int(self._dag.nextStageId())

    def drain(self) -> None:
        """Wait until the status store has seen every event posted so
        far (it is fed asynchronously by the listener bus)."""
        self._sc.listenerBus().waitUntilEmpty()

    def executor_totals(self) -> dict:
        self.drain()
        execs = self._sc.statusStore().executorList(True)
        out = dict(tasks=0, gc_ms=0, input_bytes=0, shuffle_write=0)
        for i in range(execs.size()):
            e = execs.apply(i)
            out["tasks"] += int(e.totalTasks())
            out["gc_ms"] += int(e.totalGCTime())
            out["input_bytes"] += int(e.totalInputBytes())
            out["shuffle_write"] += int(e.totalShuffleWrite())
        return out

    def mark(self) -> dict:
        """Counter snapshot at an operation boundary."""
        return dict(jobs=self.jobs(), stages=self.stages(),
                    **self.executor_totals())

    def delta(self, start: dict, end: dict, t0: float, t1: float) -> dict:
        """Spark work between two marks taken at wall times t0 and t1."""
        store = self._sc.statusStore()
        intervals = []
        for job_id in range(start["jobs"], end["jobs"]):
            j = store.job(job_id)
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1000.0,
                                  done.get().getTime() / 1000.0))
        run_ms = cpu_ns = 0
        for stage_id in range(start["stages"], end["stages"]):
            try:
                stage = store.lastStageAttempt(stage_id)
            except Exception:  # skipped stages have no attempt record
                continue
            run_ms += int(stage.executorRunTime())
            cpu_ns += int(stage.executorCpuTime())
        busy = _union_length(intervals, t0, t1)
        return {
            "spark.jobs": end["jobs"] - start["jobs"],
            "spark.tasks": end["tasks"] - start["tasks"],
            "driver.only_s": max(0.0, (t1 - t0) - busy),
            "spark.executor_run_s": run_ms / 1e3,
            "spark.executor_cpu_s": cpu_ns / 1e9,
            "spark.gc_s": (end["gc_ms"] - start["gc_ms"]) / 1e3,
            "spark.shuffle_write_bytes":
                end["shuffle_write"] - start["shuffle_write"],
            "spark.input_bytes": end["input_bytes"] - start["input_bytes"],
        }

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the driver JVM and
        every process under the JVM (Python workers; exited ones count
        through their parent's cutime).  Unlike wall time it leaves out
        time the host gave the CPUs to other tenants."""
        parent, ticks = {}, {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            pid = int(entry)
            parent[pid] = int(fields[1])
            ticks[pid] = sum(int(x) for x in fields[11:15])
        tree, frontier = set(), {self.jvm_pid}
        while frontier:
            tree |= frontier
            frontier = {p for p, pp in parent.items()
                        if pp in frontier and p not in tree}
        own = os.times()
        return (sum(ticks.get(p, 0) for p in tree) / _TICK
                + own.user + own.system)

    def collect_garbage(self) -> None:
        """A full GC in the driver JVM, so the garbage a long operation
        leaves does not land on the short ones timed after it."""
        self._jvm.System.gc()

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver JVM plus this Python
        process (VmHWM and ru_maxrss, both high-water marks)."""
        jvm_kb = 0
        try:
            with open(f"/proc/{self.jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0


def _union_length(intervals, lo: float, hi: float) -> float:
    """Total length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
