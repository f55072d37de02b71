"""Readers for the per-layer counters, all taken from outside the engine.

* Spark scheduler and executor work comes from the driver's status store.
  Jobs launched from the engine's thread pools do not carry the caller's job
  group, so work is attributed by job-id and stage-id interval instead: ids
  are handed out in order, and everything between two readings of the
  scheduler's next id ran in between.
* Python-worker CPU is read from ``/proc`` for every descendant of the
  driver JVM (the pandas/Arrow worker daemon and its forked workers; exited
  workers are folded into their parent's ``cutime``/``cstime``).
* Peak RSS is ``VmHWM`` of the driver JVM plus this Python process.
"""

from __future__ import annotations

import os

MB = 1024.0 * 1024.0


class StatusStore:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
        self._dag = self._sc.dagScheduler()
        self._store = self._sc.statusStore()
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001

    def mark(self) -> tuple[int, int]:
        """(next job id, next stage id)."""
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def work(self, start: tuple[int, int], stop: tuple[int, int]) -> dict[str, float]:
        """Scheduler and executor totals of the jobs and stages that ran
        between two :meth:`mark` readings."""
        self._sc.listenerBus().waitUntilEmpty(10_000)
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "tasks_failed", "executor_run_s",
             "executor_cpu_s", "jvm_gc_s", "shuffle_read_mb",
             "shuffle_write_mb", "spill_mb"), 0.0)
        out["jobs"] = float(stop[0] - start[0])
        for sid in range(start[1], stop[1]):
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # a stage id that never ran (planned, skipped)
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["tasks_failed"] += st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["jvm_gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        return out

    def storage(self) -> dict[str, float]:
        """Persisted and checkpointed blocks currently held."""
        infos = self._sc.getRDDStorageInfo()
        return {
            "persisted_rdds": float(self._sc.getPersistentRDDs().size()),
            "mem_mb": sum(i.memSize() for i in infos) / MB,
            "disk_mb": sum(i.diskSize() for i in infos) / MB,
        }


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, utime+stime+cutime+cstime in seconds) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), ticks / os.sysconf("SC_CLK_TCK")


def worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by every descendant of the JVM."""
    parent: dict[int, int] = {}
    cpu: dict[int, float] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)], cpu[int(name)] = st
    total, frontier = 0.0, {jvm_pid}
    while frontier:
        kids = {p for p, pp in parent.items() if pp in frontier}
        total += sum(cpu[k] for k in kids)
        frontier = kids
    return total


def peak_rss_mb(*pids: int) -> float:
    total = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return total
