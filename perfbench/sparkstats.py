"""Readers for Spark's own counters and the driver's process state.

- ``group_stats`` sums the stage counters of every job in one job group,
  read from the application status store through
  ``statusStore().lastStageAttempt(stage_id)``.  That works with
  ``spark.ui.enabled=false``; the older ``stageList(null)`` overload is
  gone in Spark 4.
- ``clear_state`` counts, then drops, persisted RDDs and cached
  relations, so the next operation starts from the same state.
- ``ErrorLog`` counts driver ERROR lines in the log file the JVM writes.
- ``peak_rss_mb`` reads the peak resident memory of this process and of
  the JVM it launched from ``/proc``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, fields

from py4j.protocol import Py4JJavaError


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # (submission, completion) of each job, epoch seconds
    job_intervals: list[tuple[float, float]] = field(default_factory=list)

    def __iadd__(self, other: "GroupStats") -> "GroupStats":
        for f in fields(self):
            setattr(self, f.name,
                    getattr(self, f.name) + getattr(other, f.name))
        return self

    def covered_s(self) -> float:
        """Wall time covered by at least one job (union of intervals)."""
        total, end = 0.0, float("-inf")
        for a, b in sorted(self.job_intervals):
            if b > end:
                total += b - max(a, end)
                end = b
        return total


def _wait_for_listeners(sc) -> None:
    """Status-store updates arrive through the asynchronous listener bus;
    drain it so a job that just returned is fully recorded."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def _opt_epoch(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def group_stats(sc, group: str) -> GroupStats:
    _wait_for_listeners(sc)
    store = sc._jsc.sc().statusStore()
    out = GroupStats()
    for job_id in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        out.jobs += 1
        job = store.job(job_id)
        start, end = _opt_epoch(job.submissionTime()), _opt_epoch(
            job.completionTime())
        if start is not None and end is not None:
            out.job_intervals.append((start, end))
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            try:
                st = store.lastStageAttempt(stage_ids.apply(i))
            except Py4JJavaError:
                continue    # a stage whose output was reused never ran
            if str(st.status()) == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += st.numTasks()
            out.executor_run_s += st.executorRunTime() / 1e3
            out.executor_cpu_s += st.executorCpuTime() / 1e9
            out.shuffle_read_bytes += st.shuffleReadBytes()
            out.shuffle_write_bytes += st.shuffleWriteBytes()
            out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def persisted_rdds(sc) -> int:
    return sc._jsc.getPersistentRDDs().size()


def clear_state(spark) -> int:
    """Drop every cached relation and persisted RDD; return how many
    persisted RDDs there were before."""
    sc = spark.sparkContext
    left = persisted_rdds(sc)
    spark.catalog.clearCache()
    for rdd in list(sc._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    return left


class ErrorLog:
    """Counts ERROR lines appended to the driver's log file since the
    last call."""

    def __init__(self, path: str):
        self.path = path
        self.offset = 0

    def new_errors(self) -> int:
        if not os.path.exists(self.path):
            return 0
        with open(self.path, "rb") as f:
            f.seek(self.offset)
            chunk = f.read()
        self.offset += len(chunk)
        return sum(1 for line in chunk.splitlines() if b" ERROR " in line)


def log4j_config(log_path: str) -> str:
    """A log4j2 properties file that sends WARN and above to ``log_path``."""
    return "\n".join([
        "rootLogger.level = warn",
        "rootLogger.appenderRef.file.ref = file",
        "appender.file.type = File",
        "appender.file.name = file",
        f"appender.file.fileName = {log_path}",
        "appender.file.layout.type = PatternLayout",
        "appender.file.layout.pattern = %d{HH:mm:ss.SSS} %p %c{1}: %m%n",
        ""])


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this Python process plus the JVM."""
    kb = _vm_hwm_kb("self") + (_vm_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0


def _proc_times(pid: str) -> tuple[int, int, float]:
    """``(pid, parent pid, CPU seconds)`` from ``/proc/<pid>/stat``; the
    CPU seconds count user and system time, the process's own and that
    of its children it has waited for."""
    with open(f"/proc/{pid}/stat") as f:
        rest = f.read().rsplit(")", 1)[1].split()
    ticks = sum(int(x) for x in rest[11:15])
    return int(pid), int(rest[1]), ticks / os.sysconf("SC_CLK_TCK")


def cpu_seconds(jvm_pid: int | None) -> float:
    """CPU seconds used so far by this Python process and by the JVM with
    every process under it (PySpark's Python workers).  Unlike wall time,
    this leaves out the time the host gives the CPUs to other machines."""
    t = os.times()
    total = t.user + t.system
    if jvm_pid is None:
        return total
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                pid_, ppid, cpu = _proc_times(pid)
            except (OSError, IndexError, ValueError):
                continue    # the process ended while the table was read
            procs[pid_] = (ppid, cpu)
    tree = {jvm_pid}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _) in procs.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return total + sum(procs[p][1] for p in tree if p in procs)
