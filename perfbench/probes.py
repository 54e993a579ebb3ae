"""Measurements taken from outside the engine.

* ``/proc``: CPU run time and resident memory of this process tree
  (Python driver, the JVM it launches, the JVM's Python workers), the
  host's steal time and CPU pressure.
* Spark's status tracker: jobs, stages and tasks scheduled between two
  points, found by job id (so jobs started from streaming or broadcast
  threads count too), and the persisted RDDs the engine holds.

Nothing here reaches inside the engine's code; the engine runs
unmodified.
"""

from __future__ import annotations

import os

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def thread_cpu(pids: list[int]) -> dict[tuple[int, int], int]:
    """Run time in ns of every thread of ``pids``, keyed (pid, tid).

    Read from ``/proc/<pid>/task/<tid>/schedstat``: the scheduler's own
    run time, which leaves out time the hypervisor stole. The tick-based
    utime/stime of ``/proc/<pid>/stat`` charge part of it to the task
    (on this host the CPU per op read ~20% higher in runs with half the
    busy ticks stolen)."""
    out = {}
    for pid in pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/schedstat") as fh:
                    out[(pid, int(tid))] = int(fh.read().split()[0])
            except (OSError, ValueError, IndexError):
                pass
    return out


def cpu_seconds_between(before: dict, after: dict) -> float:
    """CPU seconds the threads alive at ``after`` ran since ``before``
    (threads started in between count in full). A thread that exited
    in between is missing from ``after``, so its last run time is lost
    rather than subtracted."""
    return sum(ns - before.get(k, 0) for k, ns in after.items()) / 1e9


def tree_peak_rss_mb(pids: list[int]) -> float:
    """Sum over ``pids`` of each process's peak resident set (VmHWM)."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def host_counters() -> tuple[int, int, float, int]:
    """(all CPU ticks, steal ticks, CPU pressure 'some' microseconds,
    idle + iowait ticks) for the whole host; differences of two
    readings give shares."""
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    stall = 0.0
    try:
        with open("/proc/pressure/cpu") as fh:
            for line in fh:
                if line.startswith("some"):
                    stall = float(line.rsplit("total=", 1)[1])
    except OSError:
        pass
    return sum(cpu[:8]), cpu[7], stall, cpu[3] + cpu[4]


def busy_steal_share(c0: tuple, c1: tuple) -> float:
    """Share of the host's non-idle CPU ticks the hypervisor stole
    between two ``host_counters()`` readings (0 when nothing ran)."""
    busy = (c1[0] - c1[3]) - (c0[0] - c0[3])
    return (c1[1] - c0[1]) / busy if busy > 0 else 0.0


def unstolen(seconds: float, c0: tuple, c1: tuple) -> float:
    """A wall interval with the host's stolen share taken out.

    On a shared host the hypervisor takes vCPUs away (steal). Across
    runs of this benchmark 0-35% of all host ticks were stolen, and
    wall time stretched by about 1 / (1 - the stolen share of busy
    ticks); a run's own work did not change (same ops, same job
    counts). Timing the unstolen part keeps a slow host from reading
    as a slow program."""
    return seconds * (1.0 - busy_steal_share(c0, c1))


class SparkCounts:
    """Jobs, stages and tasks the engine scheduled since ``mark()``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._jvm_sc = self.sc._jsc.sc()
        self._first = self._next_job_id()

    def _next_job_id(self) -> int:
        # py4j hands the scheduler's AtomicInteger over as a number
        return int(self._jvm_sc.dagScheduler().nextJobId())

    def mark(self) -> None:
        self._first = self._next_job_id()

    def counts(self) -> tuple[int, int, int]:
        """(jobs, stages run, tasks completed) since the last mark.
        Stages Spark skipped because their shuffle output already
        existed report no completed task and are not counted."""
        jobs = range(self._first, self._next_job_id())
        stages = tasks = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return len(jobs), stages, tasks

    def persisted(self) -> tuple[int, float]:
        """(persisted RDDs, their stored MB in memory and on disk)."""
        n = self.sc._jsc.getPersistentRDDs().size()
        size = sum(
            info.memSize() + info.diskSize()
            for info in self._jvm_sc.getRDDStorageInfo()
        )
        return int(n), size / 1e6
