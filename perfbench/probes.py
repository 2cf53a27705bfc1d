"""Measurements taken from outside the engine: Spark's status store per
job group, and the resident memory of the PySpark Python workers.

Neither needs a change to the package. Job groups tag every Spark job a
block of calls starts; the status store (populated with the UI off)
then gives executor run time, CPU time and shuffle writes per stage.
Worker memory is sampled from ``/proc``.
"""

from __future__ import annotations

import os
import select
import subprocess
import sys
import time
from contextlib import contextmanager

_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20
# worker memory: resident sizes are read every POLL_S, the worker list
# is refreshed every SCAN_S
POLL_S = 0.02
SCAN_S = 0.25


class JobGroups:
    """Runs blocks of code under a fresh Spark job group each and
    sums the status-store metrics of every stage their jobs ran."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._bus = self._sc._jsc.sc().listenerBus()
        self._serial = 0

    @contextmanager
    def group(self, name: str):
        """Yield a dict that, on exit, holds the block's wall seconds and
        its jobs' stage totals (see :meth:`totals`)."""
        self._serial += 1
        group_id = f"perfbench.{self._serial}.{name}"
        out: dict = {}
        self._sc.setJobGroup(group_id, name)
        start = time.perf_counter()
        try:
            yield out
        finally:
            out["wall_s"] = time.perf_counter() - start
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        out.update(self.totals(group_id))

    def totals(self, group_id: str) -> dict:
        """Jobs, non-skipped stages and tasks, executor run and CPU
        seconds and shuffle-write bytes of one job group."""
        # the store is fed asynchronously by the listener bus
        self._bus.waitUntilEmpty()
        tracker = self._sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group_id))
        stage_ids: set[int] = set()
        for job_id in jobs:
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {
            "jobs": len(jobs),
            "stages": 0,
            "tasks": 0,
            "run_s": 0.0,
            "cpu_s": 0.0,
            "shuffle_write_bytes": 0,
        }
        for stage_id in sorted(stage_ids):
            data = self._store.lastStageAttempt(stage_id)
            if data.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += data.numCompleteTasks()
            out["run_s"] += data.executorRunTime() / 1e3
            out["cpu_s"] += data.executorCpuTime() / 1e9
            out["shuffle_write_bytes"] += data.shuffleWriteBytes()
        return out


class WorkerRss:
    """Peak resident set, in MB, of any PySpark Python worker descended
    from this process, while the ``with`` block runs.

    The sampling runs in a child process (this file run as a script), so
    it takes no share of the driver's GIL next to the calls it watches.
    Closing the child's stdin ends it; it then prints the peak.
    """

    def __init__(self):
        self.peak_mb = 0.0
        self._proc: subprocess.Popen | None = None

    def __enter__(self) -> "WorkerRss":
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(os.getpid())],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        return self

    def __exit__(self, *exc) -> None:
        out, _ = self._proc.communicate(timeout=10)
        self.peak_mb = float(out)


def sample(root: int) -> float:
    """Sample until stdin closes; return the peak worker resident MB.

    The worker list is refreshed every SCAN_S from a full ``/proc`` walk
    (a session may start more than one ``pyspark.daemon``); the resident
    size of the known workers is read every POLL_S."""
    peak = 0.0
    workers: list[int] = []
    next_scan = 0.0
    while True:
        now = time.monotonic()
        if now >= next_scan:
            workers = python_workers(root)
            next_scan = now + SCAN_S
        peak = max(peak, *(resident_mb(pid) for pid in workers), 0.0)
        if select.select([sys.stdin], [], [], POLL_S)[0]:
            return peak


def resident_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE_MB
    except (OSError, IndexError, ValueError):
        return 0.0  # the worker exited between scan and read


def python_workers(root: int) -> list[int]:
    """Pids of ``pyspark.daemon`` processes and the workers they fork,
    among the descendants of ``root``."""
    parents: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces or parentheses: split after it
        parents[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    found = []
    for pid in parents:
        ancestor = parents.get(pid)
        while ancestor is not None and ancestor != root:
            ancestor = parents.get(ancestor)
        if ancestor != root:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv = fh.read().split(b"\0")
        except OSError:
            continue
        if b"python" in os.path.basename(argv[0]) and b"pyspark.daemon" in argv:
            found.append(pid)
    return found


if __name__ == "__main__":
    print(sample(int(sys.argv[1])))
