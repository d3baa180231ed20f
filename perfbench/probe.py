"""Measurement helpers: process-tree CPU and memory from /proc, host
diagnostics, Spark job-group counters and an in-memory span tracer.

Nothing here imports the program under test; every number is read from
the operating system, the JVM's management beans or Spark's status
tracker.
"""

from __future__ import annotations

import json
import os
import resource
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def process_start_wall() -> float:
    """Wall-clock instant this process started (from /proc, 10 ms ticks)."""
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return btime + int(fields[19]) / _TICK


def _stat(pid: int) -> tuple[int, str, float, float] | None:
    """(ppid, comm, own cpu s, reaped-children cpu s) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    fields = raw.rsplit(")", 1)[1].split()
    own = (int(fields[11]) + int(fields[12])) / _TICK
    children = (int(fields[13]) + int(fields[14])) / _TICK
    return int(fields[1]), comm, own, children


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for ln in f:
                if ln.startswith(key):
                    return int(ln.split()[1])
    except OSError:
        pass
    return 0


class ProcessTree:
    """This process, its JVM child and the JVM's Python workers.

    CPU of a worker that has exited is counted once its parent reaps it
    (the parent's ``cutime``), so sums over the live tree stay complete.
    A daemon thread samples worker RSS, whose peak /proc does not keep.
    """

    def __init__(self, interval: float = 0.25):
        self.me = os.getpid()
        self.interval = interval
        self.worker_rss_peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _tree(self) -> dict[int, tuple[int, str, float, float]]:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    procs[int(name)] = st
        keep, frontier = {}, [self.me]
        while frontier:
            pid = frontier.pop()
            keep[pid] = procs.get(pid) or (0, "?", 0.0, 0.0)
            frontier.extend(p for p, st in procs.items() if st[0] == pid)
        return keep

    def reap(self, timeout: float = 30.0) -> None:
        """Wait until every descendant has exited; kill what outlives the
        timeout."""
        import signal

        deadline = time.monotonic() + timeout
        while True:
            left = [p for p in self._tree() if p != self.me]
            if not left:
                return
            if time.monotonic() > deadline:
                for pid in left:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = float("inf")
            try:
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.1)

    def jvm_pid(self) -> int | None:
        tree = self._tree()
        return next((p for p, st in tree.items() if st[1] == "java"), None)

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds: driver, JVM, Python workers."""
        tree = self._tree()
        out = {"driver": tree[self.me][2], "jvm": 0.0, "pyworker": 0.0}
        for pid, (ppid, comm, own, children) in tree.items():
            if comm == "java":
                out["jvm"] += own
                out["pyworker"] += children  # reaped worker daemons
            elif pid != self.me and comm.startswith("python"):
                out["pyworker"] += own + children
        return out

    def _worker_rss_kb(self) -> int:
        return sum(
            _status_kb(pid, "VmRSS")
            for pid, st in self._tree().items()
            if pid != self.me and st[1].startswith("python")
        )

    def _sample(self) -> None:
        while not self._stop.wait(self.interval):
            self.worker_rss_peak_kb = max(self.worker_rss_peak_kb, self._worker_rss_kb())

    def start(self) -> None:
        self._thread = threading.Thread(target=self._sample, name="rss-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def peak_rss_mb(self) -> dict[str, float]:
        """Peak resident MB: driver ru_maxrss, JVM VmHWM, sampled peak of
        the workers."""
        jvm = self.jvm_pid()
        return {
            "driver": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
            "jvm": (_status_kb(jvm, "VmHWM") if jvm else 0) / 1024.0,
            "workers": self.worker_rss_peak_kb / 1024.0,
        }


def host_snapshot() -> dict:
    """load1 and the cumulative /proc/stat CPU counters (for steal share)."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"load1": os.getloadavg()[0], "cpu": cpu, "calib_ms": calibration_ms()}


def calibration_ms() -> float:
    """Wall milliseconds of a fixed pure-Python loop: a reading of host
    speed for the diagnostics (not a metric), so a shift in the figures can
    be told apart from a change in the program."""
    t0 = time.perf_counter()
    x = 0
    for i in range(300_000):
        x += i * i % 7
    return (time.perf_counter() - t0) * 1000.0


def steal_share(before: dict, after: dict) -> float:
    delta = [b - a for a, b in zip(before["cpu"], after["cpu"])]
    total = sum(delta[:8])  # user..steal; guest time is already in user
    return delta[7] / total if total else 0.0


def jvm_gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def jvm_max_heap_mb(spark) -> float:
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    return rt.maxMemory() / 2**20


class JobGroups:
    """Spark job groups per op phase, counted through the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.groups: list[tuple[str, str, int]] = []   # (group, phase, op id)

    def enter(self, phase: str, op_id: int) -> None:
        group = f"pb-{phase}-{op_id}"
        self.groups.append((group, phase, op_id))
        self.sc.setJobGroup(group, phase)

    def leave(self) -> None:
        self.sc.setJobGroup("pb-idle", "idle")

    def counts(self) -> tuple[dict[str, int], dict[int, dict[str, int]]]:
        """Totals ({phase}_jobs, stages, tasks, failed_tasks) and jobs per
        op and phase."""
        tracker = self.sc.statusTracker()
        totals = {"stages": 0, "tasks": 0, "failed_tasks": 0}
        per_op: dict[int, dict[str, int]] = {}
        for group, phase, op_id in self.groups:
            job_ids = tracker.getJobIdsForGroup(group)
            key = f"{phase}_jobs"
            totals[key] = totals.get(key, 0) + len(job_ids)
            per_op.setdefault(op_id, {})[key] = len(job_ids)
            for job_id in job_ids:
                job = tracker.getJobInfo(job_id)
                for stage_id in job.stageIds if job else []:
                    stage = tracker.getStageInfo(stage_id)
                    if stage is not None:
                        totals["stages"] += 1
                        totals["tasks"] += stage.numTasks
                        totals["failed_tasks"] += stage.numFailedTasks
        return totals, per_op


class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory.

    A disabled tracer records nothing, so the untraced run pays one
    attribute test per call.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int, int]] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, op_id: int = -1):
        if not self.enabled:
            yield
            return
        k0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, 0.0, 0.0, parent, op_id))
        self._stack.append(idx)
        t0 = time.perf_counter()
        self.bookkeeping_s += t0 - k0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans[idx] = (name, t0, t1, parent, op_id)
            self.bookkeeping_s += time.perf_counter() - t1

    def total(self, name: str) -> float:
        return sum(e - s for n, s, e, _, _ in self.spans if n == name)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        cols = ["name", "start", "end", "parent", "op_id"]
        with open(path, "w") as f:
            json.dump({"columns": cols, "spans": self.spans, **extra}, f)
