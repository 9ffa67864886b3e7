"""Observation helpers: spans, per-job-group Spark metrics, cache and RSS.

Everything here reads the engine from the outside: job groups set around
calls into the package's public functions, the status store that the
SparkContext keeps even with the UI disabled, and ``/proc``.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time

from py4j.protocol import Py4JJavaError


class Tracer:
    """In-memory spans: (name, start, end, parent, pass id).

    A disabled tracer keeps no spans and sets no job groups, so an untraced
    run pays nothing for it.
    """

    def __init__(self, spark, enabled: bool, t0: float):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.t0 = t0
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.pass_id: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.record(name, start, time.perf_counter())

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished span under the innermost open one."""
        if self.enabled:
            self.spans.append({
                "name": name,
                "start": start - self.t0,
                "end": end - self.t0,
                "parent": self._stack[-1] if self._stack else None,
                "pass": self.pass_id,
            })

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def group(self, gid: str) -> None:
        if self.enabled:
            self.sc.setJobGroup(gid, gid, False)

    def totals(self, pass_id: int) -> dict[str, float]:
        """Summed span seconds per name for one pass."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["pass"] == pass_id:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out


def group_metrics(sc, gid: str) -> dict[str, float]:
    """Jobs, stages, tasks and stage-attempt metrics of one job group."""
    jsc = sc._jsc.sc()
    # job-end events reach the status store through the async listener bus
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    job_ids = tracker.getJobIdsForGroup(gid)
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    m = dict.fromkeys(
        ("jobs", "stages", "tasks", "failed_tasks", "task_s", "gc_s",
         "shuffle_write_mb", "shuffle_read_mb", "spill_mb"), 0.0)
    m["jobs"] = float(len(job_ids))
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # no attempt of a skipped stage
            continue
        if st.status().toString() not in ("COMPLETE", "FAILED"):
            continue
        m["stages"] += 1
        m["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        m["failed_tasks"] += st.numFailedTasks()
        m["task_s"] += st.executorRunTime() / 1e3
        m["gc_s"] += st.jvmGcTime() / 1e3
        m["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        m["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
        m["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
    return m


def cached(sc) -> tuple[int, float]:
    """(persistent RDD count, MB held in memory and on disk)."""
    n = sc._jsc.getPersistentRDDs().size()
    mb = sum(
        (info.memSize() + info.diskSize()) / 2**20
        for info in sc._jsc.sc().getRDDStorageInfo()
    )
    return n, mb


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of every CPU since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak RSS (VmHWM) of this process, its JVM and the Python workers.

    VmHWM is a per-process high-water mark, so sampling keeps the peak of
    workers that exit before the end; the result is the sum over every
    process seen.
    """

    def __init__(self, period_s: float = 0.5):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_kb: dict[int, int] = {}
        self.names: dict[int, str] = {}
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        me = os.getpid()
        for pid in [me, *descendants(me)]:
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    name = fh.read().strip()
            except OSError:
                continue
            # this process, the JVM and the Python workers; not the short-lived
            # children the JVM forks (chmod, jspawnhelper), whose high-water
            # mark starts at the JVM's resident size
            if pid != me and name != "java" and not name.startswith("python"):
                continue
            kb = _hwm_kb(pid)
            if kb > self.peak_kb.get(pid, 0):
                self.peak_kb[pid] = kb
                self.names[pid] = name

    def run(self) -> None:
        while not self._stop_evt.wait(self.period_s):
            self.sample()

    def stop(self) -> float:
        """Stop sampling; return the summed peak in MB."""
        self._stop_evt.set()
        self.join()
        self.sample()
        return sum(self.peak_kb.values()) / 1024.0

    def by_name(self) -> dict[str, float]:
        """Summed peak MB and process count per executable name."""
        out: dict[str, float] = {}
        for pid, kb in self.peak_kb.items():
            name = self.names.get(pid, "?")
            out[name] = out.get(name, 0.0) + kb / 1024.0
            out[f"{name}.n"] = out.get(f"{name}.n", 0) + 1
        return out
