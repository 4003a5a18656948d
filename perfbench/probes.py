"""Outside-in probes: process CPU and memory from /proc, Spark job counts
from the public StatusTracker, and timing wrappers around the public
functions of the engine's layers. Nothing here changes program code: the
wrappers replace module attributes while a traced pass runs and put the
originals back afterwards.
"""

from __future__ import annotations

import os
import sys
import threading
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")
# HotSpot's compiler threads, "C1/C2 CompilerThreadN" cut to 15 characters
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(pid: int | str) -> tuple[str, int, list[int]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[1] = ppid; [11..14] = utime stime cutime cstime
    return comm, int(fields[1]), [int(x) for x in fields[11:15]]


class ProcTree:
    """CPU seconds and peak RSS of ``root`` and its descendants, split
    into the driver (``root`` itself), the JVM, the JVM's JIT compiler
    threads (CPU only) and the Python workers (every other descendant,
    plus what the JVM reaped from them)."""

    def __init__(self, root: int):
        self.root = root
        self._jit_tids: dict[int, list[str]] = {}

    def _members(self) -> dict[int, tuple[str, list[int]]]:
        procs, kids = {}, defaultdict(list)
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st:
                    procs[int(name)] = (st[0], st[2])
                    kids[st[1]].append(int(name))
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in procs:
                out[pid] = procs[pid]
                todo.extend(kids.get(pid, ()))
        return out

    def _jit_ticks(self, pid: int) -> int:
        """CPU ticks of the JVM's JIT compiler threads. run.py starts the
        JVM with a fixed set of them, so their ids are looked up once."""
        if pid not in self._jit_tids:
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                return 0
            self._jit_tids[pid] = [
                t for t in tids
                if (st := _stat(f"{pid}/task/{t}")) and st[0].startswith(JIT_THREADS)]
        ticks = 0
        for tid in self._jit_tids[pid]:
            if st := _stat(f"{pid}/task/{tid}"):
                ticks += st[2][0] + st[2][1]
        return ticks

    def cpu(self) -> dict[str, float]:
        split = {"driver": 0.0, "jvm": 0.0, "jit": 0.0, "pyworker": 0.0}
        for pid, (comm, (ut, st, cut, cst)) in self._members().items():
            if pid == self.root:
                split["driver"] += (ut + st) / _TICK
            elif comm == "java":
                jit = self._jit_ticks(pid)
                split["jvm"] += (ut + st - jit) / _TICK
                split["jit"] += jit / _TICK
                split["pyworker"] += (cut + cst) / _TICK
            else:
                split["pyworker"] += (ut + st + cut + cst) / _TICK
        return split

    def rss_parts(self) -> dict[str, float]:
        """Current resident sets (VmRSS) of the members in MB, by kind."""
        split = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for pid, (comm, _) in self._members().items():
            kind = ("driver" if pid == self.root
                    else "jvm" if comm == "java" else "pyworker")
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            split[kind] += int(line.split()[1]) / 1024
            except OSError:
                pass
        return split

    def rss_mb(self) -> float:
        """Sum of the members' current resident sets."""
        return sum(self.rss_parts().values())


class PeakRss:
    """Highest ``ProcTree.rss_mb`` seen while the ``with`` block runs,
    sampled every ``interval`` seconds from a background thread."""

    def __init__(self, tree: ProcTree, interval: float = 0.2):
        self.tree, self.interval = tree, interval
        self.peak = 0.0
        self.parts: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        parts = self.tree.rss_parts()
        if sum(parts.values()) > self.peak:
            self.peak, self.parts = sum(parts.values()), parts

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def cpu_delta(*marks: dict[str, float]) -> dict[str, float]:
    """CPU spent inside the intervals (marks[0], marks[1]), (marks[2],
    marks[3]), ..., by process kind."""
    return {k: sum(b[k] - a[k] for a, b in zip(marks[::2], marks[1::2]))
            for k in marks[0]}


class SparkCounter:
    """Jobs, stages and tasks run since the last ``take()``.

    Job and stage ids are sequential per SparkContext, so probing ids
    upward from a watermark finds every job, whichever thread or job group
    (streaming micro-batches included) started it. Listener events arrive
    asynchronously, so ``take`` waits until the new jobs are finished and
    their stages hold no running task."""

    def __init__(self, sc):
        self.st = sc.statusTracker()
        self.next_job = 0
        self.min_stage = 0
        self.take()

    def _new_jobs(self) -> list:
        jobs = []
        while (info := self.st.getJobInfo(self.next_job + len(jobs))) is not None:
            jobs.append(info)
        return jobs

    def take(self, timeout: float = 10.0) -> dict[str, int]:
        deadline = time.monotonic() + timeout
        jobs, prev = [], -1
        while True:
            jobs = self._new_jobs()
            stages = {}
            for sid in sorted({s for j in jobs for s in j.stageIds}):
                if sid >= self.min_stage:
                    info = self.st.getStageInfo(sid)
                    if info is not None:
                        stages[sid] = info
            settled = (all(j.status in ("SUCCEEDED", "FAILED") for j in jobs)
                       and all(s.numActiveTasks == 0 for s in stages.values()))
            if (settled and len(jobs) == prev) or time.monotonic() > deadline:
                break
            prev = len(jobs) if settled else -1
            time.sleep(0.02)
        self.next_job += len(jobs)
        if stages:
            self.min_stage = max(stages) + 1
        ran = [s for s in stages.values() if s.numCompletedTasks + s.numFailedTasks]
        return {"jobs": len(jobs), "stages": len(ran),
                "tasks": sum(s.numCompletedTasks + s.numFailedTasks for s in ran),
                "failed_tasks": sum(s.numFailedTasks for s in ran)}


class Layers:
    """Per-op counters and busy seconds of the wrapped layer functions."""

    PACKAGE = "tf_prisma_api_data_ingestion_spark"

    def __init__(self):
        self.acc: dict[str, float] = defaultdict(float)
        self._saved: list[tuple[object, str, object]] = []

    def reset(self) -> dict[str, float]:
        out, self.acc = dict(self.acc), defaultdict(float)
        return out

    def _timed(self, fn, name: str):
        acc = self

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                acc.acc[name + "_s"] += time.perf_counter() - t0
                acc.acc[name + "_calls"] += 1
        wrapper.__wrapped__ = fn
        return wrapper

    def _swap(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Wrap ``tables.load`` and ``cache.tracked_persist`` wherever the
        package bound them, and ``sinks.StagedRun.stage/publish``."""
        from tf_prisma_api_data_ingestion_spark import cache, sinks, tables
        for fn, name in ((tables.load, "tables.load"),
                         (cache.tracked_persist, "cache.persist")):
            wrapped = self._timed(fn, name)
            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "").startswith(self.PACKAGE)
                        and getattr(mod, fn.__name__, None) is fn):
                    self._swap(mod, fn.__name__, wrapped)
        for meth in ("stage", "publish"):
            self._swap(sinks.StagedRun, meth,
                       self._timed(getattr(sinks.StagedRun, meth), f"sinks.{meth}"))

    def restore(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)
