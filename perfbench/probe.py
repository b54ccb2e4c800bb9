"""Measurement probes: the JVM process tree from /proc, Spark's in-process
status store, and in-memory spans.

- ``ProcTree`` sums CPU time and resident memory (PSS) over the driver JVM
  and every process below it (the Python worker daemon and its workers).
  CPU includes reaped children (``cutime``/``cstime``), so a worker that
  exits between two snapshots is still counted once.
- ``Engine`` reads jobs, stages and tasks of one job group from
  ``SparkContext.statusStore()``, which is live even with the UI off.
- ``Tracer`` records one span per step (name, start, end, parent, run id)
  and runs each step under its own job group.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> tuple[int, int]:
    """(ppid, CPU ticks of the process and its reaped children)."""
    with open(f"/proc/{pid}/stat", "rb") as f:
        data = f.read()
    rest = data[data.rindex(b")") + 2:].split()
    return int(rest[1]), sum(int(x) for x in rest[11:15])


def _rss(pid: int) -> int:
    with open(f"/proc/{pid}/statm", "rb") as f:
        return int(f.read().split()[1]) * PAGE


def _pss(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes (the forked Python workers) split among them, so the tree's
    sum counts each page once."""
    with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
        for line in f:
            if line.startswith(b"Pss:"):
                return int(line.split()[1]) * 1024
    return 0


class ProcTree:
    """CPU and resident memory of ``root_pid`` and its descendants. A
    background thread samples the memory every ``interval`` seconds;
    ``peak_reset()`` starts a new peak window."""

    def __init__(self, root_pid: int, interval: float = 0.5):
        self.root = root_pid
        self.interval = interval
        self._peak = 0
        self._workers: set[int] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def _walk(self) -> dict[int, int]:
        """pid -> CPU ticks for every live process in the tree."""
        parent, ticks = {}, {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    parent[int(name)], ticks[int(name)] = _stat(name)
                except (FileNotFoundError, ProcessLookupError, ValueError):
                    continue
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in ticks:
                out[pid] = ticks[pid]
                todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        return sum(self._walk().values()) / CLK_TCK

    def _is_worker(self, pid: int) -> bool:
        """A Python worker (or their daemon): a python executable running
        pyspark. A child the JVM has forked but not yet exec'd carries the
        JVM's command line, so it is asked again on the next sample."""
        if pid in self._workers:
            return True
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except (FileNotFoundError, ProcessLookupError):
            return False
        if b"python" in os.path.basename(argv[0]) and b"pyspark" in b" ".join(argv[1:]):
            self._workers.add(pid)
            return True
        return False

    def pss_bytes(self) -> int:
        """Resident memory of the JVM plus its Python workers. The JVM
        shares no pages with them, so its cheap RSS stands in for its PSS
        (walking a multi-GB JVM's page tables costs tens of milliseconds).
        Short-lived helpers the JVM forks are skipped: caught between fork
        and exec they would count the JVM's pages twice."""
        total = 0
        for pid in self._walk():
            try:
                if pid == self.root:
                    total += _rss(pid)
                elif self._is_worker(pid):
                    total += _pss(pid)
            except (FileNotFoundError, ProcessLookupError):
                continue
        return total

    def _sample(self) -> None:
        while not self._stop.wait(self.interval):
            pss = self.pss_bytes()
            with self._lock:
                self._peak = max(self._peak, pss)

    def peak_reset(self) -> int:
        """Peak PSS since the previous reset (bytes), and start a new window."""
        pss = self.pss_bytes()
        with self._lock:
            peak, self._peak = max(self._peak, pss), pss
        return peak

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Engine:
    """Settled per-job-group counters from Spark's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters

    def _seq(self, s) -> list:
        return list(self._conv.asJava(s))

    def _jobs(self, group: str) -> list:
        out = []
        for j in self._seq(self.store.jobsList(None)):
            g = j.jobGroup()
            if g.isDefined() and g.get() == group:
                out.append(j)
        return out

    def group(self, group: str, timeout: float = 10.0) -> dict:
        """Totals over the completed jobs and stages of one job group, read
        once the listener bus has delivered every job-end event (the store
        is fed asynchronously)."""
        deadline = time.time() + timeout
        prev = None
        while True:
            jobs = self._jobs(group)
            done = all(j.completionTime().isDefined() for j in jobs)
            key = (len(jobs), done)
            if (done and key == prev) or time.time() > deadline:
                break
            prev = key
            time.sleep(0.1)
        intervals, stage_ids = [], set()
        for j in jobs:
            if j.completionTime().isDefined():
                intervals.append((j.submissionTime().get().getTime() / 1000,
                                  j.completionTime().get().getTime() / 1000))
            stage_ids.update(self._seq(j.stageIds()))
        stages = []
        for sid in sorted(stage_ids):
            s = self.store.lastStageAttempt(sid)
            if s.status().toString() == "COMPLETE":
                stages.append(s)
        writer = max(stages, key=lambda s: s.outputBytes(), default=None)
        if writer is not None and not writer.outputBytes():
            writer = None
        busiest = max(stages, key=lambda s: s.executorRunTime(), default=None)
        return {
            "intervals": intervals,
            "stages": len(stages),
            "run_s": sum(s.executorRunTime() for s in stages) / 1000,
            "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in stages) / 1e6,
            "spill_mb": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages) / 1e6,
            "writer_tasks": writer.numTasks() if writer else 0,
            "writer_skew": self._skew(writer) if writer else 0.0,
            "busiest_skew": self._skew(busiest) if busiest else 0.0,
        }

    def _skew(self, stage) -> float:
        """max / mean task duration of one stage attempt."""
        tasks = self._seq(self.store.taskList(stage.stageId(), stage.attemptId(), 100_000))
        d = [t.duration().get() for t in tasks if t.duration().isDefined()]
        return max(d) / (sum(d) / len(d)) if d and sum(d) else 0.0


def busy_union(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Seconds of [start, end] covered by at least one interval."""
    covered, cur = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, end)
        if b > a:
            covered += b - a
            cur = b
    return covered


class Tracer:
    """Spans kept in memory; each step runs under its own job group."""

    def __init__(self, spark, tree: ProcTree, run_id: str):
        self.sc = spark.sparkContext
        self.tree = tree
        self.run_id = run_id
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        group = f"{self.run_id}/{len(self.spans)}/{name}"
        rec = {"name": name, "parent": parent, "run_id": self.run_id, "group": group}
        self.sc.setJobGroup(group, name)
        cpu0 = self.tree.cpu_s()
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["cpu_s"] = self.tree.cpu_s() - cpu0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f, indent=1)
