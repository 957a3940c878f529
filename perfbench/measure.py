"""Measurement helpers: process-tree RSS sampling and layer spans.

Spans are recorded by the benchmark around its own calls into the engine's
modules. A span that runs Spark jobs tags them with its own job group, and
the task time, task count, stage count and shuffle bytes of those jobs are
read back from Spark's status store once the traced loop has ended, so
the bookkeeping never lands inside a timed op.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_pids(root: int, exclude: frozenset[int] = frozenset()) -> list[int]:
    """``root`` and every live descendant, from one scan of /proc, leaving
    out the subtrees rooted at ``exclude``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int, exclude: frozenset[int] = frozenset()) -> int:
    total = 0
    for pid in tree_pids(root, exclude):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Peak RSS of this process and all its descendants (the JVM and the
    Python workers), sampled every ``interval`` seconds while active. The
    benchmark's own helper processes are passed in ``exclude``."""

    def __init__(self, exclude=(), interval: float = 1.0):
        self.exclude = frozenset(exclude)
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root, self.exclude))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid(), self.exclude))


class Tracer:
    """In-memory span recorder. Disabled, ``span`` only yields."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.phase = "setup"
        self._stack: list[int] = []
        self._n = 0

    @contextmanager
    def span(self, name: str, jobs: bool = True, **attrs):
        """Record ``name`` around the body. ``jobs=True`` tags the Spark jobs
        the body runs so their task metrics can be attributed to it."""
        if not self.enabled:
            yield {}
            return
        self._n += 1
        rec = {
            "id": self._n,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "phase": self.phase,
            **attrs,
        }
        sc = self.spark.sparkContext
        if jobs:
            rec["group"] = f"perfbench-span-{self._n}"
            sc.setJobGroup(rec["group"], name)
        self._stack.append(self._n)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if jobs:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def resolve_jobs(self, timeout: float = 10.0) -> None:
        """Fill jobs/stages/tasks/task_s/shuffle_bytes for every span that
        tagged its jobs. Waits for the listener bus to settle first."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        deadline = time.monotonic() + timeout
        for rec in self.spans:
            if "group" not in rec or "task_s" in rec:
                continue
            jids = tracker.getJobIdsForGroup(rec["group"])
            stage_ids: set[int] = set()
            for jid in jids:
                job = store.job(jid)
                while job.status().toString() == "RUNNING" and time.monotonic() < deadline:
                    time.sleep(0.02)
                    job = store.job(jid)
                it = job.stageIds().iterator()
                while it.hasNext():
                    stage_ids.add(int(it.next()))
            task_ms = tasks = stages = shuffle = 0
            for sid in stage_ids:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:
                    continue  # never attempted: a skipped, reused stage
                if st.status().toString() == "SKIPPED":
                    continue
                stages += 1
                tasks += int(st.numCompleteTasks())
                task_ms += int(st.executorRunTime())
                shuffle += int(st.shuffleWriteBytes())
            rec.update(
                jobs=len(jids), stages=stages, tasks=tasks, task_s=task_ms / 1000.0,
                shuffle_bytes=shuffle,
            )

    def named(self, name: str, **match) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and all(s.get(k) == v for k, v in match.items())
        ]

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def dir_bytes(path: str, since: float = 0.0) -> int:
    """Bytes of the files under ``path`` last written at or after ``since``
    (an epoch time; 0 counts every file)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            if st.st_mtime >= since:
                total += st.st_size
    return total
