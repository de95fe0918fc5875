"""Span recorder, Spark job/stage/task counting, and the memory sampler.

Spans are recorded from the benchmark's own code around calls into the
engine's layers; nothing inside ``pisa_spark`` is instrumented. Each
span keeps name, start, end, parent and query id in memory and is
written out when the run ends. A span opened with ``jobs=True`` runs
its Spark work under its own job group, so the jobs, stages and task
attempts it launched are read back from ``statusTracker()`` after it
closes. A disabled recorder does nothing, so untraced runs pay no cost.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.overhead_s = 0.0  # time spent inside the recorder itself
        self.failed_tasks = 0

    @contextlib.contextmanager
    def span(self, name: str, qid: int | None = None, jobs: bool = False):
        """Record ``name`` around the ``with`` body. ``jobs=True`` also
        counts the Spark jobs, tasks and failed task attempts the body
        launched (nested spans' work included)."""
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "qid": qid if qid is not None else (parent or {}).get("qid"),
            "group": f"pb-{len(self.spans)}" if jobs else None,
            "jobs": 0,
            "tasks": 0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if jobs:
            self.sc.setJobGroup(rec["group"], name)
        self.overhead_s += time.perf_counter() - t_in
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if jobs:
                self._count_jobs(rec)
                enclosing = next(
                    (s for s in reversed(self._stack) if s["group"]), None
                )
                if enclosing:
                    enclosing["jobs"] += rec["jobs"]
                    enclosing["tasks"] += rec["tasks"]
                    self.sc.setJobGroup(enclosing["group"], enclosing["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - rec["end"]

    def _count_jobs(self, rec: dict) -> None:
        """Read the group's jobs back once the listener bus has caught
        up (jobs finish before their events are processed)."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # private hook; fall back to a short settle
            time.sleep(0.05)
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(rec["group"]):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            rec["jobs"] += 1
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is not None:
                    rec["tasks"] += s.numCompletedTasks + s.numFailedTasks
                    self.failed_tasks += s.numFailedTasks

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def self_times(self) -> dict[str, tuple[int, float, float]]:
        """name -> (count, total s, self s): self time is the span's
        duration minus the time its direct children cover."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + self.duration(s)
        out: dict[str, list] = {}
        for s in self.spans:
            if "end" not in s:
                continue
            d = self.duration(s)
            acc = out.setdefault(s["name"], [0, 0.0, 0.0])
            acc[0] += 1
            acc[1] += d
            acc[2] += d - child_s.get(s["id"], 0.0)
        return {k: tuple(v) for k, v in out.items()}

    def write(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in self.spans:
                row = {k: v for k, v in s.items() if k != "group"}
                row["start"] = round(s["start"] - t0, 6)
                row["end"] = round(s.get("end", s["start"]) - t0, 6)
                f.write(json.dumps(row) + "\n")


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    children = _children_map()
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants (driver
    Python, the JVM it launched, and the JVM's Python workers), summed
    as PSS: the Python workers are forked from one daemon and share most
    of their pages, which a plain RSS sum would count once per worker."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """The one extra thread: samples the process tree's RSS every
    ``interval`` seconds and keeps the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
