"""Benchmark-side telemetry: spans, process-tree sampling from /proc, and
the fold of a Spark event log into per-job-group task metrics."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGESIZE")


class Spans:
    """In-memory spans (name, start, end, parent); written out at the end.
    Disabled instances record nothing and cost one branch per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span whose bounds were taken outside a ``with`` block."""
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(
                {"id": len(self.spans), "name": name, "parent": parent, "start": start, "end": end}
            )

    def dur(self, s: dict) -> float:
        return s["end"] - s["start"]

    def self_time(self, s: dict) -> float:
        """Span duration minus the part its direct children cover (children
        are sequential: every layer call here is made from one thread)."""
        kids = [c for c in self.spans if c["parent"] == s["id"]]
        return self.dur(s) - sum(self.dur(c) for c in kids)

    def children(self, s: dict, prefix: str) -> list[dict]:
        return [c for c in self.spans if c["parent"] == s["id"] and c["name"].startswith(prefix)]

    def last(self, name: str) -> dict:
        return [s for s in self.spans if s["name"] == name][-1]

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            {
                "id": s["id"],
                "name": s["name"],
                "parent": s["parent"],
                "start_s": s["start"] - t0,
                "end_s": s["end"] - t0,
                "self_s": self.self_time(s),
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU of ``root`` and every live descendant, including what
    their reaped children used (the JVM, the Python daemon and its forked
    workers): differences between two reads are the tree's CPU in between."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_rss_bytes(root: int) -> int:
    """Summed resident set of every descendant of ``root``."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Background sampler of the RSS of a process tree while ``timed`` is
    active; ``run_peak`` is the peak of the latest timed block."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root, self.interval = root, interval
        self.run_peak = 0
        self.active = False
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active:
                self._sample()

    def _sample(self) -> None:
        rss = tree_rss_bytes(self.root)
        with self._lock:
            self.run_peak = max(self.run_peak, rss)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @contextmanager
    def timed(self):
        with self._lock:
            self.run_peak = 0
        self._sample()
        self.active = True
        try:
            yield
        finally:
            self.active = False
            self._sample()


def spin_mops(n: int = 400_000) -> float:
    """Single-core control: million loop iterations per second of a fixed
    pure-Python float loop. It moves only with the host, never the program."""
    x = 1.0
    t0 = time.perf_counter()
    for _ in range(n):
        x = x * 1.0000001 + 0.1
        x -= int(x)
    return n / (time.perf_counter() - t0) / 1e6


def fold_event_log(path: str) -> dict[str, dict]:
    """Task metrics of a Spark event log folded per job group.

    Returns {group: {jobs, tasks, jvm_cpu_s, shuffle_write_bytes,
    shuffle_read_bytes, spill_bytes, output_bytes, skew}}. Input bytes are
    left out: Spark's parquet scan reports ~80 B per row of them whatever
    the row's binary payload (125 KB for a 17 MB image corpus).
    ``skew`` is max/median task run time of the group's heaviest Spark
    stage (by summed task time), 1.0 for a single-task stage."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[int, list[dict]] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    jobs[g] = jobs.get(g, 0) + 1
                    for s in e["Stage IDs"]:
                        stage_group[s] = g
            elif ev == "SparkListenerTaskEnd" and "Task Metrics" in e:
                tasks.setdefault(e["Stage ID"], []).append(e["Task Metrics"])
    out: dict[str, dict] = {
        g: {
            "jobs": n,
            "tasks": 0,
            "jvm_cpu_s": 0.0,
            "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0,
            "spill_bytes": 0,
            "output_bytes": 0,
            "skew": 1.0,
            "_heaviest": -1.0,
        }
        for g, n in jobs.items()
    }
    for sid, ms in tasks.items():
        g = stage_group.get(sid)
        if g is None:
            continue
        o = out[g]
        o["tasks"] += len(ms)
        run = [m.get("Executor Run Time", 0) for m in ms]
        for m in ms:
            o["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            sr = m.get("Shuffle Read Metrics", {})
            o["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            o["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            o["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
        if sum(run) > o["_heaviest"]:
            o["_heaviest"] = sum(run)
            med = statistics.median(run)
            o["skew"] = max(run) / med if med > 0 else 1.0
    for o in out.values():
        del o["_heaviest"]
    return out
