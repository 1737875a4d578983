"""Tracing for the benchmark's traced run (``--trace 1``).

Three sources, all recorded from the benchmark's own files around calls
into the engine's public functions (no span lives inside the program):

- ``Tracer``: spans (name, start, end, parent, run id) kept in memory and
  written as JSON when the run ends, with self time per span;
- ``EventLog``: Spark's JSON event log, enabled through
  ``session.get_spark(extra=...)``; task metrics are summed per job
  description, which the benchmark sets before each materialization;
- ``RssSampler``: peak resident memory of the driver JVM plus every process
  below it (the Python worker daemon and its workers).
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """In-memory span recorder. Spans nest through a stack, so a span's
    parent is the span that was open when it started."""

    def __init__(self, run_id: str | None = None):
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its direct children cover."""
        out = {}
        for s in self.spans:
            kids = sorted((c["start"], c["end"]) for c in self.spans
                          if c["parent"] == s["id"] and c["end"] is not None)
            covered, cur0, cur1 = 0.0, None, None
            for a, b in kids:
                if cur1 is None or a > cur1:
                    if cur1 is not None:
                        covered += cur1 - cur0
                    cur0, cur1 = a, b
                else:
                    cur1 = max(cur1, b)
            if cur1 is not None:
                covered += cur1 - cur0
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: Path) -> None:
        selfs = self.self_times()
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(
            [{**s, "self_s": selfs[s["id"]]} for s in self.spans], indent=1))


class EventLog:
    """Task metrics from Spark's JSON event log, grouped by the job
    description that was set when the job started."""

    def __init__(self, log_dir: Path):
        self.tasks: list[dict] = []
        for f in sorted(log_dir.iterdir()):
            self._read(f)

    def _read(self, f: Path) -> None:
        stage_desc = {}
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    self.tasks.append({
                        "app": f.name, "stage": ev["Stage ID"],
                        "desc": stage_desc.get(ev["Stage ID"]),
                        "failed": bool(info.get("Failed")) or (
                            (ev.get("Task End Reason") or {}).get("Reason") != "Success"),
                        "wall_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "sw": sw.get("Shuffle Bytes Written", 0),
                        "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    })

    def select(self, desc: str) -> list[dict]:
        return [t for t in self.tasks if t["desc"] == desc]

    @staticmethod
    def totals(tasks: list[dict]) -> dict:
        return {
            "tasks": len(tasks),
            "tasks_failed": sum(t["failed"] for t in tasks),
            "run_s": sum(t["run_ms"] for t in tasks) / 1e3,
            "cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "spill_mb": sum(t["spill"] for t in tasks) / 1e6,
            "shuffle_write_mb": sum(t["sw"] for t in tasks) / 1e6,
            "shuffle_read_mb": sum(t["sr"] for t in tasks) / 1e6,
            "input_mb": sum(t["input"] for t in tasks) / 1e6,
        }

    @staticmethod
    def task_skew(tasks: list[dict]) -> float:
        """Slowest over median task wall in the stage with the most task
        time among ``tasks`` (the kernel stage of a raster pass)."""
        by_stage: dict[tuple, list[int]] = {}
        for t in tasks:
            by_stage.setdefault((t["app"], t["stage"]), []).append(t["wall_ms"])
        if not by_stage:
            return 0.0
        walls = max(by_stage.values(), key=sum)
        return max(walls) / max(1e-9, statistics.median(walls))


def _children(pid_root: int) -> list[int]:
    ppid = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [pid_root], [pid_root]
    while frontier:
        frontier = [p for p, pp in ppid.items() if pp in frontier]
        out += frontier
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(pid_root: int) -> tuple[int, int]:
    """(resident bytes of pid_root, resident bytes of every process below
    it), each process counted by PSS: forked Python workers and short-lived
    forks of the JVM share pages with their parent, and plain RSS would
    count those pages once per process."""
    root, rest = 0, 0
    for pid in _children(pid_root):
        try:
            rss = _pss_bytes(pid)
        except (OSError, IndexError, ValueError):
            continue
        if pid == pid_root:
            root = rss
        else:
            rest += rss
    return root, rest


class RssSampler:
    """Background sampler of the JVM process tree's RSS; sampling only
    while ``active`` is set, so the peak covers the timed passes alone."""

    def __init__(self, pid: int, interval: float = 0.2):
        self.pid, self.interval = pid, interval
        self.peak = self.peak_root = self.peak_rest = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active.is_set():
                root, rest = tree_rss_bytes(self.pid)
                self.peak = max(self.peak, root + rest)
                self.peak_root = max(self.peak_root, root)
                self.peak_rest = max(self.peak_rest, rest)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
