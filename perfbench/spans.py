"""Tracing for the benchmark: in-memory spans, process RSS, Spark event log.

Spans are recorded from the benchmark's own files around each call into a
layer of the program; nothing inside the program is instrumented. Spans stay
in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Span recorder. Untraced runs time the same spans (the end-to-end
    metrics are read from them) but write no file."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()  # open spans of the calling thread

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
                   "start": time.perf_counter(), "end": None, **attrs}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: Path) -> None:
        if self.enabled:
            path.parent.mkdir(parents=True, exist_ok=True)
            with open(path, "w") as f:
                for s in self.spans:
                    f.write(json.dumps(s) + "\n")


# ---- process memory ---------------------------------------------------------

def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def peak_rss_mb(jvm_pid: int | None) -> float:
    """High-water RSS (VmHWM) of the JVM plus every process under it — the
    Python worker daemon and its workers. Each process's own peak is summed,
    so the figure bounds the simultaneous peak from above."""
    if jvm_pid is None:
        return 0.0
    pids = [jvm_pid, *descendants(jvm_pid)]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


# ---- Spark event log --------------------------------------------------------

def event_log_totals(log_dir: Path, t0_ms: float, t1_ms: float,
                     cores: int) -> dict[str, float]:
    """Task-metric totals over tasks launched in [t0_ms, t1_ms] (epoch ms)."""
    files = [p for p in log_dir.rglob("*") if p.is_file()]
    tot = {"tasks": 0, "cpu_s": 0.0, "gc_s": 0.0, "run_s": 0.0,
           "shuffle_write_bytes": 0, "spill_bytes": 0}
    for path in files:
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                launch = (ev.get("Task Info") or {}).get("Launch Time", 0)
                if not t0_ms <= launch <= t1_ms:
                    continue
                tm = ev.get("Task Metrics") or {}
                tot["tasks"] += 1
                tot["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                tot["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                tot["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                sw = tm.get("Shuffle Write Metrics") or {}
                tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                tot["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                       + tm.get("Disk Bytes Spilled", 0))
    wall_s = max((t1_ms - t0_ms) / 1e3, 1e-9)
    tot["busy_frac"] = tot["run_s"] / (wall_s * cores)
    return tot
