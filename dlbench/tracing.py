"""Spans around calls into engine layers, and process-tree probes.

Spans live in memory as ``{name, start, end, parent, batch_id}`` and are
written out once, when the run ends.  A layer's self time is its span's
duration minus the part of that interval its child spans cover (children
of one batch may overlap: the three dead-letter writes run concurrently).
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# bench.py's /proc accounting, used read-only
from bench import _machine_busy_sec, _tree_cpu_sec


@dataclass(frozen=True)
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    batch_id: str | None


class Tracer:
    """Records spans while ``enabled``; costs one attribute read when off."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, parent: str | None = None, batch_id: str | None = None):
        if not self.enabled:
            yield
            return
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            with self._lock:
                self.spans.append(Span(name, start, end, parent, batch_id))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self, name: str) -> list[float]:
        """Per span of ``name``: seconds not covered by its children."""
        children: dict[str | None, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent == name:
                children.setdefault(s.batch_id, []).append((s.start, s.end))
        return [
            (s.end - s.start) - covered(children.get(s.batch_id, []), s.start, s.end)
            for s in self.named(name)
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for start, end in sorted(intervals):
        start, end = max(start, reach), min(end, hi)
        if end > start:
            total += end - start
            reach = end
    return total


def _descendants() -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, frontier = [], list(children.get(os.getpid(), []))
    while frontier:
        pid = frontier.pop()
        out.append(pid)
        frontier.extend(children.get(pid, []))
    return out


def engine_peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this process's live
    descendants: the Spark JVM and anything it started.  This process is
    left out: it hosts the load generator and the checker, whose memory
    is the benchmark's, not the engine's."""
    total_kb = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def tree_cpu_s() -> float:
    cpu = _tree_cpu_sec()
    if cpu is None:
        raise RuntimeError("cannot read process-tree CPU time from /proc")
    return cpu


class Environment:
    """nproc, load average and hypervisor steal over one run."""

    def __init__(self) -> None:
        self.load_start = os.getloadavg()
        self.busy_start = _machine_busy_sec()

    def finish(self, spark_cores: int) -> dict:
        busy_end = _machine_busy_sec()
        steal_frac = None
        if self.busy_start is not None and busy_end is not None:
            busy = busy_end[0] - self.busy_start[0]
            steal = busy_end[1] - self.busy_start[1]
            steal_frac = round(steal / (busy + steal), 4) if busy + steal > 0 else 0.0
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "spark_cores": spark_cores,
            "load_avg_start": self.load_start,
            "load_avg_end": os.getloadavg(),
            "steal_frac": steal_frac,
        }
