"""Spans, Spark job counts, host-health controls and process memory.

Spans are taken from outside the program, around each call the
benchmark makes into a layer's public function. They are kept in memory
and written into the run artifact when the run ends.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import statistics
import time

import numpy as np


class Tracer:
    """Records spans (name, layer, start, end, parent, query id) when
    enabled; when disabled a span costs one branch and records nothing.

    ``sc`` puts the span's Spark jobs under a job group of their own
    and records how many jobs ran in it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.qid: int | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, sc=None, layer: str | None = None, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {"name": name, "layer": layer or name.split(".")[0],
               "parent": self._stack[-1] if self._stack else None,
               "qid": self.qid, **attrs}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        group = f"perfbench-{len(self.spans)}"
        if sc is not None:
            sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
                sc.setLocalProperty("spark.jobGroup.id", None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def values(self, name: str, key: str) -> list:
        return [s[key] for s in self.spans if s["name"] == name and key in s]

    def self_times(self) -> dict[str, float]:
        """Seconds per layer, each span minus the part its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["layer"]] = out.get(s["layer"], 0.0) + s["end"] - s["start"] - c
        return out


def median(xs) -> float:
    xs = list(xs)
    if not xs:
        raise ValueError("no samples")
    return float(statistics.median(xs))


def summary(samples: list[float]) -> dict:
    """Median, plus the highest percentile that has at least ten samples
    beyond it, with the sample count."""
    out = {"n": len(samples), "p50": median(samples)}
    if len(samples) > 20:
        p = int(100 * (1 - 10 / len(samples)))
        out[f"p{p}"] = float(np.percentile(samples, p))
    return out


def jvm_gc_seconds(sc) -> float:
    """Cumulative GC time of the driver JVM (all collectors). In local
    mode the executors run in the same JVM."""
    beans = sc._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def cpu_control(seconds: float = 0.25) -> float:
    """Single-thread CPU control: MiB/s of md5 over a 1 MiB block."""
    blk = b"\xa5" * (1 << 20)
    h = hashlib.md5()
    t0 = time.perf_counter()
    h.update(blk)
    iters = max(16, int(seconds / max(time.perf_counter() - t0, 1e-6)))
    t0 = time.perf_counter()
    for _ in range(iters):
        h.update(blk)
    return iters / (time.perf_counter() - t0)


def mem_control(mib: int = 128, reps: int = 4) -> float:
    """Single-thread DRAM-stream control: GB/s summing a float64 array."""
    a = np.ones((mib << 20) // 8)
    a.sum()
    t0 = time.perf_counter()
    for _ in range(reps):
        a.sum()
    return reps * a.nbytes / max(time.perf_counter() - t0, 1e-9) / 1e9


def host_health() -> dict:
    return {"cpu_control_mibs": round(cpu_control(), 1),
            "mem_control_gbs": round(mem_control(), 2)}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
