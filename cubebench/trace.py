"""Span and counter recorder for the traced benchmark run, plus the
probes that read counts from Spark and from the output directories.

Spans are recorded from the benchmark's own code, around each call into
a layer of the program; nothing inside the program is instrumented.
Every span has an id, a parent (the enclosing span on the same thread),
the id of the operation it belongs to, and start/end times. Spans stay
in memory until the run ends.
"""

from __future__ import annotations

import itertools
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records spans and counters when ``enabled``; otherwise every call
    is a no-op, so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        """Time the block as span ``name``. A span opened with no
        enclosing span starts a new operation."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        rec = {"id": sid, "name": name,
               "parent": parent["id"] if parent else None,
               "op": parent["op"] if parent else sid,
               "start": time.perf_counter(), "end": None}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def count(self, name: str, value: float, span: dict | None = None) -> None:
        """Record a count at the current span (or ``span``)."""
        if not self.enabled:
            return
        stack = self._stack()
        at = span or (stack[-1] if stack else None)
        with self._lock:
            self.counts.append({"name": name, "value": value,
                                "span": at["id"] if at else None,
                                "op": at["op"] if at else None})

    def ops(self, root: str) -> list[int]:
        """Ids of the operations whose root span is named ``root``."""
        return [s["id"] for s in self.spans
                if s["parent"] is None and s["name"] == root]

    def dump(self) -> dict:
        return {"spans": sorted(self.spans, key=lambda s: s["id"]),
                "counts": self.counts}


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> its duration minus the part its child spans cover.
    Children are clipped to the parent's interval."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        a, b = s["start"], s["end"]
        inner = [(max(a, c["start"]), min(b, c["end"])) for c in kids[s["id"]]
                 if c["end"] > a and c["start"] < b]
        out[s["id"]] = (b - a) - _covered(inner)
    return out


def layer_table(tracer: Tracer, root: str) -> dict[str, dict]:
    """Per layer (span name): median over operations of the per-op
    self time, with the per-op values; and per counter: median over
    operations of the per-op sum. Operations are root spans named
    ``root``."""
    ops = tracer.ops(root)
    opset = set(ops)
    own = self_times(tracer.spans)
    per_op: dict[str, dict[int, float]] = defaultdict(lambda: dict.fromkeys(ops, 0.0))
    for s in tracer.spans:
        if s["op"] in opset:
            per_op[s["name"]][s["op"]] += own[s["id"]]
    counts: dict[str, dict[int, float]] = defaultdict(lambda: dict.fromkeys(ops, 0.0))
    for c in tracer.counts:
        if c["op"] in opset:
            counts[c["name"]][c["op"]] += c["value"]
    table = {}
    for name, vals in per_op.items():
        v = list(vals.values())
        table[name] = {"self_s": statistics.median(v) if v else 0.0, "per_op": v}
    for name, vals in counts.items():
        v = list(vals.values())
        table.setdefault(name, {})["count"] = statistics.median(v) if v else 0.0
    return table


# -- probes ------------------------------------------------------------------

def tree_stats(root: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``root`` whose names end in ``suffix``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def snapshot(root: str) -> dict[str, tuple[int, int, int]]:
    """path -> (inode, size, mtime_ns) for every file under ``root``."""
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            st = os.stat(p)
            out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, root: str) -> tuple[int, int]:
    """(files, bytes) created or rewritten under ``root`` since the
    ``before`` snapshot."""
    files = size = 0
    for p, sig in snapshot(root).items():
        if before.get(p) != sig:
            files += 1
            size += sig[1]
    return files, size


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class SparkCounters:
    """Jobs and completed tasks launched inside a block, read from
    ``sparkContext.statusTracker()`` through a per-block job group
    (thread-local, so concurrent clients do not mix)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._seq = itertools.count(1)

    @contextmanager
    def group(self):
        gid = f"cubebench-{next(self._seq)}"
        got = {"jobs": 0, "tasks": 0}
        self.sc.setJobGroup(gid, gid)
        try:
            yield got
        finally:
            st = self.sc.statusTracker()
            jobs = st.getJobIdsForGroup(gid)
            got["jobs"] = len(jobs)
            for j in jobs:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    si = st.getStageInfo(s)
                    got["tasks"] += si.numCompletedTasks if si else 0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
