"""Metric math shared by every workload: percentiles, the open-loop
visibility mapping, spans with self time, and process CPU from /proc.

All but the /proc readers work on plain numbers, so that
``perfbench/selfcheck.py`` can check them on synthetic inputs.
"""

from __future__ import annotations

import bisect
import json
import math
import os
import statistics
import time
from dataclasses import dataclass, field

# A tail percentile is reported only when at least this many samples
# lie beyond it; with fewer, the value is one or two outliers.
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile ``p`` (0 < p < 100) that has at least
    MIN_BEYOND samples above its rank; raises ValueError otherwise."""
    if not 0 < p < 100:
        raise ValueError(f"percentile {p} outside (0, 100)")
    n = len(values)
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{p:g} of {n} samples leaves {n - rank} beyond it; "
            f"need {MIN_BEYOND}"
        )
    return float(sorted(values)[rank - 1])


def highest_percentile(n: int, candidates=(99.9, 99, 95, 90, 75, 50)) -> float | None:
    """The highest candidate percentile that ``n`` samples support."""
    for p in candidates:
        if n - max(1, math.ceil(p / 100.0 * n)) >= MIN_BEYOND:
            return p
    return None


def visible_times(progress: list[tuple[float, int]], seqs: list[int]) -> dict[int, float]:
    """Map each transaction ``seq`` to the time of the first progress
    event whose observed max ``seq`` covers it.

    ``progress`` holds (event time, observed max seq) pairs in any
    order. A seq no event covers is left out of the result; the caller
    counts it as failed."""
    events = sorted(progress)
    times, running = [], []
    best = -1
    for t, s in events:
        if s is None:
            continue
        if s > best:
            best = s
            times.append(t)
            running.append(s)
    out = {}
    for seq in seqs:
        i = bisect.bisect_left(running, seq)
        if i < len(running):
            out[seq] = times[i]
    return out


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    id: int = 0


@dataclass
class Tracer:
    """In-memory span recorder. Spans are kept in a list and written
    once, at exit; when disabled, ``span`` records nothing."""

    run: str
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str):
        return _SpanContext(self, name)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part of each span's
        interval that its children cover (overlapping children are
        merged first, so concurrent children are not counted twice)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = covered_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])]
            )
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name
        self.id = -1

    def __enter__(self):
        if self.tracer.enabled:
            parent = self.tracer._stack[-1] if self.tracer._stack else None
            self.id = len(self.tracer.spans)
            self.tracer.spans.append(
                Span(self.name, time.time(), 0.0, parent, self.tracer.run, self.id)
            )
            self.tracer._stack.append(self.id)
        return self

    def __exit__(self, *exc) -> None:
        if self.id >= 0:
            self.tracer.spans[self.id].end = time.time()
            self.tracer._stack.pop()


def covered_length(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime in seconds) from /proc."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK


def proc_cpu_s(pid: int) -> float:
    """utime+stime of one process (its threads included), seconds."""
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    fields = raw[raw.rindex(")") + 2 :].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live
    descendant, including the children each of them has already reaped.
    A child reaped between two readings moves from its own entry into
    its parent's, so differences of readings stay consistent."""
    root = os.getpid()
    parent_of, cpu = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                parent_of[int(name)], cpu[int(name)] = st
    total = 0.0
    for pid, c in cpu.items():
        p = pid
        while p and p != root:
            p = parent_of.get(p, 0)
        if p == root:
            total += c
    return total
