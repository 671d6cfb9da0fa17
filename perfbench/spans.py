"""In-memory spans, layer self time, a /proc RSS sampler and the
percentile helpers the benchmark reports with.

Spans are recorded only when tracing is on; the untraced run keeps the
same call structure so the two differ by the recording alone.
"""

from __future__ import annotations

import json
import os
import threading
import time


class Tracer:
    """Spans with name, start, end, parent and run id, kept in memory
    and written out once at the end of the run."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "run": self.run_id, **attrs}
        )
        return len(self.spans) - 1

    def span(self, name: str, parent: int | None = None, **attrs):
        return _Span(self, name, parent, attrs)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name: duration minus the part of the
        interval its children cover (children clipped to the parent)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, parent: int | None, attrs: dict):
        self.tracer, self.name, self.parent, self.attrs = tracer, name, parent, attrs
        self.id: int | None = None

    def __enter__(self):
        self.start = time.monotonic()
        if self.tracer.enabled:
            # reserve the id now so children opened inside can name it
            self.id = self.tracer.add(self.name, self.start, self.start, self.parent, **self.attrs)
        return self

    def __exit__(self, *exc):
        self.end = time.monotonic()
        if self.id is not None:
            self.tracer.spans[self.id]["end"] = self.end
        return False


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def process_tree(root: int) -> list[int]:
    todo, seen = [root], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo += _children(p)
    return seen


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited between listing and reading
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Peak resident memory of this process tree (Python driver, JVM,
    Python workers), sampled from /proc on a background thread.  Each
    process counts its proportional share (Pss) of the pages it
    shares, so the forked Python workers' common pages count once and
    the sum is the tree's resident size.  ``exclude`` drops processes
    that are not the system under test (the trickle feeder).
    ``peak_parts`` splits the peak by process name: MiB and count."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.peak = 0
        self.peak_parts: dict[str, list] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        pids = [p for p in process_tree(os.getpid()) if p not in self.exclude]
        pss = {p: _pss_bytes(p) for p in pids}
        total = sum(pss.values())
        if total > self.peak:
            self.peak = total
            parts: dict[str, list] = {}
            for p, b in pss.items():
                part = parts.setdefault(_comm(p), [0.0, 0])
                part[0] += b / 2**20
                part[1] += 1
            self.peak_parts = {k: [round(mb, 1), n] for k, (mb, n) in parts.items()}

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self):
        self._sample()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
        return False


def median(xs) -> float:
    xs = sorted(xs)
    n = len(xs)
    if not n:
        return 0.0
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def tail(xs, beyond: int = 10) -> tuple[float, float]:
    """(value, percentile) at the highest percentile with at least
    ``beyond`` samples above it; with too few samples, the maximum."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    j = max(0, n - 1 - beyond)
    return xs[j], 100.0 * (j + 1) / n
