"""Measurement helpers shared by the workloads: a span recorder, a peak-RSS
sampler over the benchmark's process tree, and order statistics."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import uuid
from collections import defaultdict


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100); 0.0 for no samples."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return float(s[k])


class Tracer:
    """Spans kept in memory and written once, at the end of the run.

    A span is (name, layer, start, end, parent). Every span of one run
    shares the run id. With ``enabled=False`` the context manager still
    times its block (the workloads need the durations) but records
    nothing, so the untraced run pays for two clock reads per span only.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, layer: str) -> "_Span":
        return _Span(self, name, layer)

    def _child_seconds(self) -> dict[int, float]:
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return child

    def self_times(self) -> dict[str, float]:
        """Seconds per layer not covered by the span's children."""
        child = self._child_seconds()
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["layer"]] += (s["end"] - s["start"]) - child[i]
        return dict(out)

    def coverage(self, layer: str) -> float:
        """Median share of a ``layer`` span's duration that its children
        account for (1.0: the children explain all of it)."""
        child = self._child_seconds()
        return median([
            child[i] / (s["end"] - s["start"])
            for i, s in enumerate(self.spans)
            if s["layer"] == layer and s["end"] > s["start"]
        ])

    def dump(self, path: str, extra: dict) -> None:
        doc = {
            "run_id": self.run_id,
            "spans": self.spans,
            "self_time_s_by_layer": self.self_times(),
            **extra,
        }
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer
        self.start = self.end = 0.0
        self.index: int | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def __enter__(self) -> "_Span":
        t = self.tracer
        if t.enabled:
            parent = t._stack[-1] if t._stack else None
            self.index = len(t.spans)
            t.spans.append(
                {"run_id": t.run_id, "name": self.name, "layer": self.layer,
                 "parent": parent, "start": 0.0, "end": 0.0}
            )
            t._stack.append(self.index)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.perf_counter()
        t = self.tracer
        if self.index is not None:
            t.spans[self.index].update(start=self.start, end=self.end)
            t._stack.pop()


def add_child_span(tracer: Tracer, parent: int, name: str, layer: str,
                   start: float, end: float) -> int:
    """Record a span whose times were measured elsewhere (the triggers of
    a stream and their phases, from Spark's progress events) under the
    span at index ``parent``; return the new span's index."""
    tracer.spans.append(
        {"run_id": tracer.run_id, "name": name, "layer": layer,
         "parent": parent, "start": start, "end": end}
    )
    return len(tracer.spans) - 1


class PeakRss:
    """Samples the resident memory of this process's descendants (the
    Spark driver JVM and its Python workers) from ``/proc`` every
    ``interval`` seconds; ``peak_mb`` is the maximum. The benchmark's own
    process is left out: its generator and result frames are not the
    engine's memory.

    Each process counts its proportional set size (``Pss`` in
    ``smaps_rollup``): a page shared by several processes is split among
    them. Plain RSS would count the JVM twice whenever it forks a helper
    process, which showed up as one-sample spikes of twice the heap."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.sample())
            self._stop.wait(self.interval)

    def sample(self) -> int:
        return sum(_pss_bytes(pid) for pid in _descendants(os.getpid()))


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended between listdir and open
        # the fields after the parenthesised command name: state ppid ...
        children[int(stat[stat.rfind(")") + 2:].split()[1])].append(int(entry))
    found, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, ()))
    return found


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # ended, or a kernel thread without a memory map
    return 0


class Outcome:
    """Operations attempted and failed in one run; a failure is an
    exception, a result that differs from the oracle, or a wrong pane."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(what[:500])
