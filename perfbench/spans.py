"""In-memory spans recorded around calls into the package's layers.

A span has a layer name, a start and end (epoch seconds), an id shared
by every span of one query or request, and its parent span. Spans are
kept in a list and read when the run ends. A layer's self time is the
sum of its spans' durations minus the parts covered by child spans.
With tracing off, ``span`` only runs the body.
"""

from __future__ import annotations

import contextlib
import itertools
import sys
import threading
import time
from dataclasses import dataclass

from eventlog import union_s


@dataclass
class Span:
    layer: str
    op_id: str
    start: float
    end: float
    parent: int | None
    index: int

    @property
    def duration(self) -> float:
        return self.end - self.start


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, with seconds since start."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()  # per-thread stack of open spans
        self._ids = itertools.count()
        self._lock = threading.Lock()  # a span's index is its place in spans

    def new_id(self, prefix: str) -> str:
        return f"{prefix}-{next(self._ids)}"

    @contextlib.contextmanager
    def span(self, layer: str, op_id: str = ""):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            s = Span(layer, op_id, time.time(), 0.0, stack[-1] if stack else None, len(self.spans))
            self.spans.append(s)
        stack.append(s.index)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.time()

    def durations(self, layer: str) -> list[float]:
        return [s.duration for s in self.spans if s.layer == layer]

    def self_times(self) -> dict[str, float]:
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_s([(c.start, c.end) for c in children.get(s.index, [])])
            out[s.layer] = out.get(s.layer, 0.0) + s.duration - covered
        return out


def pct(values, q: float) -> float:
    """The q-quantile (0..1) by linear interpolation."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
