"""Op timing and in-memory spans for the benchmark.

Every workload times its operations through one :class:`Tracer`. With
tracing off it records only the kind, wall seconds and CPU seconds of
each operation, which is what the end-to-end metrics need. With tracing on it also records a
span (name, start, end, parent, run id) around each call into a layer
of the package, keeps the spans in a list and writes them out once, at
exit. The time the tracer spends on its own bookkeeping is summed, so a
traced run can report its overhead against an untraced one.

A span name is ``<layer>.<call>``; the layer is the part before the
first dot. A span's self time is its duration minus the time its child
spans cover (children run one after another on the one client thread).
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

clock = time.perf_counter


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


@dataclass
class Op:
    kind: str
    seconds: float
    rows: int = 0
    cpu_s: float = 0.0


@dataclass
class Tracer:
    enabled: bool
    run_id: str
    cpu_clock: Callable[[], float] = lambda: 0.0
    spans: list[Span] = field(default_factory=list)
    ops: list[Op] = field(default_factory=list)
    bookkeeping_s: float = 0.0
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        """Record a span around the block when tracing is on."""
        if not self.enabled:
            yield
            return
        t0 = clock()
        idx = len(self.spans)
        self.spans.append(Span(name, 0.0, 0.0, self._stack[-1] if self._stack else None, self.run_id))
        self._stack.append(idx)
        start = clock()
        try:
            yield
        finally:
            end = clock()
            self._stack.pop()
            sp = self.spans[idx]
            sp.start, sp.end = start, end
            self.bookkeeping_s += (start - t0) + (clock() - end)

    @contextmanager
    def op(self, kind: str):
        """Time one operation of the workload (always) and trace it as
        a ``bench.<kind>`` span (when tracing is on). The block may set
        ``rows`` on the yielded :class:`Op`."""
        rec = Op(kind, 0.0)
        with self.span(f"bench.{kind}"):
            c0, t0 = self.cpu_clock(), clock()
            try:
                yield rec
            finally:
                rec.seconds = clock() - t0
                rec.cpu_s = self.cpu_clock() - c0
        self.ops.append(rec)

    @contextmanager
    def paused(self):
        """Record no spans in the block (the untimed warm-up)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as span ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def patched(self, module, attr: str, name: str):
        """Replace ``module.attr`` by a traced wrapper for the block, so
        calls the package makes internally are timed from outside."""
        if not self.enabled:
            yield
            return
        original = getattr(module, attr)
        setattr(module, attr, self.wrap(name, original))
        try:
            yield
        finally:
            setattr(module, attr, original)

    # --- reading the record -------------------------------------------------

    def durations_ms(self, name: str) -> list[float]:
        return [(s.end - s.start) * 1e3 for s in self.spans if s.name == name]

    def self_ms_by_layer(self) -> dict[str, float]:
        child_s = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_s[s.parent] += s.end - s.start
        out = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name.split(".", 1)[0]] += (s.end - s.start - child_s[i]) * 1e3
        return dict(out)

    def overhead_ratio(self) -> float:
        """Traced op time over the same time minus the tracer's own
        bookkeeping: the factor by which tracing slowed the ops."""
        busy = sum(o.seconds for o in self.ops)
        return busy / (busy - self.bookkeeping_s) if busy > self.bookkeeping_s else 1.0

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans]))


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
