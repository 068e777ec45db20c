"""Spans recorded from outside the engine.

The traced run wraps public functions of the engine's modules (the
wrappers live here, the engine is unchanged) and records one span per
call: name, layer, start, end, parent span, op id and process CPU. Spans
stay in memory until the run ends. A layer's self time is its span's
duration minus the part its children cover; children are clipped to their
parent, so the self times of one op add up to the op's wall time.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int | None
    cpu_ms: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Collects spans; a disabled tracer makes every wrapper a plain call."""

    def __init__(self, cpu_s=None, clock=time.time) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._cpu_s = cpu_s or (lambda: 0.0)
        self._clock = clock
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        # calls and their total ms per wrapped function, kept even while
        # disabled (a window's share is the difference of two snapshots)
        self.calls: dict[str, int] = defaultdict(int)
        self.call_ms: dict[str, float] = defaultdict(float)

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, layer: str, op: int | None = None) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = parent.op
        sp = Span(next(self._ids), name, layer, self._clock(), 0.0,
                  parent.sid if parent else None, op)
        sp.cpu_ms = -self._cpu_s() * 1000.0
        stack.append(sp)
        return sp

    def end(self, sp: Span | None, **counts) -> None:
        if sp is None:
            return
        sp.end = self._clock()
        sp.cpu_ms += self._cpu_s() * 1000.0
        sp.counts.update(counts)
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()
        with self._lock:
            self.spans.append(sp)

    def span(self, name: str, layer: str, op: int | None = None):
        return _SpanCtx(self, name, layer, op)

    def record(self, name: str, layer: str, start: float, end: float,
               parent: int | None, op: int | None, **counts) -> Span:
        """Add a span measured elsewhere (e.g. from streaming progress)."""
        sp = Span(next(self._ids), name, layer, start, end, parent, op,
                  counts=dict(counts))
        with self._lock:
            self.spans.append(sp)
        return sp

    # -- wrapping engine functions ------------------------------------------------
    def wrap(self, owner, attr: str, layer: str, name: str | None = None) -> None:
        orig = owner.__dict__[attr]
        label = name or f"{getattr(owner, '__name__', owner)}.{attr}"
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            sp = tracer.begin(label, layer)
            t = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.calls[label] += 1
                tracer.call_ms[label] += (time.perf_counter() - t) * 1000.0
                tracer.end(sp)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def snapshot(self, label: str) -> tuple[int, float]:
        return self.calls[label], self.call_ms[label]

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str, op: int | None):
        self.args = (tracer, name, layer, op)
        self.sp: Span | None = None

    def __enter__(self) -> Span | None:
        tracer, name, layer, op = self.args
        self.sp = tracer.begin(name, layer, op)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.args[0].end(self.sp)


# -- analysis ----------------------------------------------------------------------
def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time in ms of every span: its interval, clipped to its parent's
    clipped interval, minus the union of its clipped children."""
    by_id = {s.sid: s for s in spans}
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            kids[s.parent].append(s)
    clipped: dict[int, tuple[float, float]] = {}

    def clip(s: Span) -> tuple[float, float]:
        if s.sid in clipped:
            return clipped[s.sid]
        lo, hi = s.start, s.end
        if s.parent is not None and s.parent in by_id:
            plo, phi = clip(by_id[s.parent])
            lo, hi = max(lo, plo), min(hi, phi)
        clipped[s.sid] = (lo, max(lo, hi))
        return clipped[s.sid]

    out = {}
    for s in spans:
        lo, hi = clip(s)
        covered = _union_ms([clip(c) for c in kids[s.sid]])
        out[s.sid] = (hi - lo) * 1000.0 - covered
    return out


def layer_self_by_op(spans: list[Span]) -> dict[int, dict[str, float]]:
    """{op: {layer: self ms}} over spans that belong to an op."""
    st = self_times(spans)
    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s.op is not None:
            out[s.op][s.layer] += st[s.sid]
    return {op: dict(v) for op, v in out.items()}


def to_jsonl(spans: list[Span]) -> str:
    return "".join(json.dumps(asdict(s)) + "\n" for s in spans)
