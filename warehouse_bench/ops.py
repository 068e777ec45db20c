"""Closed-loop op timing shared by dashboard_read and ingest_maintain."""

from __future__ import annotations

import contextlib
import statistics
import time
import traceback

from warehouse_bench import gen, probes, trace
from warehouse_bench.harness import LAYERS, Outcome, mean


def load_dictionary(h, g: gen.EventGen, lifetime_s: float):
    """Write the generated user dimension and open it as the engine's
    Dictionary (broadcast-join enrichment with the UNKNOWN default)."""
    from clickhouse_learning_spark.functions.dictionary import Dictionary

    path = h.tmp / "dim.parquet"
    gen.write_parquet(g.dim(), path)
    spark = h.spark
    d = Dictionary(
        lambda: spark.read.parquet(str(path)),
        "uid",
        lifetime_s=lifetime_s,
        defaults={"segment": gen.UNKNOWN_SEGMENT},
    )
    return d, path


def refresh_metrics(before: tuple[int, float], after: tuple[int, float]) -> dict:
    """Dictionary refreshes in a window and their mean time, from two
    ``Tracer.snapshot`` readings."""
    n = after[0] - before[0]
    return {"dictionary.refreshes": n,
            "dictionary.refresh_ms": (after[1] - before[1]) / n if n else 0.0}


def overhead_pct(kinds: list[str], lat: list[float], traced: set[int]) -> float:
    """Traced vs untraced median latency, compared within each op kind and
    averaged over the kinds that have both, in percent."""
    ratios = []
    for k in sorted(set(kinds)):
        on = [x for i, (kk, x) in enumerate(zip(kinds, lat)) if kk == k and i in traced]
        off = [x for i, (kk, x) in enumerate(zip(kinds, lat)) if kk == k and i not in traced]
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off))
    return 100.0 * (mean(ratios) - 1.0) if ratios else 0.0


def self_time_layers(spans, ops: list[int]) -> tuple[dict[str, float], float]:
    """Mean self ms per layer over ``ops``, and the largest gap between an
    op's summed self times and its root span (should be ~0)."""
    by_op = trace.layer_self_by_op(spans)
    roots = {s.op: s.ms for s in spans if s.parent is None and s.op is not None
             and s.name == "op"}
    out = {f"self.{layer}_ms": mean(by_op.get(i, {}).get(layer, 0.0) for i in ops)
           for layer in LAYERS}
    gap = max((abs(sum(by_op.get(i, {}).values()) - roots[i]) for i in ops if i in roots),
              default=0.0)
    return out, gap


class Window:
    """Accounts for one timed window: wall time, process-tree CPU (JIT
    compilation apart), GC, host steal and dictionary refreshes. Stretches
    run under ``paused()`` (checks made inside the loop) are left out."""

    def __init__(self, h) -> None:
        self.h = h
        self.excluded = [0.0] * 5

    def _read(self) -> list[float]:
        h = self.h
        return [time.perf_counter(), *h.work_cpu_s(), h.gc_ms(), probes.steal_ms()]

    def start(self) -> None:
        self.refresh0 = self.h.tracer.snapshot("dictionary.refresh")
        self.r0 = self._read()

    @contextlib.contextmanager
    def paused(self):
        a = self._read()
        try:
            yield
        finally:
            b = self._read()
            self.excluded = [x + (bb - aa) for x, aa, bb in zip(self.excluded, a, b)]

    def stop(self) -> None:
        self.r1 = self._read()
        self.refresh1 = self.h.tracer.snapshot("dictionary.refresh")

    def outcome(self, latencies_ms: list[float], failed: int, setup_s: float, events: int,
                stored_bytes_per_event: float, window_s: float | None = None) -> Outcome:
        """The window's Outcome; ``window_s`` overrides the measured wall
        time (an open loop's window runs from the first due time)."""
        wall, cpu, jit, gc, steal = (b - a - x for a, b, x in
                                     zip(self.r0, self.r1, self.excluded))
        n = max(len(latencies_ms), 1)
        out = Outcome(
            latencies_ms=list(latencies_ms),
            attempted=len(latencies_ms),
            failed=failed,
            window_s=wall if window_s is None else window_s,
            events=events,
            cpu_s=cpu,
            setup_s=setup_s,
            stored_bytes_per_event=stored_bytes_per_event,
        )
        out.detail["jit_cpu_ms_per_op"] = jit * 1000.0 / n
        out.detail["paused_s"] = self.excluded[0]
        out.layer["jvm.gc_ms_per_op"] = gc / n
        out.layer["host.steal_ms"] = steal
        if self.h.trace:
            out.layer.update(refresh_metrics(self.refresh0, self.refresh1))
        return out


class OpLog:
    """Times each op of a closed loop inside a ``Window``; in a traced run
    also records the op's root span, its Spark jobs (one job group per op)
    and GC."""

    def __init__(self, h) -> None:
        self.h = h
        self.win = Window(h)
        self.n = 0
        self.lat: list[float] = []
        self.kinds: list[str] = []
        self.traced_ops: list[int] = []
        self.jobs: dict[int, int] = {}
        self.per_kind: dict[str, int] = {}
        self.failed = 0
        self.errors: list[str] = []

    def start(self) -> None:
        self.win.start()

    def stop(self) -> None:
        self.win.stop()

    def paused(self):
        return self.win.paused()

    def op(self, kind: str, fn, span_name: str, layer: str, timed: bool = True):
        """Run ``fn``; timed ops count toward the metrics. A timed op that
        raises counts as failed and yields None, except that a failed
        check (``CheckFailed``, or an ``assert`` in the engine's own
        reconciliation) ends the run, naming the op."""
        h, tracer = self.h, self.h.tracer
        i = self.n if timed else None
        # half the ops of each kind are traced, so traced and untraced
        # latencies of the same kind give the tracing overhead; the pattern
        # (traced, untraced, untraced, traced, ...) traces both shapes of a
        # kind that alternates, such as the first and second append of a day
        seen = self.per_kind.get(kind, 0)
        traced = tracer.enabled = h.trace and timed and (seen + seen // 2) % 2 == 0
        if traced:
            h.job_group(f"op-{i}")
        t = time.perf_counter()
        root = None
        try:
            with tracer.span("op", "bench", op=i) as root:
                with tracer.span(span_name, layer):
                    res = fn()
        except (AssertionError, gen.CheckFailed) as e:
            tracer.enabled = False
            where = f"op {i}" if timed else "warm-up op"
            raise gen.CheckFailed(f"{where} ({kind}): {e!r}") from e
        except Exception:
            if not timed:
                raise
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            res = None
        dt = (time.perf_counter() - t) * 1000.0
        tracer.enabled = False
        if timed:
            self.n += 1
            self.per_kind[kind] = seen + 1
            self.lat.append(dt)
            self.kinds.append(kind)
            if traced:
                self.traced_ops.append(i)
                self.jobs[i] = len(h.jobs_in(f"op-{i}"))
                if root is not None:
                    root.counts["jobs"] = self.jobs[i]
        return res

    def outcome(self, setup_s: float, events: int, stored_bytes_per_event: float) -> Outcome:
        h = self.h
        out = self.win.outcome(self.lat, self.failed, setup_s, events, stored_bytes_per_event)
        out.detail["errors"] = self.errors[:3]
        out.detail["p50_ms_by_kind"] = {
            k: statistics.median(x for kk, x in zip(self.kinds, self.lat) if kk == k)
            for k in sorted(set(self.kinds))}
        if h.trace:
            traced = set(self.traced_ops)
            out.layer["trace.overhead_pct"] = overhead_pct(self.kinds, self.lat, traced)
            selfs, gap = self_time_layers(h.tracer.spans, self.traced_ops)
            out.layer.update(selfs)
            out.detail["selftime_max_gap_ms"] = gap
        return out
