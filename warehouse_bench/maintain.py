"""ingest_maintain: one closed-loop client appends one generated micro-batch
per cycle through ``MaterializedView.append_batch``; the cycle that ends a
simulated day also runs ``Maintainer.run_once`` (TTL, partition-scoped
compaction and its reconciliation scans) with ``now=`` the new day.

Set-up runs one day, so every timed sweep already expires a day and finds
the same two days stored: per-cycle numbers do not grow. The timed window
covers a fixed number of whole days, so every run does the same ops.
"""

from __future__ import annotations

import datetime as dt
import time

import pyarrow.parquet as pq

from warehouse_bench import gen, probes
from warehouse_bench.harness import (
    DICT_LIFETIME_S,
    Outcome,
    dir_files,
    mean,
    parts_per_partition,
)
from warehouse_bench.ops import OpLog, load_dictionary

CYCLES_PER_DAY = 3
CYCLE_EVENTS = 3_000
TTL_DAYS = 1
WARM_DAYS = 1
# the window is a whole number of days fixed by --seconds, one day per
# DAY_S, so every run does the same work (a day takes about 5 s on a
# 4-core VM)
DAY_S = 5.0
CHECK_COLS = ["event_cnt", "value_sum", "value_median",
              *[f"{t}_cnt" for t in gen.STAGES], *[f"{t}_bm" for t in gen.STAGES]]


class Maintain:
    def __init__(self, h) -> None:
        from clickhouse_learning_spark.maintenance import Maintainer
        from clickhouse_learning_spark.mv.mainpage import mainpage_mv

        self.h = h
        self.spark = h.spark
        self.mv = mainpage_mv(str(h.tmp / "state"))
        self.maintainer = Maintainer()
        self.maintainer.register(self.mv, ttl=dt.timedelta(days=TTL_DAYS))
        self.gen = gen.EventGen(h.seed)
        self.dictionary, _ = load_dictionary(h, self.gen, DICT_LIFETIME_S)
        self.k = 0  # next cycle
        self.gen_ms: list[float] = []
        self.reports: list[dict] = []
        self.sweep_ops: list[int] = []
        self.rewritten = 0  # bytes written by compaction (traced run)

    def batch_path(self, k: int):
        return self.h.tmp / "batches" / f"c{k:05d}.parquet"

    def prepare(self, n: int) -> None:
        """Generate n cycles of input; cycle k covers simulated hours
        [k*24/C, (k+1)*24/C)."""
        span = gen.US_PER_DAY // CYCLES_PER_DAY
        for k in range(n):
            t = time.perf_counter()
            table = self.gen.events(CYCLE_EVENTS, gen.T0_US + k * span, span)
            gen.write_parquet(table, self.batch_path(k))
            self.gen_ms.append((time.perf_counter() - t) * 1000)

    def merged(self) -> dict[tuple, dict]:
        rows = self.mv.merge_query(self.spark, ["day"], CHECK_COLS).collect()
        return {(r["day"],): {c: r[c] for c in CHECK_COLS} for r in rows}

    def cycle(self) -> dict | None:
        """Append cycle k's batch; at a day boundary also sweep."""
        from clickhouse_learning_spark.sources.ingest import with_default_columns

        k = self.k
        batch = with_default_columns(self.spark.read.parquet(str(self.batch_path(k))), "second")
        self.mv.append_batch(self.dictionary.enrich(batch, ["segment"]))
        self.k += 1
        if self.k % CYCLES_PER_DAY:
            return None
        now = (gen.T0_US // gen.US_PER_DAY) + self.k // CYCLES_PER_DAY
        return self.maintainer.run_once(self.spark, now=dt.date(1970, 1, 1) + dt.timedelta(days=now))

    def check(self, name: str, cutoff: dt.date) -> dict[tuple, dict]:
        """Stored days are exactly the generated days >= cutoff, and each
        gives the exact merged answers."""
        got = self.merged()
        log = self.gen.log(self.k)
        log = log[log["day"] >= cutoff]
        want = gen.metric_rows(log, ["day"])
        want = {k: {c: v[c] for c in CHECK_COLS} for k, v in want.items()}
        gen.compare(name, got, want)
        return want

    def day_of_next_sweep(self) -> dt.date:
        now = (gen.T0_US // gen.US_PER_DAY) + self.k // CYCLES_PER_DAY + 1
        return dt.date(1970, 1, 1) + dt.timedelta(days=now)


def run(h) -> Outcome:
    m = Maintain(h)
    days = max(1, round(h.seconds / DAY_S))
    m.prepare((WARM_DAYS + days) * CYCLES_PER_DAY)
    log = OpLog(h)

    def day(timed: bool) -> None:
        """One simulated day: C cycles, the last one with the sweep. After
        a timed sweep, with the window's clocks paused, exactly the expired
        days must be gone and every retained day must still give the exact
        answers."""
        for _ in range(CYCLES_PER_DAY - 1):
            log.op("append", m.cycle, "cycle", "bench", timed=timed)
        cutoff = m.day_of_next_sweep() - dt.timedelta(days=TTL_DAYS)
        if timed:
            m.sweep_ops.append(log.n)
        if h.trace and timed:
            with log.paused():
                before = dir_files(m.mv.storage.path)
        m.reports.append(log.op("sweep", m.cycle, "cycle", "bench", timed=timed))
        if not timed:
            return
        with log.paused():
            if h.trace:
                # the files the sweep cycle leaves behind are compaction's
                # output: its own appended part is compacted with its day
                after = dir_files(m.mv.storage.path)
                m.rewritten += sum(b for p, b in after.items() if p not in before)
            m.check(f"sweep at cycle {m.k}", cutoff)

    warm_from = probes.process_age_s()
    for _ in range(WARM_DAYS):
        day(timed=False)
    setup_s = probes.process_age_s()
    state0 = dir_files(m.mv.storage.path)
    first = m.k
    log.start()
    for _ in range(days):
        day(timed=True)
    log.stop()

    want = m.check("after the run", m.day_of_next_sweep() - dt.timedelta(days=TTL_DAYS + 1))

    state = dir_files(m.mv.storage.path)
    held = sum(v["event_cnt"] for v in want.values())
    events = (m.k - first) * CYCLE_EVENTS
    out = log.outcome(setup_s=setup_s, events=events,
                      stored_bytes_per_event=sum(state.values()) / held)
    out.detail.update(setup=h.setup_phases(warm_from, setup_s),
                      days_timed=(m.k - first) // CYCLES_PER_DAY,
                      last_report=m.reports[-1] if m.reports else None)
    out.layer["gen.batch_ms"] = mean(m.gen_ms)
    if h.trace:
        out.layer.update(_layer(h, m, log, state0, state, events))
        out.layer["maintenance.bytes_rewritten_per_event"] = m.rewritten / events
    return out


def _layer(h, m: Maintain, log: OpLog, state0, state, events) -> dict:
    traced = set(log.traced_ops)
    sweeps = [i for i in m.sweep_ops if i in traced]
    appends = [i for i in traced if i not in m.sweep_ops]
    new = {p: b for p, b in state.items() if p not in state0}
    sweep_ms = h.span_ms("maintenance.run_once")
    ttl_ms = h.span_ms("tables.apply_ttl")
    compact_ms = h.span_ms("mv.compact")
    rows_new = sum(pq.ParquetFile(p).metadata.num_rows for p in new)
    return {
        "mv.append_ms": mean(h.span_ms("mv.append_batch")),
        "mv.jobs_per_append": mean(log.jobs[i] for i in appends),
        "mv.state_rows_per_event": rows_new / events,
        "tables.append_ms": mean(h.span_ms("tables.append")),
        "tables.files_written_per_op": len(new) / max(log.n, 1),
        "tables.bytes_written_per_event": sum(new.values()) / events,
        "tables.parts_per_partition": parts_per_partition(state),
        "maintenance.sweep_ms": mean(sweep_ms),
        "maintenance.compact_ms": mean(compact_ms),
        "maintenance.ttl_ms": mean(ttl_ms),
        "maintenance.reconcile_ms": mean(sweep_ms) - mean(ttl_ms) - mean(compact_ms),
        "maintenance.jobs_per_sweep": mean(log.jobs[i] for i in sweeps),
    }

