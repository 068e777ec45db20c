"""stream_ingest: an open-loop generator drops one parquet file per interval
into a source directory; ``StreamingMV`` consumes one file per epoch.

An op is one file. Its latency runs from the time the file was due to the
commit of the epoch that read it (progress ``timestamp`` plus
``durationMs.triggerExecution``), so a stall also charges the files
waiting behind it. Reads do no timed work.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import math
import os
import threading
import time
from pathlib import Path

import pyarrow.parquet as pq

from warehouse_bench import gen, probes
from warehouse_bench.harness import (
    DICT_LIFETIME_S,
    BenchError,
    Outcome,
    dir_files,
    mean,
    parts_per_partition,
)
from warehouse_bench.ops import Window, load_dictionary, overhead_pct, self_time_layers

FILE_EVENTS = 2_000
# offered rate: one file per interval; a steady epoch (about 0.8 s on a
# 4-core VM) fills about half of it
INTERVAL_S = 1.6
WARM_MIN_EPOCHS = 6
WARM_MAX_EPOCHS = 40
WARM_MAX_S = 12.0
DRAIN_TIMEOUT_S = 60.0
SCHEMA = "uid long, event_type string, value double, second timestamp"


def _progress(q) -> list[dict]:
    """Data epochs of the query, in batch order."""
    ps = [json.loads(p.json) for p in q.recentProgress]
    return sorted((p for p in ps if p.get("numInputRows", 0) > 0),
                  key=lambda p: p["batchId"])


def _ts(p: dict) -> float:
    return dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def _commits(ckpt: Path) -> int:
    d = ckpt / "commits"
    return sum(1 for n in os.listdir(d) if n.isdigit()) if d.exists() else 0


class Stream:
    def __init__(self, h) -> None:
        from clickhouse_learning_spark.mv.mainpage import mainpage_mv

        self.h = h
        self.mv = mainpage_mv(str(h.tmp / "state"))
        self.gen = gen.EventGen(h.seed)
        self.stage = h.tmp / "stage"
        self.source = h.tmp / "source"
        self.ckpt = h.tmp / "checkpoint"
        self.source.mkdir(parents=True)
        self.released = 0
        self.epoch_traced: list[bool] = []
        self.trace_from = None  # first epoch index that may be traced

    def prepare(self, n_files: int) -> None:
        """Generate every file up front; each covers one simulated hour."""
        self.files, self.rows, self.gen_ms = [], [], []
        for k in range(n_files):
            t = time.perf_counter()
            n = FILE_EVENTS + int(self.gen.rng.integers(0, 200))
            table = self.gen.events(n, gen.T0_US + k * gen.US_PER_HOUR, gen.US_PER_HOUR)
            path = self.stage / f"f{k:05d}.parquet"
            gen.write_parquet(table, path)
            self.gen_ms.append((time.perf_counter() - t) * 1000)
            self.files.append(path)
            self.rows.append(n)

    def release(self) -> None:
        """Move the next staged file into the source dir (atomic rename)."""
        f = self.files[self.released]
        os.rename(f, self.source / f.name)
        self.released += 1

    def start(self):
        from clickhouse_learning_spark.sources.ingest import with_default_columns
        from clickhouse_learning_spark.streaming.ingest import StreamingMV, parquet_stream

        h = self.h
        self.dictionary, _ = load_dictionary(h, self.gen, DICT_LIFETIME_S)
        counter = itertools.count()

        def enrich(batch):
            k = next(counter)
            on = h.trace and self.trace_from is not None and k >= self.trace_from and k % 2 == 0
            h.tracer.enabled = on
            self.epoch_traced.append(on)
            return self.dictionary.enrich(with_default_columns(batch, "second"), ["segment"])

        smv = StreamingMV(self.mv, str(self.ckpt), enrich=enrich)
        self.q = smv.attach(
            parquet_stream(h.spark, str(self.source), SCHEMA, max_files_per_trigger=1),
            trigger={"processingTime": "0 seconds"},
            query_name="warehouse_bench_stream",
        )

    def last_progress(self, batch_id: int) -> dict:
        """The progress of ``batch_id`` (posted just after its commit)."""
        deadline = time.time() + 10
        while time.time() < deadline:
            p = self.q.lastProgress
            if p is not None:
                p = json.loads(p.json)
                if p["batchId"] >= batch_id:
                    return p
            time.sleep(0.005)
        raise BenchError(f"no progress for epoch {batch_id}")

    def wait_commits(self, n: int, timeout: float) -> None:
        """Wait for n committed epochs. The commit log is polled on disk;
        the query's health is asked through the gateway only twice a
        second, so the wait does not slow the epoch it waits for."""
        deadline = time.time() + timeout
        next_health = 0.0
        while _commits(self.ckpt) < n:
            now = time.time()
            if now >= next_health:
                if self.q.exception() is not None:
                    raise BenchError(f"stream failed: {self.q.exception()}")
                next_health = now + 0.5
            if now > deadline:
                raise BenchError(f"stream committed {_commits(self.ckpt)} of {n} "
                                 f"files within {timeout:.0f} s")
            time.sleep(0.005)


def run(h) -> Outcome:
    s = Stream(h)
    n_win = math.ceil(h.seconds / INTERVAL_S)
    s.prepare(WARM_MAX_EPOCHS + n_win)
    s.start()
    tracer = h.tracer

    # warm-up, closed loop: next file once the previous epoch committed
    warm_from = probes.process_age_s()
    warm_ms: list[float] = []
    t_warm = time.time()
    while True:
        s.release()
        s.wait_commits(s.released, DRAIN_TIMEOUT_S)
        warm_ms.append(s.last_progress(s.released - 1)["durationMs"]["triggerExecution"])
        if s.released >= WARM_MIN_EPOCHS and (
            probes.leveled(warm_ms, 3, 0.15) or time.time() - t_warm > WARM_MAX_S
        ) or s.released >= WARM_MAX_EPOCHS:
            break
    warm = s.released

    # timed window, open loop: file i is due at t0 + i * INTERVAL_S
    group = str(s.q.runId)
    jobs0 = set(h.jobs_in(group)) if h.trace else set()
    state0 = dir_files(s.mv.storage.path) if h.trace else {}
    s.trace_from = warm
    t0 = time.time() + 0.1
    due = [t0 + i * INTERVAL_S for i in range(n_win)]
    lag: list[float] = []

    def generator():
        for d in due:
            pause = d - time.time()
            if pause > 0:
                time.sleep(pause)
            s.release()
            lag.append((time.time() - d) * 1000)

    window = Window(h)
    window.start()
    while time.time() < t0:
        time.sleep(0.001)
    setup_s = probes.process_age_s()
    th = threading.Thread(target=generator, name="warehouse_bench-generator")
    th.start()
    th.join(timeout=n_win * INTERVAL_S + 30)
    if th.is_alive():
        raise BenchError("generator thread did not finish")
    s.wait_commits(warm + n_win, DRAIN_TIMEOUT_S)
    window.stop()
    tracer.enabled = False
    jobs1 = set(h.jobs_in(group)) if h.trace else set()
    s.q.stop()

    prog = _progress(s.q)
    if len(prog) != warm + n_win:
        raise gen.CheckFailed(f"{len(prog)} data epochs for {warm + n_win} files")
    # epoch e reads file e; numInputRows counts every scan of the batch
    # (the emptiness probe scans it too), so it is a multiple of the file
    for e, p in enumerate(prog):
        if p["numInputRows"] % s.rows[e]:
            raise gen.CheckFailed(f"epoch {p['batchId']} read {p['numInputRows']} rows, "
                                  f"file {e} has {s.rows[e]}")
    win = prog[warm:]
    starts = [_ts(p) for p in win]
    commits = [st + p["durationMs"]["triggerExecution"] / 1000 for st, p in zip(starts, win)]
    lat = probes.open_loop_latencies(due, commits)
    _check_totals(h, s, warm + n_win)

    events = sum(s.rows[warm:warm + n_win])
    window_s = commits[-1] - due[0]
    state_files = dir_files(s.mv.storage.path)
    out = window.outcome(lat, 0, setup_s, events,
                         sum(state_files.values()) / sum(s.rows[:warm + n_win]),
                         window_s=window_s)
    add = [p["durationMs"].get("addBatch", 0) for p in win]
    trig = [p["durationMs"]["triggerExecution"] for p in win]
    out.detail.update(scans_per_epoch=prog[-1]["numInputRows"] / s.rows[len(prog) - 1],
                      setup=h.setup_phases(warm_from, setup_s),
                      warm_epochs=warm, warm_trigger_ms=warm_ms, interval_s=INTERVAL_S,
                      trigger_ms=trig,
                      gen_lag_max_ms=max(lag),
                      backlog_max_files=probes.backlog_max(due, starts))
    out.layer.update({
        "gen.batch_ms": mean(s.gen_ms),
        "gen.lag_ms": max(lag),
        "stream.trigger_ms": mean(trig),
        "stream.add_batch_ms": mean(add),
        "stream.overhead_ms": mean(t - a for t, a in zip(trig, add)),
        "stream.backlog_max_files": probes.backlog_max(due, starts),
    })
    if h.trace:
        new = {p: b for p, b in state_files.items() if p not in state0}
        rows_new = sum(pq.ParquetFile(p).metadata.num_rows for p in new)
        traced_ops = _epoch_spans(h, s, warm, due, starts, commits, win)
        selfs, gap = self_time_layers(h.tracer.spans, traced_ops)
        out.layer.update(selfs)
        out.layer.update({
            "stream.jobs_per_epoch": len(jobs1 - jobs0) / n_win,
            "mv.state_rows_per_event": rows_new / events,
            "tables.append_ms": mean(h.span_ms("tables.append")),
            "tables.files_written_per_op": len(new) / n_win,
            "tables.bytes_written_per_event": sum(new.values()) / events,
            "tables.parts_per_partition": parts_per_partition(state_files),
            "trace.overhead_pct": overhead_pct(["epoch"] * n_win, lat, set(traced_ops)),
        })
        out.detail["selftime_max_gap_ms"] = gap
    return out


def _epoch_spans(h, s: Stream, warm, due, starts, commits, win) -> list[int]:
    """Build each window op's span tree from progress: op (due → commit) =
    wait (due → trigger start) + trigger; addBatch sits inside the trigger,
    ending where commitOffsets begins, and the foreachBatch spans recorded
    on the callback thread hang under it. Returns the traced op ids."""
    tr = h.tracer
    loose = [sp for sp in tr.spans if sp.parent is None and sp.op is None]
    traced = []
    for i, (d, st, c, p) in enumerate(zip(due, starts, commits, win)):
        root = tr.record("op", "bench", d, c, None, i, input_rows=s.rows[warm + i])
        tr.record("stream.wait", "streaming.ingest", d, st, root.sid, i)
        trig = tr.record("stream.trigger", "streaming.ingest", st, c, root.sid, i)
        dur = p["durationMs"]
        add_end = c - dur.get("commitOffsets", 0) / 1000
        add = tr.record("stream.add_batch", "streaming.ingest",
                        add_end - dur.get("addBatch", 0) / 1000, add_end, trig.sid, i)
        for sp in loose:
            mid = (sp.start + sp.end) / 2
            if add.start - 0.002 <= mid <= add.end + 0.002:
                sp.parent, sp.op = add.sid, i
        if s.epoch_traced[warm + i]:
            traced.append(i)
    by_id = {sp.sid: sp for sp in tr.spans}
    for sp in tr.spans:  # children of re-parented spans inherit the op id
        anc = sp
        while sp.op is None and anc.parent is not None:
            anc = by_id[anc.parent]
            sp.op = anc.op
    return traced


def _check_totals(h, s: Stream, n_files: int) -> None:
    """Merged per-day totals must equal the generated events exactly: no
    epoch lost, none counted twice."""
    cols = ["event_cnt", "value_sum", *[f"{t}_cnt" for t in gen.STAGES]]
    got = {(r["day"],): {c: r[c] for c in cols}
           for r in s.mv.merge_query(h.spark, ["day"], cols).collect()}
    want = {k: {c: v[c] for c in cols}
            for k, v in gen.metric_rows(s.gen.log(n_files), ["day"]).items()}
    gen.compare("stream totals", got, want)
