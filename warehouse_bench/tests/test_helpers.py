"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest warehouse_bench/tests -q
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

import pytest

from warehouse_bench import gen, harness, ops, probes, run, trace

ROOT = Path(__file__).resolve().parents[2]


# -- tail percentile rule -----------------------------------------------------------
def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    t = probes.tail(xs)
    assert t["value"] == 90 and t["beyond"] == 10 and t["percentile"] == 90.0
    assert sum(1 for x in xs if x > t["value"]) == 10


def test_tail_is_order_independent_and_uses_sample_count():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 10  # 50 samples
    t = probes.tail(xs)
    assert t["n"] == 50 and t["beyond"] == 10
    assert t["percentile"] == pytest.approx(80.0)
    assert t["value"] == sorted(xs)[39]


def test_tail_never_drops_below_the_75th_percentile():
    for n in range(1, 60):
        t = probes.tail([float(i) for i in range(n)])
        assert t["percentile"] >= 75.0
        rank = int(t["value"]) + 1
        assert rank == max(n - 10, -(-3 * n // 4))
        assert t["beyond"] == n - rank


def test_tail_with_too_few_samples_reports_the_shortfall():
    t = probes.tail([3.0, 1.0, 2.0])
    assert t["value"] == 3.0 and t["beyond"] == 0 and t["percentile"] == 100.0
    t = probes.tail([float(i) for i in range(8)])  # the 6th of 8, 2 beyond
    assert t["value"] == 5.0 and t["beyond"] == 2 and t["percentile"] == 75.0
    with pytest.raises(ValueError):
        probes.tail([])


def test_halves_and_leveled():
    h = probes.halves([10, 10, 10, 5, 5, 5])
    assert h["first"] == 10 and h["second"] == 5 and h["ratio"] == 0.5
    assert probes.leveled([9, 8, 5, 5.2], window=1, tolerance=0.05)
    assert not probes.leveled([9, 5], window=1, tolerance=0.05)
    assert not probes.leveled([5], window=1, tolerance=0.05)


# -- span self time -----------------------------------------------------------------
def _clock(times):
    it = iter(times)
    return lambda: next(it)


def test_self_times_subtract_children_and_add_up_to_the_root():
    # op [0, 1.0] > a [0.1, 0.6] > b [0.2, 0.5]; op > c [0.7, 0.8]
    tr = trace.Tracer(clock=_clock([0.0, 0.1, 0.2, 0.5, 0.6, 0.7, 0.8, 1.0]))
    tr.enabled = True
    with tr.span("op", "bench", op=7):
        with tr.span("a", "tables"):
            with tr.span("b", "mv.engine.read"):
                pass
        with tr.span("c", "maintenance"):
            pass
    by_name = {s.name: s for s in tr.spans}
    assert by_name["b"].parent == by_name["a"].sid
    assert all(s.op == 7 for s in tr.spans)
    st = trace.self_times(tr.spans)
    total = sum(st.values())
    assert total == pytest.approx(by_name["op"].ms)
    assert st[by_name["a"].sid] == pytest.approx(200.0)  # 500 ms - 300 ms of b
    assert st[by_name["op"].sid] == pytest.approx(400.0)  # 1 s - a - c


def test_self_times_clip_children_and_merge_overlaps():
    spans = [
        trace.Span(1, "op", "bench", 0.0, 1.0, None, 0),
        trace.Span(2, "x", "tables", 0.5, 1.5, 1, 0),  # sticks out of the root
        trace.Span(3, "y", "tables", 0.6, 0.8, 1, 0),  # overlaps x
    ]
    st = trace.self_times(spans)
    assert st[1] == pytest.approx(500.0)
    assert st[2] == pytest.approx(500.0)
    by_layer = trace.layer_self_by_op(spans)[0]
    assert by_layer["bench"] + by_layer["tables"] >= 1000.0 - 1e-6


def test_disabled_tracer_records_nothing_but_counts_calls():
    class Engine:
        def work(self, x):
            return x * 2

    tr = trace.Tracer()
    tr.wrap(Engine, "work", "tables", "engine.work")
    try:
        assert Engine().work(2) == 4
        assert tr.spans == [] and tr.calls["engine.work"] == 1
        tr.enabled = True
        Engine().work(3)
        assert [s.name for s in tr.spans] == ["engine.work"]
    finally:
        tr.unwrap_all()
    assert "traced" not in Engine.work.__qualname__


# -- /proc readers ---------------------------------------------------------------------
def test_proc_readers_on_this_process():
    tree = probes.process_tree()
    assert tree[0] == os.getpid()
    c0 = probes.cpu_seconds(tree)
    t = time.process_time()
    while time.process_time() - t < 0.2:
        pass
    assert probes.cpu_seconds(tree) - c0 >= 0.1
    assert probes.jit_cpu_seconds(tree) == 0.0  # no JVM in this process
    assert probes.peak_rss_mb() > 1.0
    assert probes.steal_ms() >= 0.0
    assert 0.0 <= probes.process_age_s() < 3600.0
    assert probes.mem_total_mb() > 0
    assert probes.host_ref_ms(reps=1, n=1000) > 0.0


def test_cpu_and_rss_from_a_fake_proc(tmp_path: Path):
    pid = tmp_path / "42"
    (pid / "task" / "42").mkdir(parents=True)
    (pid / "task" / "42" / "children").write_text("")
    fields = ["S"] + ["0"] * 10 + ["100", "50", "7", "3"] + ["0"] * 30
    (pid / "stat").write_text("42 (a b) ) " + " ".join(fields) + "\n")
    (pid / "status").write_text("Name:\tx\nVmHWM:\t  2048 kB\nVmRSS:\t1024 kB\n")
    (tmp_path / "stat").write_text("cpu  1 2 3 4 5 6 7 250 0 0\n")
    assert probes.cpu_seconds([42], tmp_path) == pytest.approx(160 / probes.CLK_TCK)
    assert probes.peak_rss_mb(42, tmp_path) == pytest.approx(2.0)
    assert probes.steal_ms(tmp_path) == pytest.approx(250 * 1000 / probes.CLK_TCK)


# -- generator determinism ------------------------------------------------------------------
def test_generator_is_deterministic_for_a_seed():
    def draw(seed):
        g = gen.EventGen(seed)
        dim = g.dim()
        ev = g.events(5000, gen.T0_US + gen.US_PER_DAY, gen.US_PER_DAY)
        return dim, ev

    d1, e1 = draw(11)
    d2, e2 = draw(11)
    _, e3 = draw(12)
    assert d1.equals(d2) and e1.equals(e2)
    assert not e1.equals(e3)


def test_generator_shape():
    g = gen.EventGen(3)
    g.dim()
    g.events(20_000, gen.T0_US + gen.US_PER_DAY, gen.US_PER_HOUR)
    log = g.log()
    cohort = log["uid"] % 13 == 0
    click = log["event_type"] == "click"
    assert click[cohort].mean() > click[~cohort].mean() + 0.05
    late = log["day"] < log["day"].max()
    assert 0.01 < late.mean() < 0.03  # the late share lands a day early
    assert set(log["event_type"]) == set(gen.STAGES)
    assert (log["segment"] == gen.UNKNOWN_SEGMENT).any()
    assert log["uid"].value_counts().iloc[0] > 20 * log["uid"].value_counts().median()


def test_exact_answers_and_compare():
    g = gen.EventGen(5)
    g.dim()
    g.events(3000, gen.T0_US, 2 * gen.US_PER_DAY)
    log = g.log()
    rows = gen.metric_rows(log, ["day"])
    assert sum(r["event_cnt"] for r in rows.values()) == 3000
    gen.compare("same", rows, rows)
    fuzzy = {k: {**v, "view_uv": v["view_uv"] + 1} for k, v in rows.items()}
    gen.compare("hll within bound", fuzzy, rows)
    off = {k: {**v, "view_cnt": v["view_cnt"] + 1} for k, v in rows.items()}
    with pytest.raises(gen.CheckFailed, match="view_cnt"):
        gen.compare("exact", off, rows)
    assert gen.answer_hash(rows) == gen.answer_hash(dict(reversed(list(rows.items()))))
    funnel = gen.funnel_rows(log)
    assert all(r["f1"] >= r["f2"] >= r["f3"] >= r["f4"] for r in funnel.values())


# -- open-loop latency arithmetic -----------------------------------------------------------
def test_open_loop_latency_runs_from_due_time():
    due = [10.0, 11.0, 12.0]
    commits = [10.5, 11.9, 12.4]  # the second file's epoch ran late
    assert probes.open_loop_latencies(due, commits) == pytest.approx([500, 900, 400])
    with pytest.raises(ValueError):
        probes.open_loop_latencies(due, commits[:2])
    with pytest.raises(ValueError):
        probes.open_loop_latencies([10.0], [9.0])


def test_backlog_counts_files_waiting_at_epoch_start():
    due = [0.0, 1.0, 2.0, 3.0]
    assert probes.backlog_max(due, [0.01, 1.01, 2.01, 3.01]) == 1
    # the third epoch starts after two more files are due: two waiting
    assert probes.backlog_max(due, [0.01, 1.01, 3.05, 3.5]) == 2


# -- the metric contract -----------------------------------------------------------
def test_benchmark_json_lists_the_metrics_run_py_prints():
    doc = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in doc["end_to_end"]] == list(harness.END_TO_END)
    per_layer = list(harness.PER_LAYER) + [(f"self.{x}_ms", "ms") for x in harness.LAYERS]
    assert [(m["name"], m["unit"]) for m in doc["per_layer"]] == per_layer
    assert tuple(w["name"] for w in doc["workloads"]) == run.WORKLOADS


# -- window accounting and failed ops -------------------------------------------------
class _FakeHarness:
    """The counters ``ops.Window`` and ``ops.OpLog`` read, driven by hand."""

    trace = False

    def __init__(self):
        self.cpu = self.jit = self.gc = 0.0
        self.tracer = trace.Tracer()

    def work_cpu_s(self):
        return self.cpu, self.jit

    def gc_ms(self):
        return self.gc


def test_window_leaves_paused_stretches_out():
    h = _FakeHarness()
    log = ops.OpLog(h)
    log.start()

    def op():
        h.cpu += 2.0
        h.gc += 10.0
        return "ok"

    assert log.op("append", op, "cycle", "bench") == "ok"
    with log.paused():  # a check: its CPU, GC and time do not count
        h.cpu += 5.0
        h.gc += 40.0
        time.sleep(0.05)
    log.stop()
    out = log.outcome(setup_s=1.0, events=100, stored_bytes_per_event=1.0)
    assert out.attempted == 1 and out.failed == 0
    assert out.cpu_s == pytest.approx(2.0)
    assert out.layer["jvm.gc_ms_per_op"] == pytest.approx(10.0)
    assert out.window_s < 0.04 and out.detail["paused_s"] >= 0.05


def test_a_failed_check_inside_an_op_ends_the_run_naming_the_op():
    h = _FakeHarness()
    log = ops.OpLog(h)
    log.start()
    log.op("append", lambda: None, "cycle", "bench")

    def sweep():
        assert False, "TTL kept expired"

    with pytest.raises(gen.CheckFailed, match=r"op 1 \(sweep\).*TTL kept expired"):
        log.op("sweep", sweep, "cycle", "bench")

    def boom():
        raise RuntimeError("lost executor")

    assert log.op("append", boom, "cycle", "bench") is None
    assert log.failed == 1 and "lost executor" in log.errors[0]
