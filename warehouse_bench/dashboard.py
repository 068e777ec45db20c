"""dashboard_read: one closed-loop client runs a fixed-weight query mix over
a prebuilt state table (no think time). The write path does no timed work."""

from __future__ import annotations

import time
from pathlib import Path

import numpy as np
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

DAYS = 4
RECENT_DAYS = 2
HISTORY_BATCHES = 1
HISTORY_EVENTS = 16_000
RECENT_BATCHES = 2
RECENT_EVENTS = 3_000
# one block of the fixed-weight mix; each block is shuffled with the seed
BLOCK = ("rollup", "funnel", "recent", "recent", "dict_uv")
# warm-up: whole blocks until the block time levels off or WARM_MAX_S has
# passed; the block after the first already runs at the window's pace
WARM_MIN_BLOCKS = 1
WARM_MAX_S = 3.0
# the window is a whole number of blocks fixed by --seconds, one block per
# BLOCK_S, so every run answers the same queries (a block takes about 3.3 s
# on a 4-core VM)
BLOCK_S = 3.3


def _rows(rows, keys: list[str]) -> dict[tuple, dict]:
    out = {}
    for r in rows:
        d = r.asDict()
        out[tuple(d.pop(k) for k in keys)] = d
    return out


class Dashboard:
    def __init__(self, h) -> None:
        from clickhouse_learning_spark.mv.mainpage import mainpage_mv
        from clickhouse_learning_spark.tables import Table

        self.h = h
        self.spark = h.spark
        self.mv = mainpage_mv(str(h.tmp / "state"))
        self.raw = Table(str(h.tmp / "raw"), partition_by=("day",))
        self.gen = gen.EventGen(h.seed)

    # -- setup ---------------------------------------------------------------------
    def build(self) -> None:
        from clickhouse_learning_spark.sources.ingest import with_default_columns

        h, spark = self.h, self.spark
        self.dictionary, _ = load_dictionary(h, self.gen, DICT_LIFETIME_S)
        t0 = gen.T0_US
        batches = [(HISTORY_EVENTS, t0, DAYS * gen.US_PER_DAY)] * HISTORY_BATCHES
        recent0 = t0 + (DAYS - RECENT_DAYS) * gen.US_PER_DAY
        batches += [(RECENT_EVENTS, recent0, RECENT_DAYS * gen.US_PER_DAY)] * RECENT_BATCHES
        self.gen_ms = []
        for i, (n, start, span) in enumerate(batches):
            t = time.perf_counter()
            table = self.gen.events(n, start, span)
            path = h.tmp / "batches" / f"b{i:03d}.parquet"
            gen.write_parquet(table, path)
            gen.write_day_partitioned(table, self.raw.path, f"b{i:03d}")
            self.gen_ms.append((time.perf_counter() - t) * 1000)
            batch = with_default_columns(spark.read.parquet(str(path)), "second")
            self.mv.append_batch(self.dictionary.enrich(batch, ["segment"]))
        self.log = self.gen.log()
        days = sorted(self.log["day"].unique())
        self.days = days
        self.latest = days[-1]
        self.mv.compact(spark, partitions=[(d,) for d in days[:-RECENT_DAYS]])
        self._expected()

    def _expected(self) -> None:
        log = self.log
        self.expect = {
            ("rollup", None): gen.metric_rows(log, ["day", "segment"]),
            ("funnel", None): gen.funnel_rows(log),
            ("recent", None): gen.metric_rows(log[log["day"] == self.latest], ["hour"]),
        }
        self.events_in = {("rollup", None): len(log), ("funnel", None): len(log),
                          ("recent", None): int((log["day"] == self.latest).sum())}
        for d in self.days:
            self.expect[("dict_uv", d)] = gen.dict_uv_rows(log, d)
            self.events_in[("dict_uv", d)] = int((log["day"] == d).sum())

    # -- queries -------------------------------------------------------------------
    def query(self, kind: str, param):
        from pyspark.sql import functions as F

        from clickhouse_learning_spark.functions.metrics import (
            bitmap_and,
            bitmap_and_cardinality,
            bitmap_cardinality,
        )

        mv, spark = self.mv, self.spark
        if kind == "rollup":
            return _rows(mv.merge_query(spark, ["day", "segment"]).collect(),
                         ["day", "segment"])
        if kind == "funnel":
            df = mv.merge_states(mv.storage.read(spark), ["day"])
            v, c, s, p = (F.col(f"{t}_bm") for t in gen.STAGES)
            vc = bitmap_and(v, c)
            vcs = bitmap_and(vc, s)
            rows = df.select(
                "day",
                bitmap_cardinality(v).alias("f1"),
                bitmap_and_cardinality(v, c).alias("f2"),
                bitmap_cardinality(vcs).alias("f3"),
                bitmap_and_cardinality(vcs, p).alias("f4"),
            ).collect()
            return _rows(rows, ["day"])
        if kind == "recent":
            q = mv.merge_query(spark, ["hour"], where=F.col("day") == F.lit(self.latest))
            return _rows(q.collect(), ["hour"])
        if kind == "dict_uv":
            day = self.raw.read(spark).filter(F.col("day") == F.lit(param))
            q = (self.dictionary.enrich(day, ["segment"])
                 .groupBy("segment").agg(F.countDistinct("uid").alias("uv")))
            return _rows(q.collect(), ["segment"])
        raise ValueError(kind)

    def plan(self, rng: np.random.Generator):
        """Endless seeded sequence of blocks of (kind, param)."""
        while True:
            block = []
            for kind in rng.permutation(BLOCK):
                param = self.days[rng.integers(len(self.days))] if kind == "dict_uv" else None
                block.append((str(kind), param))
            yield block


def run(h) -> Outcome:
    d = Dashboard(h)
    d.build()
    rng = np.random.default_rng(h.seed + 1)
    blocks = d.plan(rng)
    log = OpLog(h)
    answers: dict[tuple, str] = {}

    def do(kind, param, timed):
        layer = "functions.dictionary" if kind == "dict_uv" else "mv.engine.read"
        res = log.op(kind, lambda: d.query(kind, param), f"query.{kind}", layer,
                     timed=timed)
        key = (kind, param)
        if key not in answers:
            gen.compare(f"{kind}({param})", res, d.expect[key])
            answers[key] = gen.answer_hash(res)
        return key, res

    # warm-up: whole blocks until the block time levels off
    warm_from = probes.process_age_s()
    warm_blocks: list[float] = []
    t_warm = time.perf_counter()
    while True:
        t = time.perf_counter()
        for kind, param in next(blocks):
            do(kind, param, timed=False)
        warm_blocks.append((time.perf_counter() - t) * 1000)
        if len(warm_blocks) >= WARM_MIN_BLOCKS and (
            probes.leveled(warm_blocks, 1, 0.10)
            or time.perf_counter() - t_warm > WARM_MAX_S
        ):
            break
    # every key's first answer is checked; warm-up may not have seen all days
    for day in d.days:
        if ("dict_uv", day) not in answers:
            do("dict_uv", day, timed=False)

    setup_s = probes.process_age_s()
    log.start()
    results = []
    for _ in range(max(1, round(h.seconds / BLOCK_S))):
        for kind, param in next(blocks):
            results.append(do(kind, param, timed=True))
    log.stop()

    for i, (key, res) in enumerate(results):
        if res is not None and gen.answer_hash(res) != answers[key]:
            raise gen.CheckFailed(f"op {i} {key}: answer differs from its first answer")

    events = sum(d.events_in[key] for key, _ in results)
    state_files = dir_files(d.mv.storage.path)
    out = log.outcome(setup_s=setup_s, events=events,
                      stored_bytes_per_event=sum(state_files.values()) / len(d.log))
    out.detail.update(setup=h.setup_phases(warm_from, setup_s), warm_blocks_ms=warm_blocks,
                      days=[str(x) for x in d.days])
    if h.trace:
        out.layer.update(_layer(h, d, results, state_files, log))
    out.layer["gen.batch_ms"] = mean(d.gen_ms)
    return out


def _layer(h, d: Dashboard, results, state_files, log: OpLog) -> dict:
    by_day: dict[str, list[str]] = {}
    for p in state_files:
        by_day.setdefault(Path(p).parent.name, []).append(p)
    rows_day = {k: sum(pq.ParquetFile(p).metadata.num_rows for p in v)
                for k, v in by_day.items()}
    raw_files = dir_files(d.raw.path)
    latest = f"day={d.latest}"

    def scanned(kind, param):
        if kind == "recent":
            return rows_day.get(latest, 0), len(by_day.get(latest, []))
        if kind == "dict_uv":
            n = sum(1 for p in raw_files if Path(p).parent.name == f"day={param}")
            return 0, n
        return sum(rows_day.values()), len(state_files)

    traced = [results[i][0] for i in log.traced_ops]
    out = {f"query.{k}_ms": mean(h.span_ms(f"query.{k}")) for k in set(BLOCK)}
    out["query.jobs_per_query"] = mean(log.jobs[i] for i in log.traced_ops)
    out["query.state_rows_scanned"] = mean(scanned(*k)[0] for k in traced)
    out["tables.read_files_per_query"] = mean(scanned(*k)[1] for k in traced)
    out["tables.parts_per_partition"] = parts_per_partition(state_files)
    return out
