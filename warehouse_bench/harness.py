"""Session, temp root, counters and result assembly shared by the workloads."""

from __future__ import annotations

import os
import subprocess
import time
from dataclasses import dataclass, field
from pathlib import Path

from warehouse_bench import probes
from warehouse_bench.trace import Tracer

# Spark runs two task threads, so the tasks, the Python driver and the
# JVM's compiler and GC threads fit in a 4-core VM without queueing for it
CPUS = 2
SHUFFLE_PARTITIONS = 2
HEAP_CAP_MB = 2048
DICT_LIFETIME_S = 3.0

END_TO_END = (
    ("setup_s", "s"),
    ("latency_p50_ms", "ms"),
    ("latency_tail_ms", "ms"),
    ("ops_per_s", "1/s"),
    ("events_per_s", "1/s"),
    ("cpu_ms_per_op", "ms"),
    ("stored_bytes_per_event", "B"),
    ("peak_rss_mb", "MB"),
)

PER_LAYER = (
    ("session.start_s", "s"),
    ("gen.batch_ms", "ms"),
    ("gen.lag_ms", "ms"),
    ("dictionary.refreshes", "count"),
    ("dictionary.refresh_ms", "ms"),
    ("stream.trigger_ms", "ms"),
    ("stream.add_batch_ms", "ms"),
    ("stream.overhead_ms", "ms"),
    ("stream.jobs_per_epoch", "count"),
    ("stream.backlog_max_files", "count"),
    ("mv.append_ms", "ms"),
    ("mv.jobs_per_append", "count"),
    ("mv.state_rows_per_event", "ratio"),
    ("tables.append_ms", "ms"),
    ("tables.files_written_per_op", "count"),
    ("tables.bytes_written_per_event", "B"),
    ("tables.parts_per_partition", "count"),
    ("tables.read_files_per_query", "count"),
    ("query.rollup_ms", "ms"),
    ("query.funnel_ms", "ms"),
    ("query.recent_ms", "ms"),
    ("query.dict_uv_ms", "ms"),
    ("query.jobs_per_query", "count"),
    ("query.state_rows_scanned", "count"),
    ("maintenance.sweep_ms", "ms"),
    ("maintenance.compact_ms", "ms"),
    ("maintenance.ttl_ms", "ms"),
    ("maintenance.reconcile_ms", "ms"),
    ("maintenance.jobs_per_sweep", "count"),
    ("maintenance.bytes_rewritten_per_event", "B"),
    ("jvm.gc_ms_per_op", "ms"),
    ("host.steal_ms", "ms"),
    ("trace.overhead_pct", "%"),
)

# layers whose self time per op the traced run reports
LAYERS = (
    "bench",
    "streaming.ingest",
    "functions.dictionary",
    "mv.engine.write",
    "mv.engine.read",
    "functions.metrics",
    "tables",
    "maintenance",
)


class BenchError(Exception):
    """A run that cannot produce a valid result (names the failing step)."""


@dataclass
class Outcome:
    """What a workload hands back; run.py turns it into metrics."""

    latencies_ms: list[float]
    attempted: int
    failed: int
    window_s: float
    events: int
    cpu_s: float
    setup_s: float
    stored_bytes_per_event: float
    layer: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


def heap_mb() -> int:
    """Driver heap: a quarter of the machine, at most HEAP_CAP_MB."""
    return int(min(HEAP_CAP_MB, probes.mem_total_mb() / 4))


def session_settings(tmp: Path) -> dict:
    heap = heap_mb()
    java_opts = [
        # fixed minimum heap: the heap never shrinks and resizes, while
        # RSS still follows the pages the run touches
        f"-Xms{heap}m",
        # fixed young generation: eden reuses the same regions after each
        # collection, so peak RSS follows the live data, not how far the
        # adaptive young generation happened to grow
        f"-Xmn{heap // 4}m",
        # C1 only: a JVM that lives one run never reaches C2's steady
        # state, and C2 compiling through the window moved op latency by
        # 10-20% between runs; C1 code is compiled within the warm-up
        "-XX:TieredStopAtLevel=1",
        # compiler threads stay alive, so their CPU can be set apart
        "-XX:-UseDynamicNumberOfCompilerThreads",
        # with the two task threads these fit in 4 cores (see CPUS)
        "-XX:CICompilerCount=2",
        "-XX:ParallelGCThreads=2",
        "-XX:ConcGCThreads=1",
        # no hsperfdata files outside the temp root
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
    ]
    return {
        "cpus": min(CPUS, len(os.sched_getaffinity(0))),
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "extra_conf": {
            "spark.driver.memory": f"{heap}m",
            "spark.driver.extraJavaOptions": " ".join(java_opts),
            "spark.ui.showConsoleProgress": "false",
            # no web UI to start; the status tracker still sees every job
            "spark.ui.enabled": "false",
            "spark.local.dir": str(tmp / "spark-local"),
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
            # job ids per op and epoch are read back from the status tracker
            "spark.ui.retainedJobs": "5000",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    }


def dir_files(root: str | Path) -> dict[str, int]:
    """Data files under ``root`` → size in bytes (hidden/marker files skipped)."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.startswith((".", "_")):
                continue
            p = os.path.join(dirpath, n)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                continue
    return out


def parts_per_partition(files: dict[str, int]) -> float:
    """Mean data files per partition directory of a ``dir_files`` listing."""
    parts = {os.path.dirname(p) for p in files}
    return len(files) / len(parts) if parts else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class Harness:
    """One run: owns the temp root, the Spark session and the tracer."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 tmp: Path) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tmp = tmp
        self.pids = [os.getpid()]
        self.tracer = Tracer(cpu_s=self.cpu_s)
        self.spark = None
        self.settings: dict = {}
        self.session_s = 0.0
        self.session_end_s = 0.0

    # -- session -------------------------------------------------------------------
    def start_session(self):
        from clickhouse_learning_spark.session import get_spark

        self.settings = session_settings(self.tmp)
        t = time.perf_counter()
        self.spark = get_spark(app_name=f"warehouse_bench.{self.workload}",
                               **self.settings)
        self.spark.range(1).collect()
        self.session_s = time.perf_counter() - t
        self.session_end_s = probes.process_age_s()
        self.pids = probes.process_tree()
        conf = self.spark.sparkContext.getConf()
        self.settings["effective"] = {
            k: conf.get(k)
            for k in ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
                      "spark.ui.showConsoleProgress", "spark.ui.enabled", "spark.local.dir")
        }
        return self.spark

    def stop_session(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=20)

    # -- counters -----------------------------------------------------------------
    def cpu_s(self) -> float:
        return probes.cpu_seconds(self.pids)

    def work_cpu_s(self) -> tuple[float, float]:
        """(process-tree CPU minus JIT compilation, JIT compilation) in s.
        Compiling is warm-up that fades at a different pace in every run,
        so it is reported apart from the CPU the ops use."""
        jit = probes.jit_cpu_seconds(self.pids)
        return self.cpu_s() - jit, jit

    def job_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group, False)

    def jobs_in(self, group: str) -> list[int]:
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def gc_ms(self) -> float:
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))

    def wrap_engine(self) -> None:
        """Wrap the public functions of each engine layer for the traced run."""
        from clickhouse_learning_spark.functions import metrics
        from clickhouse_learning_spark.functions.dictionary import Dictionary
        from clickhouse_learning_spark.maintenance import Maintainer
        from clickhouse_learning_spark.mv.engine import MaterializedView
        from clickhouse_learning_spark.tables import Table

        w = self.tracer.wrap
        w(Dictionary, "refresh", "functions.dictionary", "dictionary.refresh")
        w(Dictionary, "enrich", "functions.dictionary", "dictionary.enrich")
        w(MaterializedView, "append_batch", "mv.engine.write", "mv.append_batch")
        w(MaterializedView, "materialize_batch", "mv.engine.write", "mv.materialize_batch")
        w(MaterializedView, "merge_query", "mv.engine.read", "mv.merge_query")
        w(MaterializedView, "merge_states", "mv.engine.read", "mv.merge_states")
        w(MaterializedView, "compact", "maintenance", "mv.compact")
        w(MaterializedView, "partitions_needing_compaction", "maintenance",
          "mv.partitions_needing_compaction")
        w(metrics, "build_states", "functions.metrics", "metrics.build_states")
        w(Table, "read", "tables", "tables.read")
        w(Table, "append", "tables", "tables.append")
        w(Table, "overwrite_partitions", "tables", "tables.overwrite_partitions")
        w(Table, "apply_ttl", "maintenance", "tables.apply_ttl")
        w(Table, "stats", "maintenance", "tables.stats")
        w(Maintainer, "run_once", "maintenance", "maintenance.run_once")

    def setup_phases(self, warm_from_s: float, setup_s: float) -> dict:
        """Where set-up time went, as process ages in seconds."""
        return {"session_s": self.session_s,
                "prebuild_s": warm_from_s - self.session_end_s,
                "warmup_s": setup_s - warm_from_s}

    def span_ms(self, name: str) -> list[float]:
        return [s.ms for s in self.tracer.spans if s.name == name]
