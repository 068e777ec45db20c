"""Readers for ``/proc`` and the summary statistics the benchmark reports.

Everything here is plain Python so it can be unit-tested without Spark.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")
PROC = Path("/proc")


# -- /proc ---------------------------------------------------------------------
def _stat_fields(pid: int, proc: Path = PROC) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the ``(comm)`` field, so that
    index 0 is the state letter (field 3 in proc(5) numbering)."""
    raw = (proc / str(pid) / "stat").read_text()
    return raw[raw.rindex(")") + 2 :].split()


def children(pid: int, proc: Path = PROC) -> list[int]:
    out: list[int] = []
    for task in (proc / str(pid) / "task").glob("*/children"):
        try:
            out.extend(int(c) for c in task.read_text().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return out


def process_tree(root: int | None = None, proc: Path = PROC) -> list[int]:
    """``root`` and every live descendant, parents before children."""
    todo = [os.getpid() if root is None else root]
    seen: list[int] = []
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.append(pid)
        try:
            todo.extend(children(pid, proc))
        except FileNotFoundError:
            continue
    return seen


def cpu_seconds(pids: list[int], proc: Path = PROC) -> float:
    """utime+stime of each process plus the reaped children it waited for
    (cutime+cstime), so work of a child that already exited still counts."""
    ticks = 0
    for pid in pids:
        try:
            f = _stat_fields(pid, proc)
        except (FileNotFoundError, ProcessLookupError):
            continue
        # proc(5) fields 14-17 → indices 11-14 here
        ticks += sum(int(x) for x in f[11:15])
    return ticks / CLK_TCK


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_cpu_seconds(pids: list[int], proc: Path = PROC) -> float:
    """CPU of the JVM's JIT compiler threads (utime+stime)."""
    ticks = 0
    for pid in pids:
        for task in (proc / str(pid) / "task").glob("*"):
            try:
                if (task / "comm").read_text().startswith(JIT_THREADS):
                    raw = (task / "stat").read_text()
                    f = raw[raw.rindex(")") + 2 :].split()
                    ticks += int(f[11]) + int(f[12])
            except (FileNotFoundError, ProcessLookupError):
                continue
    return ticks / CLK_TCK


def _status_kb(pid: int, key: str, proc: Path = PROC) -> int:
    for line in (proc / str(pid) / "status").read_text().splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    return 0


def peak_rss_mb(root: int | None = None, proc: Path = PROC) -> float:
    """Sum over the live process tree of each process's peak resident set
    (``VmHWM``), in MiB."""
    kb = 0
    for pid in process_tree(root, proc):
        try:
            kb += _status_kb(pid, "VmHWM", proc)
        except (FileNotFoundError, ProcessLookupError):
            continue
    return kb / 1024.0


def steal_ms(proc: Path = PROC) -> float:
    """Cumulative host steal time of all CPUs (``/proc/stat``), in ms."""
    with open(proc / "stat") as f:
        fields = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return int(fields[8]) * 1000.0 / CLK_TCK


def host_ref_ms(reps: int = 5, n: int = 1_000_000) -> float:
    """Median ms of a fixed pure-Python loop: a thermometer for how fast
    the host runs one thread right now, to tell host drift from engine
    changes when runs disagree."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(n):
            acc += i * i
        times.append((time.perf_counter() - t) * 1000.0)
    return statistics.median(times)


def process_age_s(pid: int | None = None, proc: Path = PROC) -> float:
    """Seconds since the process started (``starttime`` is in clock ticks
    since boot, the same origin as CLOCK_BOOTTIME)."""
    start = int(_stat_fields(os.getpid() if pid is None else pid, proc)[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start / CLK_TCK


def mem_total_mb(proc: Path = PROC) -> float:
    for line in (proc / "meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemTotal missing from /proc/meminfo")


# -- statistics ---------------------------------------------------------------
MIN_BEYOND = 10


def tail(values: list[float], min_beyond: int = MIN_BEYOND) -> dict:
    """The highest percentile that still has ``min_beyond`` samples above it.

    With n sorted samples that is the value at 1-based rank n - min_beyond,
    reported as percentile 100 * rank / n. Below 4 * min_beyond samples
    that rank falls under the 75th percentile, or no rank qualifies at all,
    so the rank never drops below ceil(0.75 * n): a short run reports its
    75th percentile, not a median twin nor a lone maximum, and ``beyond``
    (< min_beyond) shows the shortfall."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of an empty sample")
    rank = max(n - min_beyond, math.ceil(0.75 * n))
    return {
        "value": xs[rank - 1],
        "percentile": 100.0 * rank / n,
        "beyond": n - rank,
        "n": n,
    }


def halves(values: list[float]) -> dict:
    """Median of the first and second half of the ops in run order; a run
    still warming up shows a second half well below the first."""
    h = len(values) // 2
    if h == 0:
        return {"first": None, "second": None, "ratio": None}
    a = statistics.median(values[:h])
    b = statistics.median(values[h:])
    return {"first": a, "second": b, "ratio": b / a if a else None}


def leveled(values: list[float], window: int, tolerance: float) -> bool:
    """True when the median of the last ``window`` values is within
    ``tolerance`` (a share) of the median of the ``window`` before them."""
    if len(values) < 2 * window:
        return False
    prev = statistics.median(values[-2 * window : -window])
    last = statistics.median(values[-window:])
    return abs(last - prev) <= tolerance * prev


def open_loop_latencies(due: list[float], commits: list[float]) -> list[float]:
    """Latency of each open-loop op in ms: from the time it was due (not
    when it was actually sent) to the commit that made it visible."""
    if len(due) != len(commits):
        raise ValueError(f"{len(due)} due times but {len(commits)} commits")
    out = []
    for d, c in zip(due, commits):
        if c < d:
            raise ValueError(f"commit {c} precedes due time {d}")
        out.append((c - d) * 1000.0)
    return out


def backlog_max(due: list[float], starts: list[float]) -> int:
    """Most files waiting when an epoch started: files already due at the
    epoch's start minus the epochs that started before it (epoch i
    consumes file i)."""
    worst = 0
    j = 0
    for i, s in enumerate(starts):
        while j < len(due) and due[j] <= s:
            j += 1
        worst = max(worst, j - i)
    return worst
