"""Background maintenance orchestration (SURVEY T2/T5/D8 + §5.2).

The reference relies on ClickHouse background threads (state merges,
TTL expiry) and an ops script with reconciliation checks
(/root/reference/scripts/python/data_rebalance.py:192-347). Here the
same duties are explicit, schedulable jobs over registered tables/MVs.
Like the rebalancer, which compares ``system.parts`` metadata before
and after it moves parts (data_rebalance.py:192-198), every check here
reconciles from metadata the sweep already has — the directory
listing, parquet footers and the ``Observation`` s of the rewrite's own
job — and never re-reads the table:

- TTL: only partitions past the horizon may disappear, and every
  surviving partition keeps exactly its files (names and sizes).
- compaction: per compacted partition, the total of every additive
  metric is the same entering the merge and leaving it (the merged
  answers are unchanged), the merge read every row the partition's
  footers hold, and the published files hold every row it wrote.

A failed check raises ``AssertionError`` naming the view, the
partition and the invariant.
"""

from __future__ import annotations

import datetime as dt
import math
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from clickhouse_learning_spark.mv.engine import MaterializedView
from clickhouse_learning_spark.tables import expired


@dataclass
class MaintenanceJob:
    mv: MaterializedView
    ttl: dt.timedelta | None = None


def _check(ok: bool, *what) -> None:
    """Raise ``AssertionError(what)`` unless ``ok`` — also under ``-O``."""
    if not ok:
        raise AssertionError(what)


def _same_totals(a: dict, b: dict) -> bool:
    """Equal totals; floating sums may differ in summation order only."""
    return a.keys() == b.keys() and all(
        x == y or (isinstance(x, float) and isinstance(y, float)
                   and math.isclose(x, y, rel_tol=1e-9))
        for x, y in ((a[k], b[k]) for k in a)
    )


@dataclass
class Maintainer:
    jobs: list[MaintenanceJob] = field(default_factory=list)

    def register(self, mv: MaterializedView, ttl: dt.timedelta | None = None) -> None:
        self.jobs.append(MaintenanceJob(mv, ttl))

    def run_once(self, spark: SparkSession, now: dt.date | None = None) -> dict[str, dict]:
        """One maintenance sweep per registered view: TTL, then
        compaction of the partitions with more than one file, each
        reconciled as the module docstring says. Touches data only in
        the partitions it compacts; its Spark jobs are the compaction's
        own, so they do not grow with untouched history. Returns a
        per-view report: ``ttl_partitions_kept``, ``partitions_compacted``
        and the compacted partitions' footer rows before and after
        (``state_rows_before`` / ``state_rows_after``)."""
        report: dict[str, dict] = {}
        for job in self.jobs:
            mv, entry = job.mv, {}
            storage = mv.storage
            if job.ttl is not None:
                before = storage.files()
                entry["ttl_partitions_kept"] = storage.apply_ttl(spark, job.ttl, now=now)
                after = storage.files()
                cutoff = (now or dt.date.today()) - job.ttl
                i = storage.partition_by.index("day")
                survivors = {p: fs for p, fs in before.items() if not expired(p[i], cutoff)}
                changed = sorted(
                    (p for p in after.keys() | survivors.keys()
                     if after.get(p) != survivors.get(p)),
                    key=str,
                )
                _check(not changed, mv.name, changed,
                       "TTL kept an expired partition or changed a surviving one")
            # compaction, PARTITION-SCOPED: only partitions whose file
            # count exceeds the threshold are re-merged (the MergeTree
            # "too many parts" trigger) — at 100 TB the sweep never
            # rewrites already-merged history
            need = mv.partitions_needing_compaction(spark, max_files=1)
            rows_before = storage.stats(need)
            seen = mv.compact(spark, partitions=need)
            rows_after = storage.stats(need)
            for p, (seen_in, seen_out) in seen.items():
                _check(seen_in.pop("rows") == rows_before[p]["rows"],
                       mv.name, p, "compaction read != stored footer rows")
                _check(seen_out.pop("rows") == rows_after[p]["rows"],
                       mv.name, p, "compaction wrote != published footer rows")
                _check(_same_totals(seen_in, seen_out), mv.name, p,
                       "compaction changed additive totals", seen_in, seen_out)
            entry["state_rows_before"] = sum(s["rows"] for s in rows_before.values())
            entry["state_rows_after"] = sum(s["rows"] for s in rows_after.values())
            entry["partitions_compacted"] = len(need)
            report[mv.name] = entry
        return report
