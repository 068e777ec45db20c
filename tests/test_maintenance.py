"""Maintainer sweep: TTL + compaction with reconciliation, its job
budget, and the reconciliation failing closed; multi-arg uniq tuple
hashing."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from clickhouse_learning_spark.functions.metrics import MetricSpec, uniq_tuple
from clickhouse_learning_spark.maintenance import Maintainer
from clickhouse_learning_spark.mv.engine import MaterializedView
from clickhouse_learning_spark.mv.mainpage import mainpage_mv, prepare_events
from clickhouse_learning_spark.tables import Table

from .conftest import SF_SMOKE, traced

D0 = dt.date(2024, 1, 1)
# Spark jobs of one sweep that compacts one partition: the merge's two
# shuffle stages and the write (the read schema comes from the footers)
JOBS_PER_SWEEP = 3


def _events(spark, days: int, n: int):
    return spark.range(n).selectExpr(
        f"date_add(DATE'{D0}', CAST(id % {days} AS INT)) AS day",
        "CAST(id % 3 AS INT) AS hour",
        f"element_at(array('A', 'B'), CAST(id DIV {days} % 2 AS INT) + 1) AS segment",
        "element_at(array('view', 'click', 'signup', 'purchase', 'error'),"
        " CAST(id % 5 AS INT) + 1) AS event_type",
        "id % 50 AS uid",
        "CAST(id % 13 AS DOUBLE) AS value",
    )


def _history(spark, path, days: int):
    """A state table of ``days`` single-file days whose last day gets a
    second part, and a Maintainer whose TTL expires the first day when
    it sweeps at the returned ``now``."""
    mv = mainpage_mv(str(path))
    ev = _events(spark, days, 100 * days)
    mv.append_batch(ev)
    mv.append_batch(ev.filter(F.col("day") == F.lit(D0 + dt.timedelta(days=days - 1))))
    m = Maintainer()
    m.register(mv, ttl=dt.timedelta(days=days - 1))
    return mv, m, D0 + dt.timedelta(days=days)


def test_maintainer_sweep(spark, tmp_path):
    ev = prepare_events(spark, SF_SMOKE)
    mv = mainpage_mv(str(tmp_path / "state"))
    for i in range(3):
        mv.append_batch(ev.filter(F.col("event_id") % 3 == i))

    days = sorted(r["day"] for r in ev.select("day").distinct().collect())
    now = days[-1] + dt.timedelta(days=1)
    horizon = dt.timedelta(days=10)

    answers_before = sorted(
        map(str, mv.merge_query(spark, ["day"], ["event_cnt", "value_sum"])
            .filter(F.col("day") >= now - horizon).collect())
    )

    m = Maintainer()
    m.register(mv, ttl=horizon)
    report = m.run_once(spark, now=now)
    entry = report["mainpage_stat_mv"]
    assert entry["state_rows_after"] <= entry["state_rows_before"]
    assert entry["ttl_partitions_kept"] > 0

    answers_after = sorted(
        map(str, mv.merge_query(spark, ["day"], ["event_cnt", "value_sum"]).collect())
    )
    assert answers_before == answers_after  # maintenance never changes answers


def test_sweep_job_budget_flat_in_history(spark, tmp_path):
    """A sweep that expires one day and compacts one runs the same
    Spark jobs over 4 and over 40 days of compacted history, and reads
    only the compacted partition's rows: no whole-table re-merge, count
    or stats scan."""
    seen = {}
    for days in (4, 40):
        mv, m, now = _history(spark, tmp_path / f"d{days}", days)
        report, jobs, read = traced(spark, lambda: m.run_once(spark, now=now))
        entry = report[mv.name]
        assert entry["partitions_compacted"] == 1
        assert entry["ttl_partitions_kept"] == days - 1
        assert read == entry["state_rows_before"]
        seen[days] = jobs
    assert seen[4] == seen[40] <= JOBS_PER_SWEEP, seen


def _drop_one_state_row(self, df):
    """Table.overwrite_partitions writing all but one state row."""
    lost = (F.col("hour") == 0) & (F.col("segment") == "A")
    return _overwrite(self, df.filter(~lost))


def _skew_one_value_sum(self, df, group_by):
    """MaterializedView.merge_states adding 1 to one row's value_sum."""
    out = _merge_states(self, df, group_by)
    one = (F.col("hour") == 0) & (F.col("segment") == "A")
    return out.withColumn("value_sum", F.col("value_sum") + F.when(one, 1).otherwise(0))


def _ttl_rewriting_a_survivor(self, spark, keep, now=None, day_col="day"):
    """Table.apply_ttl that also rewrites its oldest surviving partition
    (one compacted file) with the same rows."""
    kept = _apply_ttl(self, spark, keep, now=now, day_col=day_col)
    oldest = min(self.files())
    _overwrite(self, self.read(spark, [oldest]))
    return kept


_overwrite = Table.overwrite_partitions
_merge_states = MaterializedView.merge_states
_apply_ttl = Table.apply_ttl


@pytest.mark.parametrize(
    "cls, name, fault, message",
    [
        (Table, "overwrite_partitions", _drop_one_state_row,
         "compaction wrote != published footer rows"),
        (MaterializedView, "merge_states", _skew_one_value_sum,
         "compaction changed additive totals"),
        (Table, "apply_ttl", _ttl_rewriting_a_survivor,
         "TTL kept an expired partition or changed a surviving one"),
    ],
    ids=["compaction_drops_a_row", "compaction_changes_value_sum",
         "ttl_rewrites_a_survivor"],
)
def test_sweep_reconciliation_fails_closed(spark, tmp_path, monkeypatch,
                                           cls, name, fault, message):
    _, m, now = _history(spark, tmp_path / "state", 4)
    monkeypatch.setattr(cls, name, fault)
    with pytest.raises(AssertionError, match=message):
        m.run_once(spark, now=now)


def test_uniq_tuple_multi_arg(spark):
    """uniqCombined(uid, event_type) — tuple-hash distinct equals the
    exact distinct pair count (exact kind; HLL kind within ε)."""
    ev = prepare_events(spark, SF_SMOKE)
    spec = MetricSpec("pairs", "uniq_exact", uniq_tuple("uid", "event_type"))
    got = {
        str(r["day"]): r["pairs"]
        for r in ev.groupBy("day").agg(spec.partial()).select(
            "day", spec.finalize()
        ).collect()
    }
    want = {
        str(r["day"]): r["n"]
        for r in ev.select("day", "uid", "event_type")
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_bloom_filter_skip_index(spark, tmp_path):
    """bloom_filter_cols (ClickHouse `INDEX ... TYPE bloom_filter`
    analog): files written with the bloom option carry the extra filter
    bytes (this pyarrow/duckdb can't surface the offset directly), and
    point lookups still answer exactly."""
    import glob
    import os

    from pyspark.sql import functions as F

    from clickhouse_learning_spark.tables import Table

    df = spark.range(100_000).selectExpr(
        "CAST(id % 3 AS INT) AS day", "id * 7919 % 1000003 AS uid", "id AS v"
    )

    def total(path):
        return sum(
            os.path.getsize(f)
            for f in glob.glob(str(path) + "/day=*/*.parquet")
        )

    plain = Table(str(tmp_path / "plain"), partition_by=("day",), sort_key=("uid",))
    plain.append(df)
    bloomed = Table(
        str(tmp_path / "bloomed"),
        partition_by=("day",),
        sort_key=("uid",),
        bloom_filter_cols=("uid",),
        bloom_filter_ndv={"uid": 40_000},
    )
    bloomed.append(df)
    # the bloom filter is real bytes in the footer region (~5-50% here)
    assert total(tmp_path / "bloomed") > total(tmp_path / "plain") * 1.05

    probe = df.filter("id = 1234").collect()[0]["uid"]
    got = bloomed.read(spark).filter(F.col("uid") == probe).collect()
    assert any(r["v"] == 1234 for r in got)
