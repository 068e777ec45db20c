"""The state-table read path: the read schema comes from the schemas
Spark wrote into the parquet footers (no schema-inference job), with a
``mergeSchema`` fallback when footers disagree or lack Spark's key, and
a view builds its aggregate Columns once. Pins the read path's Spark
job budget."""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from clickhouse_learning_spark.functions.metrics import MetricSpec
from clickhouse_learning_spark.mv.mainpage import mainpage_mv
from clickhouse_learning_spark.tables import Table, footer_schema

from .conftest import traced
from .test_maintenance import D0, _events

# Spark jobs of merge_query(...).collect() over a small state table; 3
# while planning its read ran Spark's schema-inference job
JOBS_PER_MERGE_QUERY = 2


@pytest.fixture
def state(spark, tmp_path):
    """A 4-day state table: two appends, the first two days compacted."""
    mv = mainpage_mv(str(tmp_path / "state"))
    ev = _events(spark, 4, 400)
    mv.append_batch(ev)
    mv.append_batch(ev.filter(F.col("hour") == 1))
    mv.compact(spark, [D0, D0 + dt.timedelta(days=1)])
    return mv


def _merged(spark, t: Table, partitions=None):
    """The read as ``mergeSchema`` infers it."""
    reader = spark.read.option("mergeSchema", "true")
    if partitions is None:
        return reader.parquet(t.path)
    return reader.option("basePath", t.path).parquet(*map(t.partition_dir, partitions))


def _same_read(spark, t: Table, partitions=None):
    """``t.read`` runs no job and equals the ``mergeSchema`` read."""
    got, jobs, _ = traced(spark, lambda: t.read(spark, partitions))
    want = _merged(spark, t, partitions)
    assert jobs == 0
    assert got.schema == want.schema
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


def test_state_table_reads_footer_schema_without_a_job(spark, state):
    files = state.storage.files()
    assert sorted(len(fs) for fs in files.values()) == [1, 1, 2, 2]
    assert footer_schema(f for fs in files.values() for f in fs) is not None
    _same_read(spark, state.storage)
    _same_read(spark, state.storage, [D0, D0 + dt.timedelta(days=3)])


def test_footer_schema_read_with_null_and_boolean_partitions(spark, tmp_path):
    t = Table(str(tmp_path / "t"), ("day", "ok"))
    df = spark.createDataFrame(
        [(D0, True, 1, [1.0]), (None, False, 2, [2.0, None]), (None, True, 3, None),
         (D0, False, None, [4.0])],
        "day date, ok boolean, uid long, xs array<double>",
    )
    t.append(df)
    t.append(df.filter("uid > 1"))
    t.compact(spark, [(D0, True)])
    _same_read(spark, t)
    _same_read(spark, t, [(None, False), (D0, True)])
    _same_read(spark, t, [(None, True)])


def test_evolved_view_falls_back_to_merged_schema(spark, state):
    """Files written before ``with_metric`` lack the column: the footers
    disagree, the read merges them, and compacting from the old
    definition is refused."""
    mv2 = state.with_metric(MetricSpec("error_cnt", "sum", "1", "event_type = 'error'"))
    mv2.append_batch(_events(spark, 4, 100))
    t = state.storage
    assert footer_schema(f for fs in t.files().values() for f in fs) is None
    got, jobs, _ = traced(spark, lambda: t.read(spark))
    assert jobs >= 1 and "error_cnt" in got.columns
    assert got.schema == _merged(spark, t).schema
    with pytest.raises(ValueError, match="not in this view"):
        state.compact(spark, [D0])


def test_pyarrow_file_falls_back_to_merged_schema(spark, tmp_path):
    t = Table(str(tmp_path / "raw"), ("day",))
    path = os.path.join(t.partition_dir(D0), "part-0.parquet")
    os.makedirs(os.path.dirname(path))
    pq.write_table(pa.table({"uid": [1, 2], "v": ["a", "b"]}), path)
    assert footer_schema([path]) is None
    got, jobs, _ = traced(spark, lambda: t.read(spark))
    assert jobs >= 1
    assert got.schema == _merged(spark, t).schema
    assert sorted(r["uid"] for r in got.collect()) == [1, 2]


def test_file_rewritten_in_place_is_not_served_its_old_footer(spark, tmp_path):
    day = F.lit(D0).alias("day")
    a = Table(str(tmp_path / "a"), ("day",))
    a.append(spark.range(3).select("id", day))
    assert a.read(spark).columns == ["id", "day"]
    b = Table(str(tmp_path / "b"), ("day",))
    b.append(spark.range(3).select("id", F.col("id").cast("string").alias("s"), day))
    (target,) = a.files()[(str(D0),)]
    (source,) = b.files()[(str(D0),)]
    shutil.copyfile(source, target)
    assert a.read(spark).columns == ["id", "s", "day"]


def test_merge_query_builds_its_columns_once(spark, state, monkeypatch):
    calls = []
    orig = MetricSpec.merged_finalized

    def counted(self, *a, **k):
        calls.append(self.name)
        return orig(self, *a, **k)

    monkeypatch.setattr(MetricSpec, "merged_finalized", counted)
    first = sorted(map(repr, state.merge_query(spark, ["day"]).collect()))
    built = len(calls)
    assert built == len(state.metrics)
    assert sorted(map(repr, state.merge_query(spark, ["day"]).collect())) == first
    assert len(calls) == built

    # another metric list gets its own entry, built once
    one = state.merge_query(spark, ["day"], ["event_cnt"])
    two = state.merge_query(spark, ["day"], ["value_sum", "event_cnt"])
    assert one.columns == ["day", "event_cnt"]
    assert two.columns == ["day", "value_sum", "event_cnt"]
    state.merge_query(spark, ["day"], ["event_cnt"])
    assert calls[built:] == ["event_cnt", "value_sum", "event_cnt"]
    totals = {r["day"]: r["event_cnt"] for r in one.collect()}
    assert totals == {r["day"]: r["event_cnt"] for r in two.collect()}
    assert sum(totals.values()) == 400 + 133

    # an evolved view starts with no memo
    mv2 = state.with_metric(MetricSpec("error_cnt", "sum", "1", "event_type = 'error'"))
    mv2.append_batch(_events(spark, 4, 100))
    rows = mv2.merge_query(spark, ["day"]).collect()
    assert sum(r["error_cnt"] for r in rows) == 20
    assert sum(r["event_cnt"] for r in rows) == 400 + 133 + 100


def test_merge_states_builds_its_columns_once(spark, state, monkeypatch):
    calls = []
    orig = MetricSpec.merge

    def counted(self, *a, **k):
        calls.append(self.name)
        return orig(self, *a, **k)

    monkeypatch.setattr(MetricSpec, "merge", counted)
    read = state.storage.read(spark)
    first = state.merge_states(read, ["day"])
    built = len(calls)
    assert built == len(state.metrics)
    second = state.merge_states(read, ["day"])
    assert len(calls) == built
    assert first.columns == second.columns == ["day", *(m.name for m in state.metrics)]
    totals = {r["day"]: r["event_cnt"] for r in first.collect()}
    assert totals == {r["day"]: r["event_cnt"] for r in second.collect()}


def test_read_path_job_budget(spark, state):
    """Planning a read of a Spark-written table runs no job; a
    merge_query runs only its aggregation."""
    _, jobs, _ = traced(spark, lambda: state.storage.read(spark).schema)
    assert jobs == 0
    _, jobs, _ = traced(spark, lambda: state.merge_query(spark, ["day"]).collect())
    assert jobs <= JOBS_PER_MERGE_QUERY
