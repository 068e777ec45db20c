"""Table.rewrite, the one path that reads stored partitions, transforms
them and writes them back: the table survives a failed rename, emptied
partitions are dropped, collected partition values key the listing, and
a TTL rollup reads only the expired partitions and keeps its answers."""

from __future__ import annotations

import contextlib
import datetime as dt
import os
from pathlib import Path

from pyspark.sql import functions as F

from clickhouse_learning_spark import merge_policies as MP
from clickhouse_learning_spark.functions.metrics import MetricSpec
from clickhouse_learning_spark.mv.engine import MaterializedView, rollup_ttl
from clickhouse_learning_spark.tables import Table

from .conftest import traced
from .test_partition_mutations import _files

D0 = dt.date(2024, 1, 1)
# Spark jobs of compacting a 4-day view holding the four value→count
# kinds, a bitmap and a count; 20 while each value→count kind was
# compressed in its own step after the merge
JOBS_PER_SKETCH_COMPACT = 15


def _outside(files: dict, part_dir: str) -> dict:
    return {k: v for k, v in files.items() if not k.startswith(part_dir + os.sep)}


def test_whole_table_compact_keeps_the_table_when_a_rename_fails(spark, tmp_path, monkeypatch):
    """A whole-table compaction of a partitioned table rewrites it
    partition by partition: no step removes the table and renames a
    staged copy into its place, so a failing rename cannot lose it."""
    df = spark.range(200).select(
        "id", F.date_add(F.lit(D0), (F.col("id") % 4).cast("int")).alias("day")
    )
    t = Table(str(tmp_path / "t"), ("day",))
    t.append(df.filter("id % 2 = 0"))
    t.append(df.filter("id % 2 = 1"))

    def failing_rename(self, target):
        raise OSError(f"rename {self} -> {target} failed")

    monkeypatch.setattr(Path, "rename", failing_rename)
    with contextlib.suppress(OSError):
        t.compact(spark)
    monkeypatch.undo()
    assert sorted(r.id for r in t.read(spark).collect()) == list(range(200))
    assert {len(fs) for fs in t.files().values()} == {1}


def test_whole_table_collapsing_drops_a_cancelled_partition(spark, tmp_path):
    """compact_collapsing over the whole table: a partition whose signs
    all cancel gets no output rows, and its directory is dropped."""
    t = Table(str(tmp_path / "coll"), partition_by=("day",), sort_key=("uid",))
    schema = "day int, uid long, sign int, amount long"
    t.append(spark.createDataFrame([(1, 10, 1, 100), (1, 20, 1, 5), (2, 30, 1, 70)], schema))
    t.append(spark.createDataFrame([(1, 20, -1, 5), (2, 30, -1, 70)], schema))
    MP.compact_collapsing(t, spark, ["uid"])
    assert not os.path.exists(t.partition_dir(2))
    assert list(t.files()) == [("1",)]
    assert [(r.uid, r.amount) for r in t.read(spark).collect()] == [(10, 100)]


def test_mutations_key_collected_values_as_the_listing(spark, tmp_path):
    """delete_where/update_where find the affected partitions from
    collected rows; an int, a NULL and a boolean partition value must
    name the directories Spark wrote. Untouched partitions keep their
    files and mtimes; a partial delete in the NULL partition keeps its
    other rows; a delete that empties a partition drops it."""
    df = spark.range(40).selectExpr(
        "id", "element_at(array(1, 2, 3, NULL), CAST(id % 4 AS INT) + 1) AS g"
    )
    t = Table(str(tmp_path / "by_int"), ("g",))
    t.append(df)

    before = _files(t.path)
    assert t.delete_where(spark, "id = 2") == 1  # g = 3
    assert _outside(_files(t.path), "g=3") == _outside(before, "g=3")

    null_dir = "g=__HIVE_DEFAULT_PARTITION__"
    before = _files(t.path)
    assert t.delete_where(spark, "g IS NULL AND id < 20") == 1
    assert _outside(_files(t.path), null_dir) == _outside(before, null_dir)
    assert sorted(r.id for r in t.read(spark).filter("g IS NULL").collect()) == [23, 27, 31, 35, 39]

    assert t.delete_where(spark, "g = 1") == 1
    assert not os.path.exists(os.path.join(t.path, "g=1"))
    assert sorted(t.files(), key=str) == [("2",), ("3",), (None,)]
    assert t.read(spark).count() == 40 - 1 - 5 - 10

    b = Table(str(tmp_path / "by_bool"), ("flag",))
    b.append(df.selectExpr("id", "id % 2 = 0 AS flag"))
    before = _files(b.path)
    assert b.update_where(spark, {"id": "id + 100"}, "id = 4") == 1
    assert _outside(_files(b.path), "flag=true") == _outside(before, "flag=true")
    assert b.read(spark).filter("id = 104 AND flag").count() == 1


SKETCHES = (
    MetricSpec("top", "topk", "v", k=3),
    MetricSpec("p50", "quantile", "v"),
    MetricSpec("by_v", "summap", "v", weight="w"),
    MetricSpec("uv", "bitmap", "uid"),
    MetricSpec("cnt", "count"),
)


def _view(spark, path, days: int, metrics):
    """A (day, g) view over ``days`` days, two parts per day → (the
    view, its events)."""
    mv = MaterializedView(
        "v", dims=("day", "g"), metrics=metrics,
        storage=Table(path, partition_by=("day",), sort_key=("g",)),
    )
    # at most 7 distinct v per day, inside topk's reserve of 4 * k = 12
    ev = spark.range(60 * days).selectExpr(
        f"date_add(DATE'{D0}', CAST(id % {days} AS INT)) AS day",
        f"CAST(id DIV {days} % 3 AS INT) AS g",
        "id % 6 + (id DIV 7) % 2 AS v",
        "id % 5 AS w",
        "id % 17 AS uid",
        f"id DIV {days} % 2 AS part",
    )
    for part in (0, 1):
        mv.append_batch(ev.filter(F.col("part") == part))
    return mv, ev


def test_rollup_ttl_reads_only_expired_partitions(spark, tmp_path):
    """TTL GROUP BY rolls up exactly the expired partitions: its Spark
    stages read their footer rows and nothing else, and the recent
    partitions keep their files. (The metrics are single-pass merges:
    each re-sum of a value→count kind scans its input again.)"""
    mv, _ = _view(spark, str(tmp_path / "state"), 6, SKETCHES[3:])
    expired = [(str(D0 + dt.timedelta(days=i)),) for i in range(3)]
    footer_rows = sum(s["rows"] for s in mv.storage.stats(expired).values())
    recent = {p: fs for p, fs in mv.storage.files().items() if p not in expired}

    n, _, read = traced(
        spark, lambda: rollup_ttl(mv, spark, dt.timedelta(days=3), ["day"], now=D0 + dt.timedelta(days=6))
    )
    assert n == 3
    assert read == footer_rows == 3 * 2 * 3  # days × parts × g
    assert {p: fs for p, fs in mv.storage.files().items() if p not in expired} == recent


def test_rollup_ttl_keeps_sketch_answers(spark, tmp_path):
    """A rollup merges topk, quantile, summap and bitmap states at the
    coarse dims and compresses them as compaction does: the day-level
    answers are unchanged, each rolled-up day is one row with NULL fine
    dims, and its quantile state holds one entry per distinct value."""
    mv, ev = _view(spark, str(tmp_path / "state"), 4, SKETCHES)

    def answers():
        return sorted(map(str, mv.merge_query(spark, ["day"], ["top", "p50", "by_v", "uv", "cnt"]).collect()))

    before = answers()
    n = rollup_ttl(mv, spark, dt.timedelta(days=2), ["day"], now=D0 + dt.timedelta(days=4))
    assert n == 2
    assert answers() == before

    cutoff = D0 + dt.timedelta(days=2)
    old = mv.storage.read(spark).filter(F.col("day") < F.lit(cutoff))
    assert old.count() == 2 and old.filter("g IS NOT NULL").count() == 0
    distinct = {
        r.day: r.n
        for r in ev.filter(F.col("day") < F.lit(cutoff)).groupBy("day")
        .agg(F.count_distinct("v").alias("n")).collect()
    }
    assert {r.day: r.n for r in old.select("day", F.size("p50").alias("n")).collect()} == distinct


def test_compaction_of_value_count_kinds_reads_each_state_once(spark, tmp_path):
    """Compacting topk, quantile, quantile_sketch, summap, bitmap and
    count states reads the stored rows once for the plain merge and once
    for each value→count kind's re-sum, within its job budget."""
    metrics = (*SKETCHES, MetricSpec("dd", "quantile_sketch", "v"))
    mv, _ = _view(spark, str(tmp_path / "state"), 4, metrics)
    footer_rows = sum(s["rows"] for s in mv.storage.stats(list(mv.storage.files())).values())

    done, jobs, read = traced(spark, lambda: mv.compact(spark))
    assert len(done) == 4
    assert read == (1 + 4) * footer_rows == 5 * 4 * 2 * 3  # days × parts × g
    assert jobs <= JOBS_PER_SKETCH_COMPACT, jobs
