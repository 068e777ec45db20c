"""Partition-pruned mutations (tables.py): DROP PARTITION is
metadata-only, TTL on the partition column never rewrites survivors,
and row-level DELETE touches only partitions containing matching rows —
the MergeTree mutation semantics at 100 TB cost."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from clickhouse_learning_spark.tables import Table


def _mk(spark, path, days=5, rows_per_day=100):
    df = spark.range(days * rows_per_day).select(
        F.col("id"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % days).cast("int")).alias("day"),
        (F.col("id") % 7).alias("g"),
    )
    t = Table(str(path), ("day",))
    t.append(df)
    return t


def _files(path):
    """{relpath: mtime_ns} of every parquet file under path."""
    out = {}
    for r, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(r, f)
                out[os.path.relpath(p, path)] = os.stat(p).st_mtime_ns
    return out


def test_drop_partitions_is_metadata_only(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    before = _files(t.path)
    dropped = t.drop_partitions(spark, [dt.date(2024, 1, 1), dt.date(2024, 1, 3)])
    assert dropped == 2
    after = _files(t.path)
    # survivors byte-for-byte untouched (same files, same mtimes)
    assert after == {k: v for k, v in before.items() if "day=2024-01-01" not in k and "day=2024-01-03" not in k}
    days = {str(r[0]) for r in t.read(spark).select("day").distinct().collect()}
    assert days == {"2024-01-02", "2024-01-04", "2024-01-05"}


def test_apply_ttl_on_partition_column_never_rewrites_survivors(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    before = _files(t.path)
    kept = t.apply_ttl(
        spark, keep=dt.timedelta(days=3), now=dt.date(2024, 1, 5)
    )  # cutoff 2024-01-02: drops day=2024-01-01 only
    assert kept == 4
    after = _files(t.path)
    survivors = {k: v for k, v in before.items() if "day=2024-01-01" not in k}
    assert after == survivors  # metadata-only: mtimes unchanged


def test_delete_where_rewrites_only_affected_partitions(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    before = _files(t.path)
    n = t.delete_where(spark, "day = DATE'2024-01-02' AND g = 3")
    assert n == 1  # one partition touched
    after = _files(t.path)
    untouched = {k: v for k, v in before.items() if "day=2024-01-02" not in k}
    assert {k: v for k, v in after.items() if "day=2024-01-02" not in k} == untouched
    got = t.read(spark)
    assert got.filter("day = DATE'2024-01-02' AND g = 3").count() == 0
    assert got.filter("day = DATE'2024-01-02'").count() > 0  # other rows survive
    assert got.filter("day != DATE'2024-01-02' AND g = 3").count() > 0


def test_delete_where_drops_fully_emptied_partition(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    n = t.delete_where(spark, "day = DATE'2024-01-04'")
    assert n == 1
    days = {str(r[0]) for r in t.read(spark).select("day").distinct().collect()}
    assert "2024-01-04" not in days and len(days) == 4


def test_delete_where_no_match_is_noop(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    before = _files(t.path)
    assert t.delete_where(spark, "g = 99") == 0
    assert _files(t.path) == before


def test_update_where_rewrites_only_affected_partitions(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    before = _files(t.path)
    n = t.update_where(
        spark, {"g": "g + 100"}, "day = DATE'2024-01-02' AND g = 3"
    )
    assert n == 1
    after = _files(t.path)
    untouched = {k: v for k, v in before.items() if "day=2024-01-02" not in k}
    assert {k: v for k, v in after.items() if "day=2024-01-02" not in k} == untouched
    got = t.read(spark)
    assert got.filter("day = DATE'2024-01-02' AND g = 3").count() == 0
    assert got.filter("day = DATE'2024-01-02' AND g = 103").count() > 0
    assert got.count() == 500  # no rows created or lost
    # other partitions' g=3 rows untouched
    assert got.filter("day != DATE'2024-01-02' AND g = 3").count() > 0


def test_update_where_simultaneous_old_row_assignment(spark, tmp_path):
    # CH mutation semantics: every assignment reads the OLD row, so
    # swapping two columns must actually swap them
    df = spark.createDataFrame(
        [(dt.date(2024, 1, 1), 1, 10), (dt.date(2024, 1, 1), 2, 20)],
        "day date, a long, b long",
    )
    t = Table(str(tmp_path / "sw"), ("day",))
    t.append(df)
    t.update_where(spark, {"a": "b", "b": "a"}, "a = 1")
    rows = {(r.a, r.b) for r in t.read(spark).collect()}
    assert rows == {(10, 1), (2, 20)}


def test_update_where_rejects_key_columns(spark, tmp_path):
    import pytest

    t = _mk(spark, tmp_path / "t")
    with pytest.raises(ValueError, match="immutable"):
        t.update_where(spark, {"day": "day"}, "g = 1")


def test_update_where_no_match_is_noop(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    before = _files(t.path)
    assert t.update_where(spark, {"g": "0"}, "g = 99") == 0
    assert _files(t.path) == before


def test_parse_mutation_update(spark, tmp_path):
    from clickhouse_learning_spark import ddl

    mu = ddl.parse_mutation(
        "ALTER TABLE db.t ON CLUSTER c UPDATE g = toInt64(g) + 1, "
        "id = id * 2 WHERE g = 3"
    )
    assert mu.kind == "update"
    assert mu.assignments == {"g": "CAST(g AS BIGINT) + 1", "id": "id * 2"}
    t = _mk(spark, tmp_path / "t")
    n = mu.apply(t, spark)
    assert n == 5  # g=3 rows exist in every day partition
    got = t.read(spark)
    assert got.filter("g = 3").count() == 0
    assert got.filter("g = 4").count() > 0


def test_listing_equals_spark_file_view(spark, tmp_path):
    """Table.files is Spark's own view of the table, with no job: the
    partitions and files ``input_file_name()`` reports, across a
    two-level key with a NULL value and an escaped string value, while
    a staged ``_stage-`` dir (hidden from readers) sits in the root.
    drop_partitions accepts its keys as they are."""
    from dataclasses import replace
    from urllib.parse import unquote, urlparse

    df = spark.createDataFrame(
        [("2024-01-01", "a b/c:d=%e", 1), ("2024-01-01", None, 2),
         ("2024-01-02", "x", 3), ("2024-01-02", "ü#?", 4)],
        "day string, s string, v int",
    ).withColumn("day", F.to_date("day"))
    t = Table(str(tmp_path / "t"), ("day", "s"))
    t.append(df)
    t.append(df.filter("v > 2"))
    replace(t, path=os.path.join(t.path, "_stage-0-1")).append(df)

    seen: dict = {}
    for r in t.read(spark).select("day", "s", F.input_file_name()).collect():
        key = (str(r[0]), r[1])
        seen.setdefault(key, set()).add(unquote(urlparse(r[2]).path))
    listed = {k: set(fs) for k, fs in t.files().items()}
    assert listed == seen
    assert {k: len(fs) for k, fs in listed.items()} == {
        ("2024-01-01", "a b/c:d=%e"): 1, ("2024-01-01", None): 1,
        ("2024-01-02", "x"): 2, ("2024-01-02", "ü#?"): 2,
    }
    assert all(os.path.getsize(f) == n for fs in t.files().values() for f, n in fs.items())

    assert t.drop_partitions(spark, [("2024-01-01", "a b/c:d=%e"), ("2024-01-01", None)]) == 2
    assert sorted(r.v for r in t.read(spark).collect()) == [3, 3, 4, 4]


def test_delete_where_keeps_rows_whose_condition_is_null(spark, tmp_path):
    """ClickHouse's ``DELETE WHERE`` treats a NULL condition as false:
    the row with a NULL ``uid`` survives ``uid = 1``."""
    t = Table(str(tmp_path / "t"), ("day",))
    t.append(spark.createDataFrame(
        [(1, "a"), (None, "b"), (2, "c")], "uid long, v string"
    ).withColumn("day", F.lit(dt.date(2024, 1, 1))))
    assert t.delete_where(spark, "uid = 1") == 1
    assert sorted(r["v"] for r in t.read(spark).collect()) == ["b", "c"]
