"""MV engine invariants, modeled on the reference's own validation style
(SURVEY.md §5): dual-path equivalence (state table vs direct query),
merge-correctness pre/post compaction, and ε-bounds for HLL metrics."""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from clickhouse_learning_spark.functions.metrics import MetricSpec
from clickhouse_learning_spark.mv.engine import MaterializedView
from clickhouse_learning_spark.mv.mainpage import mainpage_mv, prepare_events
from clickhouse_learning_spark.tables import Table

from .conftest import SF_SMOKE, traced

# Spark jobs of one MaterializedView.append_batch of a 2k-row, 3-day
# batch into the mainpage view, as measured; a budget only goes down
JOBS_PER_APPEND = 3
# the same for a 2.4k-row batch into the MIXED view, which holds every
# value→count kind; 15 while each (value, weight) source had its own
# pre-count pass
JOBS_PER_SKETCH_APPEND = 6


@pytest.fixture(scope="module")
def mv(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("mv") / "mainpage_stat")
    mv = mainpage_mv(path)
    ev = prepare_events(spark, SF_SMOKE)
    # three insert batches — insert-trigger semantics (docs/…md:298-301)
    for i in range(3):
        mv.append_batch(ev.filter(F.col("event_id") % 3 == i))
    return mv


@pytest.fixture(scope="module")
def events(spark):
    return prepare_events(spark, SF_SMOKE).cache()


def _direct(events, group_cols):
    return events.groupBy(*group_cols).agg(
        F.count_distinct(F.when(F.col("event_type") == "view", F.col("uid"))).alias("view_uv"),
        F.coalesce(F.sum(F.when(F.col("event_type") == "view", 1)), F.lit(0)).alias("view_cnt"),
        F.count_distinct(F.when(F.col("event_type") == "click", F.col("uid"))).alias("click_uv"),
        F.sum(F.expr("CAST(value*1000 AS BIGINT)")).alias("value_sum"),
        F.count(F.lit(1)).alias("event_cnt"),
    )


def rows_by_key(df, keys):
    return {tuple(str(r[k]) for k in keys): r.asDict() for r in df.collect()}


def test_dual_path_state_vs_direct(spark, mv, events):
    """State-table answer == direct raw-log answer (the reference's MV vs
    JOIN validation, docs/…md:1136-1205). HLL metrics within ε of exact."""
    got = rows_by_key(
        mv.merge_query(spark, ["day", "segment"],
                       ["view_uv", "view_cnt", "click_uv", "value_sum", "event_cnt"]),
        ["day", "segment"],
    )
    want = rows_by_key(_direct(events, ["day", "segment"]), ["day", "segment"])
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert g["view_cnt"] == w["view_cnt"], k
        assert g["value_sum"] == w["value_sum"], k
        assert g["event_cnt"] == w["event_cnt"], k
        for uv in ("view_uv", "click_uv"):
            exact = w[uv]
            assert abs(g[uv] - exact) <= max(2, 0.05 * exact), (k, uv)


def test_merge_correct_pre_and_post_compaction(spark, mv):
    """OPTIMIZE FINAL equivalence (docs/…md:934-996): compaction must not
    change any query result."""
    q = lambda: sorted(
        mv.merge_query(spark, ["day"], ["view_uv", "view_cnt", "value_sum", "event_cnt"])
        .collect(),
        key=lambda r: str(r["day"]),
    )
    before = q()
    pre_rows = mv.storage.read(spark).count()
    mv.compact(spark)
    post_rows = mv.storage.read(spark).count()
    assert post_rows < pre_rows  # 3 batches merged to 1 row per key
    after = q()
    assert [r.asDict() for r in before] == [r.asDict() for r in after]


def test_median_state_merges_exactly(spark, mv, events):
    got = {
        str(r["day"]): r["value_median"]
        for r in mv.merge_query(spark, ["day"], ["value_median"]).collect()
    }
    want = {
        str(r["day"]): r["m"]
        for r in events.groupBy("day")
        .agg(F.median(F.expr("CAST(value*1000 AS BIGINT)")).alias("m"))
        .collect()
    }
    assert got == want


def test_bitmap_funnel_monotone(spark, mv):
    """Funnel via bitmap intersection (dwm…sql:280-290): each stage's
    intersected cardinality is ≤ the previous stage's."""
    states = mv.merge_states(mv.storage.read(spark), ["day"])
    row = states.select(
        F.size("view_bm").alias("s1"),
        F.size(F.array_intersect("view_bm", "click_bm")).alias("s2"),
        F.size(F.array_intersect(F.array_intersect("view_bm", "click_bm"), "signup_bm")).alias("s3"),
    ).collect()
    for r in row:
        assert r["s1"] >= r["s2"] >= r["s3"] >= 0


def test_union_merge_disjoint_columns(spark, tmp_path, events):
    """Two writers fill disjoint metric columns of one wide table; rows
    merge away at query time (docs/…md:822-828,848-996)."""
    m_all = (
        MetricSpec("a_cnt", "sum", "1", "event_type = 'view'"),
        MetricSpec("b_cnt", "sum", "1", "event_type = 'click'"),
    )
    mv = MaterializedView(
        "wide", ("day",), m_all, Table(str(tmp_path / "wide"), ("day",))
    )
    log1 = events.filter("event_type = 'view'")
    log2 = events.filter("event_type = 'click'")
    s1 = log1.groupBy("day").agg(m_all[0].partial())
    s2 = log2.groupBy("day").agg(m_all[1].partial())
    merged = mv.union_merge(s1, s2)
    mv.storage.append(merged)
    got = rows_by_key(mv.merge_query(spark, ["day"]), ["day"])
    want = rows_by_key(
        events.groupBy("day").agg(
            F.coalesce(F.sum(F.when(F.col("event_type") == "view", 1)), F.lit(0)).alias("a_cnt"),
            F.coalesce(F.sum(F.when(F.col("event_type") == "click", 1)), F.lit(0)).alias("b_cnt"),
        ),
        ["day"],
    )
    assert got == want


def test_ttl_drops_old_partitions(spark, tmp_path, events):
    t = Table(str(tmp_path / "ttl_tbl"), ("day",))
    t.append(events.select("day", "uid", "event_type"))
    days = sorted(r["day"] for r in events.select("day").distinct().collect())
    cutoff_days = 3
    now = days[-1] + dt.timedelta(days=1)
    kept = t.apply_ttl(spark, keep=dt.timedelta(days=cutoff_days), now=now)
    remaining = sorted(r["day"] for r in t.read(spark).select("day").distinct().collect())
    assert all(d >= now - dt.timedelta(days=cutoff_days) for d in remaining)
    assert kept == len(remaining) > 0


def test_overwrite_partitions_idempotent_reload(spark, tmp_path, events):
    """Idempotent dim load (make_user_dim_info_toch.py:40-63): re-loading
    one day replaces exactly that day."""
    t = Table(str(tmp_path / "dim_tbl"), ("day",))
    df = events.select("day", "uid", "value")
    t.append(df)
    one_day = df.select("day").distinct().limit(1).collect()[0]["day"]
    reload_df = df.filter(F.col("day") == one_day).withColumn("value", F.lit(0.0))
    t.overwrite_partitions(reload_df)
    out = t.read(spark)
    assert out.filter((F.col("day") == one_day) & (F.col("value") != 0.0)).count() == 0
    assert out.count() == df.count()


def test_partition_scoped_compaction(spark, tmp_path):
    """OPTIMIZE TABLE … PARTITION p analog: only the named partitions
    are re-merged and rewritten; untouched partitions keep their
    original files (byte-identical paths), and merge-on-read answers
    are identical before and after."""
    import glob as _glob

    from clickhouse_learning_spark.mv.mainpage import mainpage_mv, prepare_events
    from tests.conftest import SF_SMOKE

    mv = mainpage_mv(str(tmp_path / "state"))
    ev = prepare_events(spark, SF_SMOKE)
    # two appends → ≥2 files per partition
    mv.append_batch(ev.filter(F.col("event_id") % 2 == 0))
    mv.append_batch(ev.filter(F.col("event_id") % 2 == 1))

    need = mv.partitions_needing_compaction(spark, max_files=1)
    assert need, "two appends must leave multi-file partitions"
    target, keep = need[0], need[1:]
    keep_dirs = {
        d: sorted(_glob.glob(str(tmp_path / "state" / f"day={d[0]}" / "*.parquet")))
        for d in keep
    }

    before = {
        tuple(str(r[k]) for k in ("day", "segment")): r["event_cnt"]
        for r in mv.merge_query(spark, ["day", "segment"], ["event_cnt"]).collect()
    }
    mv.compact(spark, partitions=[target])
    after = {
        tuple(str(r[k]) for k in ("day", "segment")): r["event_cnt"]
        for r in mv.merge_query(spark, ["day", "segment"], ["event_cnt"]).collect()
    }
    assert before == after

    # compacted partition now single-file; others untouched byte-for-byte
    got = {tuple(r) for r in mv.partitions_needing_compaction(spark, max_files=1)}
    assert target not in got
    for d, files in keep_dirs.items():
        now = sorted(_glob.glob(str(tmp_path / "state" / f"day={d[0]}" / "*.parquet")))
        assert now == files

    # empty selection is a no-op
    mv.compact(spark, partitions=[])


def test_rollup_ttl_downsamples_old_partitions(spark, tmp_path):
    """TTL … GROUP BY analog: expired partitions re-aggregate at the
    coarse grain (fine dims become NULL, schema stable); recent
    partitions keep full detail byte-for-byte; merged coarse answers
    are identical before and after."""
    import datetime as dt
    import glob as _glob

    from clickhouse_learning_spark.mv.engine import rollup_ttl
    from clickhouse_learning_spark.mv.mainpage import mainpage_mv, prepare_events
    from tests.conftest import SF_SMOKE

    mv = mainpage_mv(str(tmp_path / "state"))
    ev = prepare_events(spark, SF_SMOKE)
    mv.append_batch(ev)

    days = sorted(r[0] for r in ev.select("day").distinct().collect())
    cutoff_day = days[len(days) // 2]
    now = days[-1]
    keep = now - cutoff_day  # days >= cutoff_day survive untouched

    before = {
        (str(r["day"]),): r["event_cnt"]
        for r in mv.merge_query(spark, ["day"], ["event_cnt"]).collect()
    }
    recent_files = {
        d: sorted(_glob.glob(str(tmp_path / "state" / f"day={d}" / "*.parquet")))
        for d in days
        if d >= cutoff_day
    }
    rows_before = mv.storage.read(spark).count()

    n = rollup_ttl(mv, spark, keep, ["day"], now=now)
    assert n == len([d for d in days if d < cutoff_day])

    # coarse (day-level) answers unchanged
    after = {
        (str(r["day"]),): r["event_cnt"]
        for r in mv.merge_query(spark, ["day"], ["event_cnt"]).collect()
    }
    assert after == before
    # old partitions shrank; recent ones byte-identical
    assert mv.storage.read(spark).count() < rows_before
    for d, files in recent_files.items():
        assert sorted(
            _glob.glob(str(tmp_path / "state" / f"day={d}" / "*.parquet"))
        ) == files
    # rolled-up rows carry NULL fine dims
    old = mv.storage.read(spark).filter(F.col("day") < F.lit(cutoff_day))
    assert old.filter(F.col("segment").isNotNull()).count() == 0


def test_compacted_states_equal_an_independent_resum(spark, tmp_path):
    """Compaction re-sums every value→count state per key and value:
    each stored row's entries equal a pure-Python re-sum of the appended
    entries, sorted by value (quantile, quantile_sketch, summap) or, for
    topk, the reserve highest counts with ties on the smaller value.
    Covers -If conds, NULL dims, topk states past their reserve and keys
    whose rows all fail a cond (their state stays [])."""
    metrics = (
        MetricSpec("top", "topk", "v", cond="v % 5 <> 0", k=2, reserve=5),
        MetricSpec("q", "quantile", "v", cond="w > 0"),
        MetricSpec("dd", "quantile_sketch", "v * 7"),
        MetricSpec("sm", "summap", "v % 4", weight="w", cond="g IS NULL OR g <> 2"),
        MetricSpec("cnt", "count"),
    )
    mv = MaterializedView(
        "resum", dims=("day", "g"), metrics=metrics,
        storage=Table(str(tmp_path / "state"), partition_by=("day",)),
    )
    ev = spark.range(2400).selectExpr(
        "date_add(DATE'2024-01-01', CAST(id % 4 AS INT)) AS day",
        "CASE WHEN id % 7 = 0 THEN NULL ELSE CAST(id % 3 AS INT) END AS g",
        "(id DIV 12 + id DIV 300) % 27 AS v",
        "id % 4 AS w",  # 0 on the first day: its q rows all fail w > 0
        "id DIV 5 % 3 AS part",
    )
    for part in range(3):
        mv.append_batch(ev.filter(F.col("part") == part))
    counted = [m for m in metrics if m.kind in MetricSpec.PRECOUNT_KINDS]
    sums: dict = {}
    for r in mv.storage.read(spark).collect():
        for m in counted:
            per_value = sums.setdefault((r["day"], r["g"]), {}).setdefault(m.name, {})
            for value, c in r[m.name] or []:
                per_value[value] = per_value.get(value, 0) + c

    def resum(m, per_value):
        if m.kind == "topk":
            return sorted(per_value.items(), key=lambda e: (-e[1], e[0]))[: m.topk_reserve]
        return sorted(per_value.items())

    top = [len(s["top"]) for s in sums.values()]
    assert max(top) > 5 and None in {g for _, g in sums}
    assert any(not s["q"] for s in sums.values())

    mv.compact(spark)
    got = {(r["day"], r["g"]): r for r in mv.storage.read(spark).collect()}
    assert got.keys() == sums.keys()
    for key, row in got.items():
        for m in counted:
            assert [tuple(e) for e in row[m.name]] == resum(m, sums[key][m.name]), (key, m.name)


MIXED = (
    MetricSpec("top", "topk", "s", k=2, value_type="string"),
    MetricSpec("p50", "quantile", "v"),
    MetricSpec("p90", "quantile", "v", level=0.9),
    MetricSpec("sm", "summap", "v % 4", weight="w"),
    MetricSpec("dd", "quantile_sketch", "v * 7", cond="w > 0"),
    MetricSpec("cnt", "count"),
)


def _mixed(spark, tmp_path):
    """A (day, g) view over MIXED, and a 2.4k-row batch read from
    parquet: NULL values of both sources, NULL dims, nine distinct
    strings per key against a topk reserve of 8, and a day whose rows
    all fail the quantile_sketch's -If condition."""
    mv = MaterializedView(
        "mixed", dims=("day", "g"), metrics=MIXED,
        storage=Table(str(tmp_path / "state"), partition_by=("day",)),
    )
    spark.range(2400).selectExpr(
        "date_add(DATE'2024-01-01', CAST(id % 4 AS INT)) AS day",
        "CASE WHEN id % 7 = 0 THEN NULL ELSE CAST(id % 3 AS INT) END AS g",
        "CASE WHEN id % 11 = 0 THEN NULL ELSE (id DIV 12 + id DIV 300) % 27 END AS v",
        "CASE WHEN id % 13 = 0 THEN NULL ELSE concat('s', (id DIV 5) % 9) END AS s",
        "id % 4 AS w",
        "id DIV 5 % 3 AS part",
    ).write.parquet(str(tmp_path / "batch"))
    return mv, spark.read.parquet(str(tmp_path / "batch"))


def test_mixed_build_states_equal_partial_then_merge_states(spark, tmp_path):
    """One pre-count pass over a mixed-type view (p50 and p90 share one
    value field) builds, entry for entry, the states that the
    one-expression partial() gives after merge_states' re-sum."""
    mv, batch = _mixed(spark, tmp_path)
    built = mv.materialize_batch(batch)
    plan = built._jdf.queryExecution().optimizedPlan().toString()
    assert set(re.findall(r"\b_v\d+\b", plan)) == {"_v0", "_v1", "_v2", "_v3"}
    partial = batch.groupBy(*mv.dims).agg(*[m.partial() for m in MIXED])
    merged = mv.merge_states(partial, list(mv.dims))
    got = {(r["day"], r["g"]): r for r in built.collect()}
    want = {(r["day"], r["g"]): r for r in merged.collect()}
    assert got.keys() == want.keys() and None in {g for _, g in got}
    assert any(r["dd"] is None for r in got.values())
    for key, row in got.items():
        for m in MIXED:
            assert (row[m.name] or []) == (want[key][m.name] or []), (key, m.name)


def test_mixed_compaction_equals_an_independent_resum(spark, tmp_path):
    """Appends of the mixed view run at most ``JOBS_PER_SKETCH_APPEND``
    jobs and read each batch row at most twice; compacting them re-sums
    every value→count state to a pure-Python re-sum of the appended
    entries."""
    mv, batch = _mixed(spark, tmp_path)
    for part in range(3):
        rows = batch.filter(F.col("part") == part)
        _, jobs, read = traced(spark, lambda: mv.append_batch(rows))
        assert jobs <= JOBS_PER_SKETCH_APPEND, jobs
        assert read <= 2 * 2400, read
    counted = [m for m in MIXED if m.kind in MetricSpec.PRECOUNT_KINDS]
    sums: dict = {}
    for r in mv.storage.read(spark).collect():
        for m in counted:
            per_value = sums.setdefault((r["day"], r["g"]), {}).setdefault(m.name, {})
            for value, c in r[m.name] or []:
                per_value[value] = per_value.get(value, 0) + c

    mv.compact(spark)
    got = {(r["day"], r["g"]): r for r in mv.storage.read(spark).collect()}
    assert got.keys() == sums.keys()
    for key, row in got.items():
        for m in counted:
            want = sorted(sums[key][m.name].items())
            if m.kind == "topk":
                want = sorted(want, key=lambda e: (-e[1], e[0]))[: m.topk_reserve]
            assert [tuple(e) for e in row[m.name]] == want, (key, m.name)


def test_append_job_budget(spark, tmp_path):
    """Each of three appends of a 2k-row, 3-day batch into the mainpage
    view runs at most ``JOBS_PER_APPEND`` Spark jobs."""
    mv = mainpage_mv(str(tmp_path / "state"))
    batch = spark.range(2000).selectExpr(
        "date_add(DATE'2024-01-01', CAST(id % 3 AS INT)) AS day",
        "CAST(id % 24 AS INT) AS hour",
        "element_at(array('A', 'B'), CAST(id % 2 AS INT) + 1) AS segment",
        "element_at(array('view', 'click', 'signup', 'purchase', 'error'),"
        " CAST(id % 5 AS INT) + 1) AS event_type",
        "id % 300 AS uid",
        "CAST(id % 13 AS DOUBLE) AS value",
    )
    jobs = [traced(spark, lambda: mv.append_batch(batch))[1]
            for _ in range(3)]
    assert max(jobs) <= JOBS_PER_APPEND, jobs
