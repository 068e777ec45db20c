"""Mergeable weighted-quantile state (kind="quantile").

The scalable replacement for the exact-median value-list state: values
are kept as value→count pairs (ClickHouse quantileExactWeighted's
layout), so post-compaction state size is O(distinct values) per group
— bounded by the value domain, not the row count. Correctness bar:
exact match with the discrete quantile (DuckDB quantile_disc: rank
ceil(level·n), 1-based) at every compaction state.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from clickhouse_learning_spark.functions.metrics import MetricSpec
from clickhouse_learning_spark.mv.engine import MaterializedView
from clickhouse_learning_spark.tables import Table


def disc_quantile(values, level):
    s = sorted(values)
    return s[max(1, math.ceil(level * len(s))) - 1]


@pytest.fixture(scope="module")
def data(spark):
    # skewed repeats: 3 groups × 400 rows over a ~30-value domain
    rows = [(g, (i * i + 7 * g) % 30, i % 4) for g in range(3) for i in range(400)]
    return (
        spark.createDataFrame(rows, "g int, v long, batch int").cache(),
        rows,
    )


@pytest.fixture(scope="module")
def qmv(spark, data, tmp_path_factory):
    df, _ = data
    path = str(tmp_path_factory.mktemp("qmv") / "state")
    mv = MaterializedView(
        "qmv",
        dims=("g",),
        metrics=(
            MetricSpec("p50", "quantile", "v"),
            MetricSpec("p90", "quantile", "v", level=0.9),
            MetricSpec("cnt", "count"),
        ),
        storage=Table(path, partition_by=()),
    )
    for b in range(4):
        mv.append_batch(df.filter(F.col("batch") == b))
    return mv


def expected(rows, level):
    by_g = {}
    for g, v, _ in rows:
        by_g.setdefault(g, []).append(v)
    return {g: disc_quantile(vs, level) for g, vs in by_g.items()}


def test_quantile_matches_discrete_oracle(spark, qmv, data):
    _, rows = data
    got = {
        r["g"]: (r["p50"], r["p90"])
        for r in qmv.merge_query(spark, ["g"], ["p50", "p90"]).collect()
    }
    e50, e90 = expected(rows, 0.5), expected(rows, 0.9)
    assert got == {g: (e50[g], e90[g]) for g in e50}


def test_compaction_shrinks_state_to_distinct_values(spark, qmv, data):
    df, rows = data
    before = qmv.merge_query(spark, ["g"], ["p50", "p90", "cnt"]).collect()
    pre_entries = (
        qmv.storage.read(spark).select(F.sum(F.size("p50")).alias("n")).first()["n"]
    )
    qmv.compact(spark)
    post = qmv.storage.read(spark)
    distinct_per_g = {
        r["g"]: r["d"]
        for r in df.groupBy("g").agg(F.count_distinct("v").alias("d")).collect()
    }
    for r in post.select("g", F.size("p50").alias("n")).collect():
        assert r["n"] == distinct_per_g[r["g"]]  # O(distinct), not O(rows)
    post_entries = post.select(F.sum(F.size("p50")).alias("n")).first()["n"]
    assert post_entries < pre_entries
    after = qmv.merge_query(spark, ["g"], ["p50", "p90", "cnt"]).collect()
    key = lambda r: r["g"]
    assert sorted((r.asDict() for r in before), key=key) == sorted(
        (r.asDict() for r in after), key=key
    )


def test_compress_handles_null_dims_and_empty_states(spark, tmp_path):
    """with_dimension backfills NULL dims; a key whose rows all failed a
    -If cond has an empty state. Both must survive the re-sum that
    merge_states (and so compaction) applies to quantile states."""
    spec = MetricSpec("q", "quantile", "v", cond="v >= 0")
    df = spark.createDataFrame(
        [(1, 5), (1, 7), (None, 5), (None, -1), (2, -3)], "g int, v long"
    )
    states = df.groupBy("g").agg(spec.partial())
    view = MaterializedView(
        "q", dims=("g",), metrics=(spec,),
        storage=Table(str(tmp_path / "q"), partition_by=()),
    )
    comp = view.merge_states(states, ["g"])
    got = {
        r["g"]: [e.asDict() for e in r["q"]] for r in comp.collect()
    }
    assert sorted(got[1], key=lambda e: e["v"]) == [
        {"v": 5, "c": 1},
        {"v": 7, "c": 1},
    ]
    assert got[None] == [{"v": 5, "c": 1}]
    assert got[2] == []  # empty state preserved, finalizes to NULL
    fin = comp.select("g", spec.finalize()).collect()
    assert {r["g"]: r["q"] for r in fin} == {1: 5, None: 5, 2: None}


def test_quantile_weighted_explicit_weight(spark):
    """quantileExactWeighted with a real per-row weight: the weighted
    median equals the median of the weight-expanded multiset, on both
    the relational and one-expression write paths."""
    from clickhouse_learning_spark.functions.metrics import MetricSpec, build_states

    rows = [(1, 10, 1), (1, 20, 5), (1, 30, 1)]  # expanded: 10,20×5,30 → p50=20
    df = spark.createDataFrame(rows, "g int, v long, w long")
    spec = MetricSpec("m", "quantile", "v", level=0.5, weight="w")
    st = build_states(df, ("g",), (spec,))
    got = st.groupBy("g").agg(spec.merged_finalized()).collect()[0]["m"]
    assert got == 20
    direct = (
        df.groupBy("g").agg(spec.partial()).groupBy("g")
        .agg(spec.merged_finalized()).collect()[0]["m"]
    )
    assert direct == 20
    # weight skews the rank: heavy tail value dominates
    rows2 = [(1, 10, 1), (1, 20, 1), (1, 99, 10)]
    df2 = spark.createDataFrame(rows2, "g int, v long, w long")
    got2 = (
        build_states(df2, ("g",), (spec,)).groupBy("g")
        .agg(spec.merged_finalized()).collect()[0]["m"]
    )
    assert got2 == 99


def test_build_states_single_pass_fast_path(spark):
    """build_states with ONLY pre-count metrics and no -If cond takes the
    single-pass path (r10 optimization): one scan, no join-back — while
    keeping the exact two-pass contract: NULL values are excluded from
    the entries, and a dims group whose values are ALL NULL still
    appears, with a NULL state (the old join-miss NULL)."""
    from clickhouse_learning_spark.functions.metrics import build_states

    rows = [
        (1, 5, 2), (1, 5, 1), (1, None, 9), (1, 7, 1),   # mixed NULLs
        (2, None, 3), (2, None, 1),                       # all-NULL group
        (3, 4, 5),
    ]
    df = spark.createDataFrame(rows, "g int, v long, w long")

    q = MetricSpec("q", "quantile", "v", level=0.5)
    st = build_states(df, ("g",), (q,))
    # plan shape: single scan, no join (the fast path)
    plan = st._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    got = {r["g"]: r["q"] for r in st.collect()}
    assert sorted(got.keys()) == [1, 2, 3]
    assert sorted((e["v"], e["c"]) for e in got[1]) == [(5, 2), (7, 1)]
    assert got[2] is None  # all-NULL group: NULL state, not []
    assert [(e["v"], e["c"]) for e in got[3]] == [(4, 1)]
    # finalize parity: NULL state → NULL quantile
    fin = st.groupBy("g").agg(q.merged_finalized()).collect()
    assert {r["g"]: r["q"] for r in fin} == {1: 5, 2: None, 3: 4}

    # summap: NULL keys excluded, all-NULL → NULL state
    sm = MetricSpec("m", "summap", "v", weight="w")
    stm = build_states(df, ("g",), (sm,))
    gotm = {r["g"]: r["m"] for r in stm.collect()}
    assert sorted((e["k"], e["c"]) for e in gotm[1]) == [("5", 3), ("7", 1)]
    assert gotm[2] is None
    # topk: capped, NULL-safe
    tk = MetricSpec("t", "topk", "v", k=1)
    stt = build_states(df, ("g",), (tk,))
    gott = {r["g"]: r["t"] for r in stt.collect()}
    assert [(e["v"], e["c"]) for e in gott[1]][0] == (5, 2)
    assert gott[2] is None

    # a -If cond still takes the general join path with the same output
    qc = MetricSpec("q", "quantile", "v", level=0.5, cond="w >= 2")
    stc = build_states(df, ("g",), (qc,))
    gotc = {r["g"]: r["q"] for r in stc.collect()}
    assert sorted((e["v"], e["c"]) for e in gotc[1]) == [(5, 1)]
    assert gotc[2] is None and gotc[3] is not None
