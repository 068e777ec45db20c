"""DDSketch quantile kind: bounded mergeable state with ≤α relative
error, exact determinism (merge-order invariant), zero handling, and
compaction invariance through the MV engine."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from clickhouse_learning_spark.functions.metrics import (
    DD_ZERO_BUCKET,
    MetricSpec,
    build_states,
    dd_gamma,
)
from clickhouse_learning_spark.mv.engine import MaterializedView
from clickhouse_learning_spark.tables import Table


def disc_quantile(values, level):
    s = sorted(values)
    return s[max(1, math.ceil(level * len(s))) - 1]


def test_relative_error_bound(spark):
    rng = random.Random(3)
    vals = [rng.lognormvariate(2, 1.5) for _ in range(5000)]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    alpha = 0.01
    for level in (0.5, 0.9, 0.99):
        spec = MetricSpec("q", "quantile_sketch", "v", level=level, alpha=alpha)
        got = (
            df.groupBy()
            .agg(spec.partial())
            .groupBy()
            .agg(spec.merged_finalized())
            .collect()[0]["q"]
        )
        exact = disc_quantile(vals, level)
        assert abs(got - exact) / exact <= alpha + 1e-4, (level, got, exact)


def test_merge_invariance_and_state_bound(spark):
    rng = random.Random(9)
    rows = [(i % 7, rng.uniform(0.001, 1e6)) for i in range(4000)]
    df = spark.createDataFrame(rows, "g int, v double")
    spec = MetricSpec("q", "quantile_sketch", "v", level=0.9)
    one = {
        r["g"]: r["q"]
        for r in df.groupBy("g")
        .agg(spec.partial())
        .groupBy("g")
        .agg(spec.merged_finalized())
        .collect()
    }
    # split into 5 arbitrary batches, state each, merge
    batched = df.withColumn("b", (F.crc32(F.col("v").cast("string")) % 5))
    split = {
        r["g"]: r["q"]
        for r in batched.groupBy("g", "b")
        .agg(spec.partial())
        .groupBy("g")
        .agg(spec.merged_finalized())
        .collect()
    }
    assert one == split
    # state is bounded by occupied buckets: ln(1e6/0.001)/ln(γ) ≈ 1040,
    # far below the 4000 rows
    n_entries = (
        df.groupBy("g")
        .agg(spec.partial())
        .select(F.max(F.size("q")).alias("n"))
        .collect()[0]["n"]
    )
    assert n_entries <= math.ceil(math.log(1e9) / math.log(dd_gamma(0.01))) + 2


def test_zero_and_negative_inputs(spark):
    df = spark.createDataFrame([(0.0,), (-5.0,), (0.0,), (10.0,)], "v double")
    spec = MetricSpec("q", "quantile_sketch", "v", level=0.5)
    state = df.groupBy().agg(spec.partial()).collect()[0]["q"]
    assert sum(1 for e in state if e["v"] == DD_ZERO_BUCKET) == 3
    got = (
        df.groupBy()
        .agg(spec.partial())
        .groupBy()
        .agg(spec.merged_finalized())
        .collect()[0]["q"]
    )
    assert got == 0.0  # median of (0,-5,0,10) → zero bucket


def test_null_inputs_add_no_entry(spark):
    """A NULL input, or a row failing the -If condition, adds no entry
    (not a zero-bucket one) on both write paths: the engine's
    build_states and the one-expression partial()."""
    df = spark.createDataFrame(
        [(1, None), (1, None), (1, None), (1, 100), (1, 200)], "g int, x long"
    )
    for cond, want in ((None, 100.4946), ("x > 150", 198.3685)):
        spec = MetricSpec("q", "quantile_sketch", "x", cond=cond)
        for states in (build_states(df, ("g",), (spec,)),
                       df.groupBy("g").agg(spec.partial())):
            got = states.groupBy("g").agg(spec.merged_finalized()).collect()
            assert got[0]["q"] == want, (cond, got)


def test_dd_oracles_skip_null_values_as_the_engine_does(spark, tmp_path):
    """On events whose ``value`` is NULL in every third row and in every
    'error' row, quantile_sketch_dd and stream_latency_quantiles answer
    as their DuckDB oracles do: a NULL value gets no bucket and no count,
    and an event type with only NULL values has no quantile."""
    import duckdb
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from clickhouse_learning_spark.queries import ORACLES, quantile_sketch_dd
    from clickhouse_learning_spark.queries_streaming import (
        stream_latency_quantiles,
    )
    from tools.check_oracle import norm_rows

    from .conftest import SF_SMOKE

    ev = pq.read_table(f"{SF_SMOKE}/events.parquet")
    null = pa.array([i % 3 == 0 or t == "error" for i, t in
                     enumerate(ev.column("event_type").to_pylist())])
    value = pc.if_else(null, pa.scalar(None, pa.float64()), ev["value"])
    ev = ev.set_column(ev.schema.get_field_index("value"), "value", value)
    pq.write_table(ev, str(tmp_path / "events.parquet"))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    for name, run in (("quantile_sketch_dd", quantile_sketch_dd),
                      ("stream_latency_quantiles", stream_latency_quantiles)):
        df = run(spark, str(tmp_path))
        got = norm_rows(df.columns, [tuple(r) for r in df.collect()])
        rel = con.sql(ORACLES[name])
        assert got == norm_rows(list(rel.columns), rel.fetchall()), name


def test_mv_lifecycle_compaction_invariance(spark, tmp_path):
    mv = MaterializedView(
        name="qs",
        dims=("day",),
        metrics=(MetricSpec("p90", "quantile_sketch", "v", level=0.9),),
        storage=Table(path=str(tmp_path / "state"), partition_by=("day",)),
    )
    rng = random.Random(1)
    mk = lambda: spark.createDataFrame(
        [("d1", rng.uniform(1, 1000)) for _ in range(300)], "day string, v double"
    )
    for _ in range(3):
        mv.append_batch(mk())
    before = mv.merge_query(spark, ["day"]).collect()[0]["p90"]
    mv.compact(spark)
    after = mv.merge_query(spark, ["day"]).collect()[0]["p90"]
    assert before == after
    # compacted state holds one entry per bucket
    st = mv.storage.read(spark).collect()[0]["p90"]
    assert len({e["v"] for e in st}) == len(st)
