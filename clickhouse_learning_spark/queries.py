"""Operator-coverage query registry (driver contract).

Every entry implements one or more rows of SURVEY.md §2's operator
inventory as an idiomatic DataFrame/SQL composition and (where the
semantics are SQL-expressible and deterministic) pairs it with a DuckDB
oracle whose column names/aliases match exactly.

Determinism rules used throughout so the driver's order-insensitive
value-hash matches:
- double aggregates are wrapped in round(x, 2) on BOTH sides (partial
  sums commute only approximately in IEEE754; rounding removes the
  order-dependent low bits);
- value*1000 style integer rescales use floor() on both sides (Spark
  CAST truncates, DuckDB CAST rounds — floor agrees);
- DuckDB integer sums are CAST to BIGINT (DuckDB widens to INT128).

Approximate (HLL) and streaming operators have no oracle entry — the
driver records a rows-only check; their correctness is covered by
ε-bound and dual-path tests in tests/.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_learning_spark.functions import metrics as M
from clickhouse_learning_spark.schemas import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# DuckDB-side events view with the derived default-expression columns
# (SURVEY P7/F1/F2) so oracles read like the reference SQL.
_EV = (
    "(SELECT *, CAST(ts AS DATE) AS day, date_trunc('hour', ts) AS hour, "
    "user_id AS uid FROM events)"
)


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with default-expression columns day/hour/uid (SURVEY P7)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.to_date("ts"))
        .withColumn("hour", F.date_trunc("hour", "ts"))
        .withColumnRenamed("user_id", "uid")
    )


# ===========================================================================
# Aggregations (SURVEY A1-A16) + projections/filters (P1-P7) + sorts (O1-O2)
# ===========================================================================


@query(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(l_quantity), 2) AS DOUBLE)        AS sum_qty,
           CAST(round(sum(l_extendedprice), 2) AS DOUBLE)   AS sum_base_price,
           CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS sum_disc_price,
           CAST(round(avg(l_quantity), 2) AS DOUBLE)        AS avg_qty,
           CAST(round(avg(l_extendedprice), 2) AS DOUBLE)   AS avg_price,
           CAST(count(*) AS BIGINT)                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped hash aggregation: multi-key GROUP BY + sum/avg/count
    (SURVEY A1, A12, A13, A14; filter P4; result sort O1). Filter and the
    6-column projection push down to the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "conditional_agg",
    f"""
    SELECT day,
           CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT)  AS view_cnt,
           CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS click_cnt,
           count(DISTINCT CASE WHEN event_type = 'view' THEN uid END)     AS view_uv,
           count(DISTINCT CASE WHEN event_type = 'click' THEN uid END)    AS click_uv,
           CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)       AS value_sum
    FROM {_EV} GROUP BY day
    """,
)
def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The -If combinator, exact form (SURVEY A5/A13; reference
    dwm.mainpage_stat_mv_dis.sql:46-50): conditional counts and distincts
    via when() arguments — one scan, no pre-filter subqueries."""
    ev = _events(spark, sf_dir)
    is_ = lambda t: F.when(F.col("event_type") == t, F.lit(1))
    uid_if = lambda t: F.when(F.col("event_type") == t, F.col("uid"))
    return ev.groupBy("day").agg(
        F.coalesce(F.sum(is_("view")), F.lit(0)).alias("view_cnt"),
        F.coalesce(F.sum(is_("click")), F.lit(0)).alias("click_cnt"),
        F.count_distinct(uid_if("view")).alias("view_uv"),
        F.count_distinct(uid_if("click")).alias("click_uv"),
        F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("value_sum"),
    )


@query(
    "uniq_exact",
    f"""
    SELECT day, event_type,
           count(DISTINCT uid) AS uv,
           CAST(count(*) AS BIGINT) AS cnt
    FROM {_EV} GROUP BY day, event_type
    """,
)
def uniq_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uniqExact (SURVEY A6) + count per group (A13, A14)."""
    return (
        _events(spark, sf_dir)
        .groupBy("day", "event_type")
        .agg(F.count_distinct("uid").alias("uv"), F.count(F.lit(1)).alias("cnt"))
    )


def uniq_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uniqCombined via Datasketches HLL (SURVEY A3/A4): partial sketch →
    union → estimate. No oracle (approximate; ε-bound tested in
    tests/test_metrics.py)."""
    ev = _events(spark, sf_dir)
    spec = M.MetricSpec("uv", "uniq", "uid")
    states = ev.groupBy("day", "event_type").agg(spec.partial())
    return states.groupBy("day").agg(spec.merged_finalized())


QUERIES["uniq_hll"] = uniq_hll


@query(
    "uniq_hll_error_bound",
    f"""
    SELECT day, count(DISTINCT uid) AS uv_exact, TRUE AS within_eps
    FROM {_EV} GROUP BY day
    """,
)
def uniq_hll_error_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-companion to uniq_hll (r6): the sketch itself is irreducibly
    approximate (rows-only by contract), but its ERROR BOUND is
    contractual — HLL at lg_k=12 has ~1.6% relative standard error, so
    |estimate − exact| ≤ max(3, 5%·exact) (3σ) per group. The Spark
    side computes BOTH the sketch estimate and the exact distinct and
    emits the bound as a boolean; the oracle computes the exact side
    and pins the boolean TRUE — so the sketch gets hash-graded driver
    evidence without pretending it is exact."""
    ev = _events(spark, sf_dir)
    spec = M.MetricSpec("uv_est", "uniq", "uid")
    states = ev.groupBy("day", "event_type").agg(spec.partial())
    est = states.groupBy("day").agg(spec.merged_finalized())
    exact = ev.groupBy("day").agg(F.count_distinct("uid").alias("uv_exact"))
    return est.join(exact, "day").select(
        "day",
        "uv_exact",
        (
            F.abs(F.col("uv_est") - F.col("uv_exact"))
            <= F.greatest(F.lit(3.0), F.lit(0.05) * F.col("uv_exact"))
        ).alias("within_eps"),
    )


@query(
    "median_exact",
    f"""
    SELECT event_type,
           CAST(median(CAST(floor(value * 100) AS BIGINT)) AS DOUBLE) AS value_median,
           CAST(round(quantile_cont(value, 0.9), 2) AS DOUBLE) AS value_p90
    FROM {_EV} GROUP BY event_type
    """,
)
def median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """medianExact (SURVEY A7): exact interpolated median over integer
    milli-units (deterministic), exact p90 over doubles."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.median(F.floor(F.col("value") * 100).cast("long")).cast("double").alias("value_median"),
        F.round(F.percentile(F.col("value"), F.lit(0.9)), 2).alias("value_p90"),
    )


@query(
    "median_state_merge",
    f"""
    SELECT day,
           CAST(median(CAST(floor(value * 100) AS BIGINT)) AS DOUBLE) AS value_median
    FROM {_EV} GROUP BY day
    """,
)
def median_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """medianExactState → medianExactMerge (SURVEY A7 as a mergeable
    state, reference dwm…sql:114,83): per-(day,hour) value-list states,
    flattened and finalized per day — proves state mergeability against a
    direct-median oracle."""
    ev = _events(spark, sf_dir)
    spec = M.MetricSpec("value_median", "median", F.floor(F.col("value") * 100).cast("long"))
    states = ev.groupBy("day", "hour").agg(spec.partial())
    return states.groupBy("day").agg(spec.merged_finalized()).select(
        "day", F.col("value_median").cast("double").alias("value_median")
    )


@query(
    "quantile_weighted_state",
    f"""
    SELECT event_type,
           quantile_disc(CAST(floor(value * 100) AS BIGINT), 0.5) AS value_p50,
           quantile_disc(CAST(floor(value * 100) AS BIGINT), 0.9) AS value_p90
    FROM {_EV} GROUP BY event_type
    """,
)
def quantile_weighted_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quantileExactWeighted as a mergeable value→count state (SURVEY A7;
    ClickHouse quantileExactWeighted semantics = DuckDB quantile_disc:
    smallest value whose cumulative weight reaches ceil(φ·n)). States are
    built per (event_type, day) through the relational pre-count path
    (metrics.build_states) so they are O(distinct values) from the
    start, merged per event_type, finalized at two levels — the at-scale
    replacement for the O(rows) median value list."""
    ev = _events(spark, sf_dir)
    src = F.floor(F.col("value") * 100).cast("long")
    p50 = M.MetricSpec("value_p50", "quantile", src, level=0.5)
    p90 = M.MetricSpec("value_p90", "quantile", src, level=0.9)
    states = M.build_states(ev, ("event_type", "day"), (p50, p90))
    return states.groupBy("event_type").agg(
        p50.merged_finalized(), p90.merged_finalized()
    )


def _dd_sql(expr: str, alpha: float = 0.01) -> tuple[str, str]:
    """(bucket_sql, rep_sql_template) sharing the exact double γ constant
    with the Spark side (metrics.dd_gamma)."""
    import math as _m

    from clickhouse_learning_spark.functions.metrics import DD_ZERO_BUCKET, dd_gamma

    g = dd_gamma(alpha)
    # a NULL value gets no bucket, as in metrics.dd_bucket
    bucket = (
        f"CASE WHEN {expr} > 0 THEN CAST(ceil(ln(CAST({expr} AS DOUBLE)) / {_m.log(g)!r}) AS BIGINT) "
        f"WHEN {expr} IS NOT NULL THEN {DD_ZERO_BUCKET} END"
    )
    rep = (
        f"round(CASE WHEN {{b}} = {DD_ZERO_BUCKET} THEN 0.0 "
        f"ELSE 2.0 * power({g!r}, CAST({{b}} AS DOUBLE)) / {g + 1.0!r} END, 4)"
    )
    return bucket, rep


_DD_BUCKET, _DD_REP = _dd_sql("value")

@query(
    "quantile_sketch_dd",
    f"""
    WITH b AS (SELECT event_type, {_DD_BUCKET} AS bk FROM {_EV})
    SELECT event_type,
           {_DD_REP.format(b="quantile_disc(bk, 0.5)")} AS value_p50,
           {_DD_REP.format(b="quantile_disc(bk, 0.99)")} AS value_p99
    FROM b GROUP BY event_type
    """,
)
def quantile_sketch_dd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch quantiles (kind="quantile_sketch"): log-bucketed
    bounded-size mergeable states — the at-scale replacement for exact
    quantile states (state is O(occupied buckets) ≈ ln(max/min)/ln γ per
    group even pre-compaction, vs O(distinct values)). Built per
    (event_type, day) via the relational pre-count path
    (metrics.build_states), merged per event_type, finalized to bucket
    midpoints: deterministic, so the oracle replays the identical
    bucketing in SQL — exact hash parity with a guaranteed ≤1% relative
    error vs the true quantile."""
    ev = _events(spark, sf_dir)
    p50 = M.MetricSpec("value_p50", "quantile_sketch", "value", level=0.5)
    p99 = M.MetricSpec("value_p99", "quantile_sketch", "value", level=0.99)
    states = M.build_states(ev, ("event_type", "day"), (p50, p99))
    return states.groupBy("event_type").agg(
        p50.merged_finalized(), p99.merged_finalized()
    )


@query(
    "topk_heavy_hitters",
    f"""
    WITH c AS (
      SELECT day, event_type, count(*) AS cnt FROM {_EV} GROUP BY day, event_type)
    SELECT day,
           array_to_string(
             list_slice(list(event_type ORDER BY cnt DESC, event_type ASC), 1, 3), '|')
             AS top_types
    FROM c GROUP BY day
    """,
)
def topk_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``topK(3)(event_type)`` as a mergeable Space-Saving
    state (beyond-reference completeness; the reference uses no topK but
    ClickHouse users rely on it). Per-(day,hour) capped value→count
    states built through the relational pre-count path
    (metrics.build_states, as engine.materialize_batch), merged per day,
    finalized to the 3 most frequent values. Exact — and oracle-able —
    because per-group distinct values (5 event types) stay under the
    reserve cap; beyond it the result degrades to approximate exactly
    like ClickHouse's.

    The top-3 array is finalized to a '|'-joined string on both sides:
    the driver's canonicalizer (pandas sort_values) cannot hash
    array-typed result columns."""
    ev = _events(spark, sf_dir)
    spec = M.MetricSpec("top_types", "topk", "event_type", k=3)
    states = M.build_states(ev, ("day", "hour"), (spec,))
    return (
        states.groupBy("day")
        .agg(spec.merged_finalized())
        .select("day", F.concat_ws("|", "top_types").alias("top_types"))
    )


@query(
    "bitmap_funnel",
    f"""
    WITH s AS (
      SELECT day, uid,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)     AS v,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)    AS c,
             max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)   AS g,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
      FROM {_EV} GROUP BY day, uid)
    SELECT day,
           CAST(sum(v) AS BIGINT)           AS stage_view,
           CAST(sum(v * c) AS BIGINT)       AS stage_click,
           CAST(sum(v * c * g) AS BIGINT)   AS stage_signup,
           CAST(sum(v * c * g * p) AS BIGINT) AS stage_purchase
    FROM s GROUP BY day
    """,
)
def bitmap_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBitmap funnel (SURVEY A8-A11; reference dwm…sql:280-290):
    per-stage uid bitmaps built with -If states, chained bitmapAnd,
    bitmapCardinality per stage."""
    ev = _events(spark, sf_dir)
    stage = lambda t: M.MetricSpec(f"{t}_bm", "bitmap", "uid", f"event_type = '{t}'")
    specs = [stage(t) for t in ("view", "click", "signup", "purchase")]
    bm = ev.groupBy("day").agg(*[s.partial() for s in specs])
    s1 = F.col("view_bm")
    s2 = M.bitmap_and(s1, F.col("click_bm"))
    s3 = M.bitmap_and(s2, F.col("signup_bm"))
    s4 = M.bitmap_and(s3, F.col("purchase_bm"))
    return bm.select(
        "day",
        M.bitmap_cardinality(s1).alias("stage_view"),
        M.bitmap_cardinality(s2).alias("stage_click"),
        M.bitmap_cardinality(s3).alias("stage_signup"),
        M.bitmap_cardinality(s4).alias("stage_purchase"),
    )


@query(
    "bitmap_funnel_roaring",
    f"""
    WITH s AS (
      SELECT day, uid,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)     AS v,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)    AS c,
             max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)   AS g,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
      FROM {_EV} GROUP BY day, uid)
    SELECT day,
           CAST(sum(v) AS BIGINT)           AS stage_view,
           CAST(sum(v * c) AS BIGINT)       AS stage_click,
           CAST(sum(v * c * g) AS BIGINT)   AS stage_signup,
           CAST(sum(v * c * g * p) AS BIGINT) AS stage_purchase
    FROM s GROUP BY day
    """,
)
def bitmap_funnel_roaring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same funnel over roaring-compressed BinaryType bitmap states —
    the reference's actual groupBitmap representation
    (dwm.mainpage_stat_mv_dis.sql:134-139; codec in
    functions/roaring.py). Exactness is independent of representation,
    so the oracle is identical to bitmap_funnel's."""
    from clickhouse_learning_spark.functions import roaring as RB

    ev = _events(spark, sf_dir)
    stage = lambda t: M.MetricSpec(
        f"{t}_bm", "bitmap", "uid", f"event_type = '{t}'", representation="roaring"
    )
    specs = [stage(t) for t in ("view", "click", "signup", "purchase")]
    bm = ev.groupBy("day").agg(*[s.partial() for s in specs])
    s1 = F.col("view_bm")
    s2 = RB.bitmap_and(s1, F.col("click_bm"))
    s3 = RB.bitmap_and(s2, F.col("signup_bm"))
    s4 = RB.bitmap_and(s3, F.col("purchase_bm"))
    return bm.select(
        "day",
        RB.bitmap_cardinality(s1).alias("stage_view"),
        RB.bitmap_cardinality(s2).alias("stage_click"),
        RB.bitmap_cardinality(s3).alias("stage_signup"),
        RB.bitmap_cardinality(s4).alias("stage_purchase"),
    )


def theta_funnel_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch funnel: per-stage uid sketches + approximate set
    intersections (theta_and) — the bounded-state form of bitmap_funnel
    for cardinalities beyond even roaring's reach. Approximate →
    rows-only driver check; ε vs the exact bitmap funnel asserted in
    tests/test_theta.py."""
    ev = _events(spark, sf_dir)
    stage = lambda t: M.MetricSpec(f"{t}_th", "uniq_theta", "uid", f"event_type = '{t}'")
    specs = [stage(t) for t in ("view", "click", "purchase")]
    th = ev.groupBy("day").agg(*[s.partial() for s in specs])
    s1 = F.col("view_th")
    s2 = M.theta_and(s1, F.col("click_th"))
    s3 = M.theta_and(s2, F.col("purchase_th"))
    return th.select(
        "day",
        M.theta_cardinality(s1).alias("stage_view"),
        M.theta_cardinality(s2).alias("stage_click"),
        M.theta_cardinality(s3).alias("stage_purchase"),
    )


QUERIES["theta_funnel_approx"] = theta_funnel_approx


@query(
    "theta_funnel_error_bound",
    f"""
    WITH flags AS (
      SELECT day, uid,
             bool_or(event_type = 'view') AS v,
             bool_or(event_type = 'click') AS c,
             bool_or(event_type = 'purchase') AS p
      FROM {_EV} GROUP BY day, uid)
    SELECT day,
           CAST(sum(CASE WHEN v THEN 1 ELSE 0 END) AS BIGINT)
             AS exact_view,
           CAST(sum(CASE WHEN v AND c THEN 1 ELSE 0 END) AS BIGINT)
             AS exact_click,
           CAST(sum(CASE WHEN v AND c AND p THEN 1 ELSE 0 END)
                AS BIGINT) AS exact_purchase,
           TRUE AS within_eps
    FROM flags GROUP BY day
    """,
)
def theta_funnel_error_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-companion to theta_funnel_approx (r6): theta intersections
    are approximate by contract, but every stage estimate must sit
    within max(3, 5%·exact) of the exact intersection cardinality.
    The exact side is one (day, uid) flag rollup (the same shape
    bitmap_funnel grades exactly); the boolean conjunction over all
    three stages is what the oracle pins TRUE — driver-checkable
    evidence for the sketch's contractual error bound."""
    ev = _events(spark, sf_dir)
    stage = lambda t: M.MetricSpec(  # noqa: E731
        f"{t}_th", "uniq_theta", "uid", f"event_type = '{t}'"
    )
    specs = [stage(t) for t in ("view", "click", "purchase")]
    th = ev.groupBy("day").agg(*[s.partial() for s in specs])
    s1 = F.col("view_th")
    s2 = M.theta_and(s1, F.col("click_th"))
    s3 = M.theta_and(s2, F.col("purchase_th"))
    est = th.select(
        "day",
        M.theta_cardinality(s1).alias("est_view"),
        M.theta_cardinality(s2).alias("est_click"),
        M.theta_cardinality(s3).alias("est_purchase"),
    )
    exact = (
        ev.groupBy("day", "uid")
        .agg(
            F.max(F.col("event_type") == "view").alias("v"),
            F.max(F.col("event_type") == "click").alias("c"),
            F.max(F.col("event_type") == "purchase").alias("p"),
        )
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("v"), 1).otherwise(0)).alias("exact_view"),
            F.sum(F.when(F.col("v") & F.col("c"), 1).otherwise(0)).alias(
                "exact_click"
            ),
            F.sum(
                F.when(F.col("v") & F.col("c") & F.col("p"), 1).otherwise(0)
            ).alias("exact_purchase"),
        )
    )

    def _ok(e: str, x: str):
        return F.abs(F.col(e) - F.col(x)) <= F.greatest(
            F.lit(3.0), F.lit(0.05) * F.col(x)
        )

    return est.join(exact, "day").select(
        "day",
        "exact_view",
        "exact_click",
        "exact_purchase",
        (
            _ok("est_view", "exact_view")
            & _ok("est_click", "exact_click")
            & _ok("est_purchase", "exact_purchase")
        ).alias("within_eps"),
    )


@query(
    "value_histogram",
    f"""
    SELECT event_type,
           least(greatest(CAST(floor(value * 10) AS BIGINT), 0), 9) AS bin,
           CAST(count(*) AS BIGINT) AS n
    FROM {_EV}
    GROUP BY event_type, bin
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram (the deterministic form of ClickHouse's
    ``histogram(bins)(x)`` — CH's adaptive bin boundaries depend on
    merge order, so the exact-oracle variant uses equal-width bins):
    10 bins over value ∈ [0, 1), clamped. One codegen groupBy."""
    ev = _events(spark, sf_dir)
    bin_ = F.least(
        F.greatest(F.floor(F.col("value") * 10).cast("long"), F.lit(0)),
        F.lit(9),
    )
    return ev.groupBy("event_type", bin_.alias("bin")).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "summap_event_values",
    f"""
    WITH s AS (
      SELECT day, event_type AS k,
             sum(CAST(floor(value * 100) AS BIGINT)) AS c
      FROM {_EV} GROUP BY day, event_type)
    SELECT day, string_agg(k || ':' || c, '|' ORDER BY k) AS type_cents
    FROM s GROUP BY day
    """,
)
def summap_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sumMap(map(event_type, cents))`` per day — the Map
    combinator family as a mergeable state (MetricSpec kind="summap"):
    states build at (day, hour) grain, merge across hours, finalize to
    sumMap's sorted key/value pairs (emitted as a ``k:v|...`` string —
    map columns break row-hash canonicalizers the way arrays do)."""
    ev = _events(spark, sf_dir)
    spec = M.MetricSpec(
        "type_cents",
        "summap",
        "event_type",
        weight=F.floor(F.col("value") * 100).cast("long"),
    )
    # relational pre-aggregated write path: states are O(distinct keys)
    # per (day, hour), not O(rows) (metrics.build_states)
    states = M.build_states(ev, ("day", "hour"), (spec,))
    return states.groupBy("day").agg(spec.merged_finalized())


@query(
    "having_over_agg",
    f"""
    SELECT hour, CAST(count(*) AS BIGINT) AS cnt, count(DISTINCT uid) AS uv
    FROM {_EV}
    GROUP BY hour HAVING count(*) > 20
    """,
)
def having_over_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING over aggregates (SURVEY A15; data_rebalance.py:158-160)."""
    return (
        _events(spark, sf_dir)
        .groupBy("hour")
        .agg(F.count(F.lit(1)).alias("cnt"), F.count_distinct("uid").alias("uv"))
        .filter(F.col("cnt") > 20)
    )


@query(
    "distinct_rows",
    f"SELECT DISTINCT day, event_type FROM {_EV}",
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (SURVEY A16; data_rebalance.py:134-141)."""
    return _events(spark, sf_dir).select("day", "event_type").distinct()


@query(
    "avg_state_merge",
    f"""
    SELECT event_type,
           CAST(round(sum(CAST(round(value * 1000000) AS BIGINT))
                      / count(value) / 1000000.0, 6) AS DOUBLE)
             AS value_avg,
           CAST(count(*) AS BIGINT) AS n
    FROM {_EV} GROUP BY event_type
    """,
)
def avg_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """avgState/avgMerge (ClickHouse avg combinators): the mergeable avg
    state is a (sum, count) struct — built per (event_type, day), merged
    per event_type, finalized to sum/count. Unlike averaging averages,
    the struct state is exactly re-mergeable at any grouping. The metric
    input is quantized to integer micro-units (r6 determinism
    discipline) so the state's sum half is an EXACT long — a raw double
    sum merges in unpinned shuffle order; the oracle mirrors the
    quantization."""
    ev = _events(spark, sf_dir)
    spec = M.MetricSpec(
        "value_avg", "avg", F.round(F.col("value") * 1_000_000).cast("long")
    )
    states = ev.groupBy("event_type", "day").agg(
        spec.partial(), F.count(F.lit(1)).alias("n")
    )
    return (
        states.groupBy("event_type")
        .agg(spec.merge(), F.sum("n").alias("n"))
        .select(
            "event_type",
            F.round(spec.finalize() / 1_000_000.0, 6).alias("value_avg"),
            "n",
        )
    )


@query(
    "global_topk_orders",
    """
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def global_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT (SURVEY §2.6 notes the reference SQL has
    none — this is the Spark freebie done right at scale): the plan must
    be TakeOrderedAndProject (per-partition top-k + driver merge of
    k·partitions rows), never a full global sort. Sorting raw stored
    doubles with an integer tie-break is engine-deterministic (no
    arithmetic → no last-bit drift)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", F.col("o_totalprice").cast("double"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@query(
    "json_extract_agg",
    f"""
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
           CAST(count(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
                      THEN 1 END) AS BIGINT) AS k_hi
    FROM {_EV} GROUP BY event_type
    """,
)
def json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction (ClickHouse JSONExtract* family /
    visitParam; the ingest format the reference reads as JSON-lines,
    SURVEY S3): get_json_object stays JVM-side and the extracted value
    feeds ordinary aggregates. At 100 TB the right move is extracting
    once at ingest into a typed column; this query is the ad-hoc form."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"),
        F.max(k).alias("k_max"),
        F.count(F.when(k > 50, 1)).alias("k_hi"),
    )


@query(
    "window_functions_suite",
    f"""
    WITH u AS (
      SELECT uid, ts, event_id,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM {_EV} WHERE uid % 97 = 0),
    w AS (
      SELECT uid, event_id, cents,
             lag(cents)  OVER win AS prev_cents,
             lead(cents) OVER win AS next_cents,
             first_value(cents) OVER win AS first_cents,
             CAST(row_number() OVER win AS BIGINT) AS rn,
             CAST(ntile(4) OVER (PARTITION BY uid ORDER BY cents, event_id)
                  AS BIGINT) AS quartile,
             CAST(sum(cents) OVER (PARTITION BY uid ORDER BY ts, event_id
                                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS rolling3
      FROM u WINDOW win AS (PARTITION BY uid ORDER BY ts, event_id))
    SELECT * FROM w
    """,
)
def window_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window-function vocabulary beyond the reference's surface
    (SURVEY §2.5 notes the reference uses none): lag/lead/first_value,
    row_number, ntile, and a bounded rolling frame — one shuffle on uid,
    every ordering tie-broken by event_id for cross-engine determinism."""
    from pyspark.sql import Window as W

    ev = _events(spark, sf_dir).filter(F.col("uid") % 97 == 0)
    u = ev.select(
        "uid", "ts", "event_id", F.floor(F.col("value") * 100).cast("long").alias("cents")
    )
    win = W.partitionBy("uid").orderBy("ts", "event_id")
    by_cents = W.partitionBy("uid").orderBy("cents", "event_id")
    rolling = win.rowsBetween(-2, W.currentRow)
    return u.select(
        "uid",
        "event_id",
        "cents",
        F.lag("cents").over(win).alias("prev_cents"),
        F.lead("cents").over(win).alias("next_cents"),
        F.first("cents").over(win).alias("first_cents"),
        F.row_number().over(win).cast("long").alias("rn"),
        F.ntile(4).over(by_cents).cast("long").alias("quartile"),
        F.sum("cents").over(rolling).alias("rolling3"),
    )


@query(
    "stats_moments",
    """
    SELECT o_orderpriority,
           CAST(round(stddev_samp(o_totalprice), 2) AS DOUBLE) AS price_stddev,
           CAST(round(var_samp(o_totalprice) / 1e6, 2) AS DOUBLE) AS price_var_m,
           CAST(round(corr(o_totalprice, CAST(o_custkey AS DOUBLE)), 4) AS DOUBLE)
               AS price_cust_corr,
           CAST(round(covar_samp(o_totalprice, CAST(o_custkey AS DOUBLE)) / 1e6, 2)
               AS DOUBLE) AS price_cust_covar_m
    FROM orders GROUP BY o_orderpriority
    """,
)
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates (ClickHouse stddevSamp/varSamp/corr/
    covarSamp surface; beyond the reference's query set but core
    warehouse vocabulary). All four are single-pass mergeable states in
    Spark (partial/final split like every aggregate), so the plan shape
    matches sums. Variance/covariance are scaled to millions before
    rounding so the engines' partial-merge last-bit drift stays far from
    the round boundary."""
    orders = load_table(spark, sf_dir, "orders")
    price, cust = F.col("o_totalprice"), F.col("o_custkey").cast("double")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.stddev_samp(price), 2).alias("price_stddev"),
        F.round(F.var_samp(price) / 1e6, 2).alias("price_var_m"),
        F.round(F.corr(price, cust), 4).alias("price_cust_corr"),
        F.round(F.covar_samp(price, cust) / 1e6, 2).alias("price_cust_covar_m"),
    )


@query(
    "intersect_except_sets",
    """
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      AND o_totalprice > 400000
    """,
)
def intersect_except_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational INTERSECT/EXCEPT (SURVEY §2.7 notes the reference does
    set algebra only on bitmaps — these are the Spark freebies that
    complete the surface). Both compile to aggregate/anti-join plans,
    shuffling only the distinct key set."""
    orders = load_table(spark, sf_dir, "orders")
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz")
    ).select("o_custkey")
    older = orders.filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz")
    ).select("o_custkey")
    big_f = orders.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 400000)
    ).select("o_custkey")
    return recent.intersect(older).subtract(big_f)


@query(
    "minmax_rollup_sorted",
    """
    SELECT o_orderpriority,
           CAST(round(min(o_totalprice), 2) AS DOUBLE) AS min_price,
           CAST(round(max(o_totalprice), 2) AS DOUBLE) AS max_price,
           CAST(round(avg(o_totalprice), 2) AS DOUBLE) AS avg_price,
           CAST(count(*) AS BIGINT) AS cnt
    FROM orders GROUP BY o_orderpriority
    ORDER BY o_orderpriority DESC
    """,
)
def minmax_rollup_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/avg thresholds + ORDER BY DESC result sort (SURVEY A12,
    O1, O2; data_rebalance.py:119,159-161)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy(F.desc("o_orderpriority"))
    )


# ===========================================================================
# Projections / filters / scalar functions (P1-P7, F1-F8, F12-F14)
# ===========================================================================


@query(
    "filter_project_prune",
    f"""
    SELECT uid, event_type, CAST(floor(value) AS BIGINT) AS value_int
    FROM {_EV}
    WHERE day = DATE '2024-01-05' AND value > 100
    """,
)
def filter_project_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-key equality + comparison filters with narrow projection
    (SURVEY P1-P4) — Catalyst pushes both the filter and the 3-column
    read schema into the scan."""
    return (
        _events(spark, sf_dir)
        .filter((F.col("day") == F.lit("2024-01-05").cast("date")) & (F.col("value") > 100))
        .select("uid", "event_type", F.floor("value").cast("long").alias("value_int"))
    )


@query(
    "modulo_skew_filter",
    f"""
    SELECT day, CAST(count(*) AS BIGINT) AS cnt, count(DISTINCT uid) AS uv
    FROM {_EV} WHERE uid % 13 = 0 GROUP BY day
    """,
)
def modulo_skew_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modulo predicate — the reference's skewed-clicker cohort
    (SURVEY P5; make_user_action_001.py:71)."""
    return (
        _events(spark, sf_dir)
        .filter(F.col("uid") % 13 == 0)
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("cnt"), F.count_distinct("uid").alias("uv"))
    )


@query(
    "skew_targeted_join",
    f"""
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM {_EV} e JOIN customer c ON e.uid = c.c_custkey
    GROUP BY c_mktsegment
    """,
)
def skew_targeted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-only salted join (operators/skew.targeted_salted_join):
    salting must not change the answer, so the oracle is the PLAIN
    join. Hot keys here are the top-3 uids by event count — a bounded
    (limit-3) driver collect standing in for sampled detection, which
    at fixture scale would sample too few rows to trip the threshold.
    The reference's skew story is the uid%13 heavy-clicker cohort
    (make_user_action_001.py:71); benched at 50M rows in bench.py."""
    from clickhouse_learning_spark.operators.skew import targeted_salted_join

    ev = _events(spark, sf_dir).select(
        "uid", F.round(F.col("value") * 100).cast("long").alias("value_cents")
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("uid"), "c_mktsegment"
    )
    hot = [
        r.uid
        for r in ev.groupBy("uid")
        .count()
        .orderBy(F.desc("count"), F.asc("uid"))
        .limit(3)
        .collect()
    ]
    return (
        targeted_salted_join(ev, dim, "uid", n_salts=8, hot_keys=hot)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("value_cents").alias("value_cents"),
        )
    )


@query(
    "skew_agg_salted",
    f"""
    SELECT day,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents,
           CAST(round(avg(CAST(round(value * 100) AS BIGINT)), 2) AS DOUBLE)
               AS cents_avg,
           CAST(max(uid) AS BIGINT) AS max_uid
    FROM {_EV} GROUP BY day
    """,
)
def skew_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.salted_agg, r4):
    salt → MetricSpec partial states on (day, salt) → merge+finalize on
    day. Salting must not change any answer, so the oracle is the plain
    single-phase SQL aggregate. Scale role: the fallback for groupBy
    paths without Spark's map-side combine; for custom Pandas
    aggregations (the genuinely skew-broken path) the benched form is
    salted_apply_agg — see the skew_agg_* bench pairs and the division
    of labor in operators/skew.py."""
    from clickhouse_learning_spark.functions.metrics import MetricSpec
    from clickhouse_learning_spark.operators.skew import salted_agg

    ev = _events(spark, sf_dir).select(
        "day",
        "uid",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    metrics = (
        MetricSpec("cnt", "count", "1"),
        MetricSpec("value_cents", "sum", "cents"),
        MetricSpec("cents_avg", "avg", "cents"),
        MetricSpec("max_uid", "max", "uid"),
    )
    out = salted_agg(ev, "day", metrics, n_salts=8)
    return out.select(
        "day",
        "cnt",
        "value_cents",
        F.round("cents_avg", 2).alias("cents_avg"),
        "max_uid",
    )


@query(
    "like_and_conjunction",
    """
    SELECT p_brand, CAST(count(*) AS BIGINT) AS cnt,
           CAST(round(avg(p_retailprice), 2) AS DOUBLE) AS avg_price
    FROM part
    WHERE p_type LIKE '%DARD%' AND p_size >= 10 AND p_brand <> 'Brand#17'
    GROUP BY p_brand
    """,
)
def like_and_conjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE / inequality / conjunction predicates (SURVEY P6;
    data_rebalance.py:136-139,199)."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.filter(
            F.col("p_type").like("%DARD%")
            & (F.col("p_size") >= 10)
            & (F.col("p_brand") != "Brand#17")
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
        )
    )


@query(
    "scalar_datetime_math",
    """
    SELECT CAST(ts AS DATE) AS day,
           date_trunc('hour', ts) AS hour,
           CAST(CAST(ts AS DATE) + INTERVAL 10 DAY AS DATE) AS ttl_day,
           CAST(floor(value / 10) AS BIGINT) AS value_div,
           CAST(CAST(floor(value) AS BIGINT) % 7 AS BIGINT) AS value_mod,
           CAST(event_id AS VARCHAR) AS event_id_str
    FROM events WHERE event_id < 100
    """,
)
def scalar_datetime_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar surface (SURVEY F1-F7): toDate, toStartOfHour, TTL interval
    arithmetic, int-div, modulo, toString."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") < 100).select(
        F.to_date("ts").alias("day"),
        F.date_trunc("hour", "ts").alias("hour"),
        (F.to_date("ts") + F.expr("INTERVAL 10 DAYS")).cast("date").alias("ttl_day"),
        F.floor(F.col("value") / 10).cast("long").alias("value_div"),
        (F.floor("value").cast("long") % 7).cast("long").alias("value_mod"),
        F.col("event_id").cast("string").alias("event_id_str"),
    )


@query(
    "parse_datetime_best_effort",
    """
    SELECT o_orderkey,
           coalesce(try_cast(CAST(o_orderdate AS VARCHAR) AS TIMESTAMP),
                    TIMESTAMP '1970-01-01 00:00:00') AS parsed
    FROM orders WHERE o_orderkey < 500
    """,
)
def parse_datetime_best_effort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parseDateTimeBestEffortOrZero (SURVEY F8; data_rebalance.py:137):
    lenient timestamp parse with epoch fallback."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") < 500).select(
        "o_orderkey",
        F.coalesce(
            F.try_to_timestamp(F.col("o_orderdate").cast("string")),
            F.lit("1970-01-01 00:00:00").cast("timestamp"),
        ).alias("parsed"),
    )


@query(
    "array_join_tuples",
    """
    SELECT t.f1 AS stage_id, t.f2 AS stage_name, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest([struct_pack(f1 := 1, f2 := 'view'),
                         struct_pack(f1 := 2, f2 := 'click'),
                         struct_pack(f1 := 3, f2 := 'purchase')]) AS t)
    GROUP BY t.f1, t.f2 ORDER BY stage_id
    """,
)
def array_join_tuples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY JOIN over tuple literals + tuple element access (SURVEY
    F12/F13, S7; docs/…md:341-346): single-row source exploded into rows."""
    one = spark.range(1)
    arr = F.array(
        F.struct(F.lit(1).alias("f1"), F.lit("view").alias("f2")),
        F.struct(F.lit(2).alias("f1"), F.lit("click").alias("f2")),
        F.struct(F.lit(3).alias("f1"), F.lit("purchase").alias("f2")),
    )
    exploded = one.select(F.explode(arr).alias("t"))
    return (
        exploded.select(F.col("t.f1").alias("stage_id"), F.col("t.f2").alias("stage_name"))
        .groupBy("stage_id", "stage_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("stage_id")
    )


@query(
    "numbers_generator",
    """
    SELECT CAST(i % 10 AS BIGINT) AS bucket,
           CAST(sum(i) AS BIGINT) AS total,
           CAST(count(*) AS BIGINT) AS n
    FROM range(100000) t(i) GROUP BY i % 10
    """,
)
def numbers_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """numbers(N) synthetic source (SURVEY S6; docs/…md:565) — the
    reference's 1-billion-row sumState benchmark shape at test size."""
    return (
        spark.range(100000)
        .select((F.col("id") % 10).alias("bucket"), F.col("id"))
        .groupBy("bucket")
        .agg(F.sum("id").alias("total"), F.count(F.lit(1)).alias("n"))
    )


# ===========================================================================
# Joins (J1-J6)
# ===========================================================================


@query(
    "dict_enrich_join",
    f"""
    SELECT c.c_mktsegment AS segment,
           count(DISTINCT e.uid) AS uv,
           CAST(count(*) AS BIGINT) AS cnt
    FROM {_EV} e
    JOIN customer c ON CAST(e.uid AS BIGINT) = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def dict_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi hash join with cast-on-key (SURVEY J1; reference
    dim.dict_user_dim.sql:29-34) — dimension side broadcast, exactly the
    dictGet/dictionary enrichment path (J5, docs/…md:663-747)."""
    ev = _events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    return (
        ev.join(F.broadcast(cust), ev.uid.cast("long") == cust.c_custkey, "inner")
        .groupBy("segment")
        .agg(F.count_distinct("uid").alias("uv"), F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "left_join_using",
    f"""
    WITH v AS (SELECT day, count(DISTINCT uid) AS view_uv FROM {_EV}
               WHERE event_type = 'view' GROUP BY day),
         p AS (SELECT day, count(DISTINCT uid) AS buy_uv FROM {_EV}
               WHERE event_type = 'purchase' GROUP BY day)
    SELECT v.day AS day, v.view_uv AS view_uv,
           coalesce(p.buy_uv, 0) AS buy_uv
    FROM v LEFT JOIN p USING (day)
    """,
)
def left_join_using(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT JOIN ... USING (SURVEY J2; reference dwm…sql:255-276): join of
    two aggregated subqueries on the shared key column."""
    ev = _events(spark, sf_dir)
    v = (
        ev.filter("event_type = 'view'")
        .groupBy("day")
        .agg(F.count_distinct("uid").alias("view_uv"))
    )
    p = (
        ev.filter("event_type = 'purchase'")
        .groupBy("day")
        .agg(F.count_distinct("uid").alias("buy_uv"))
    )
    return v.join(p, ["day"], "left").select(
        "day", "view_uv", F.coalesce("buy_uv", F.lit(0)).alias("buy_uv")
    )


@query(
    "cross_join_matrix",
    """
    SELECT r.r_name AS region_name, n.n_name AS nation_name
    FROM region r CROSS JOIN nation n
    """,
)
def cross_join_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join — the rebalancer's shards × partitions matrix
    (SURVEY J3; data_rebalance.py:133-142)."""
    r = load_table(spark, sf_dir, "region").select(F.col("r_name").alias("region_name"))
    n = load_table(spark, sf_dir, "nation").select(F.col("n_name").alias("nation_name"))
    return r.crossJoin(n)


@query(
    "composite_key_left_join",
    """
    WITH c AS (SELECT c_nationkey, count(*) AS customers FROM customer GROUP BY c_nationkey),
         s AS (SELECT s_nationkey, count(*) AS suppliers FROM supplier GROUP BY s_nationkey)
    SELECT n.n_name AS nation_name,
           CAST(coalesce(c.customers, 0) AS BIGINT) AS customers,
           CAST(coalesce(s.suppliers, 0) AS BIGINT) AS suppliers
    FROM nation n
    LEFT JOIN c ON n.n_nationkey = c.c_nationkey
    LEFT JOIN s ON n.n_nationkey = s.s_nationkey
    """,
)
def composite_key_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left joins on keyed aggregates with neutral fill (SURVEY J4;
    data_rebalance.py:143-156)."""
    n = load_table(spark, sf_dir, "nation")
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("customers"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("suppliers"))
    )
    return (
        n.join(c, n.n_nationkey == c.c_nationkey, "left")
        .join(s, n.n_nationkey == s.s_nationkey, "left")
        .select(
            F.col("n_name").alias("nation_name"),
            F.coalesce("customers", F.lit(0)).alias("customers"),
            F.coalesce("suppliers", F.lit(0)).alias("suppliers"),
        )
    )


@query(
    "semi_join_exists",
    """
    SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS customers_with_orders
    FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi join (SURVEY §2.3 freebie — EXISTS)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return (
        c.join(o, "c_custkey", "left_semi")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("customers_with_orders"))
    )


@query(
    "anti_join_not_exists",
    """
    SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS customers_without_orders
    FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders
                                    WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    GROUP BY c_mktsegment
    """,
)
def anti_join_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti join (SURVEY §2.3 freebie — NOT EXISTS). The subquery is
    filtered so both branches of the anti join are non-trivial."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        c.join(o, "c_custkey", "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("customers_without_orders"))
    )


# ===========================================================================
# Set operations (U1-U2)
# ===========================================================================


@query(
    "union_all_batches",
    f"""
    SELECT day, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(CAST(floor(value*1000) AS BIGINT)) AS BIGINT) AS value_sum
    FROM (
      SELECT * FROM {_EV} WHERE event_type = 'view'
      UNION ALL
      SELECT * FROM {_EV} WHERE event_type = 'purchase'
    ) GROUP BY day
    """,
)
def union_all_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of batches (SURVEY U1; docs/…md:350-384)."""
    ev = _events(spark, sf_dir)
    u = ev.filter("event_type = 'view'").unionByName(ev.filter("event_type = 'purchase'"))
    return u.groupBy("day").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("value_sum"),
    )


@query(
    "union_merge_wide",
    f"""
    SELECT day,
           CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS view_cnt,
           CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS buy_cnt,
           CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                             THEN CAST(floor(value*1000) AS BIGINT) END), 0) AS BIGINT) AS buy_value_sum
    FROM {_EV} GROUP BY day
    """,
)
def union_merge_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-merge instead of join (SURVEY U2/J6/T7; docs/…md:822-997):
    two 'logs' write disjoint metric columns with neutral states; a
    single merge-agg replaces the join. Oracle expresses the same answer
    as conditional aggregation over one log."""
    ev = _events(spark, sf_dir)
    log1 = ev.filter("event_type = 'view'")
    log2 = ev.filter("event_type = 'purchase'")
    s1 = log1.groupBy("day").agg(
        F.count(F.lit(1)).alias("view_cnt"),
        F.lit(None).cast("bigint").alias("buy_cnt"),
        F.lit(None).cast("bigint").alias("buy_value_sum"),
    )
    s2 = log2.groupBy("day").agg(
        F.lit(None).cast("bigint").alias("view_cnt"),
        F.count(F.lit(1)).alias("buy_cnt"),
        F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("buy_value_sum"),
    )
    wide = s1.unionByName(s2)
    return wide.groupBy("day").agg(
        F.coalesce(F.sum("view_cnt"), F.lit(0)).alias("view_cnt"),
        F.coalesce(F.sum("buy_cnt"), F.lit(0)).alias("buy_cnt"),
        F.coalesce(F.sum("buy_value_sum"), F.lit(0)).alias("buy_value_sum"),
    )


# ===========================================================================
# Beyond-reference freebies the engine exposes (SURVEY §2.4/§2.5 notes)
# ===========================================================================


@query(
    "rollup_totals",
    f"""
    SELECT day, event_type, CAST(count(*) AS BIGINT) AS cnt
    FROM {_EV} GROUP BY ROLLUP (day, event_type)
    """,
)
def rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP (beyond-reference extension noted in SURVEY §2.4)."""
    return _events(spark, sf_dir).rollup("day", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@query(
    "window_topk_per_group",
    f"""
    SELECT day, event_type, cnt, rn FROM (
      SELECT day, event_type, CAST(count(*) AS BIGINT) AS cnt,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY count(*) DESC, day ASC) AS rn
      FROM {_EV} GROUP BY day, event_type)
    WHERE rn <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per group (SURVEY §2.5: out-of-reference-scope but
    exposed; deterministic tie-break on day)."""
    from pyspark.sql import Window as W

    ev = _events(spark, sf_dir)
    agg = ev.groupBy("day", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    w = W.partitionBy("event_type").orderBy(F.desc("cnt"), F.asc("day"))
    return agg.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


@query(
    "null_handling",
    """
    SELECT o_orderstatus,
           CAST(sum(CASE WHEN big_price IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nonnull_cnt,
           CAST(count(big_price) AS BIGINT) AS counted,
           CAST(count(*) AS BIGINT) AS total
    FROM (SELECT o_orderstatus,
                 CASE WHEN o_totalprice > 100000 THEN o_totalprice END AS big_price
          FROM orders)
    GROUP BY o_orderstatus
    """,
)
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """isNotNull / null-skipping count semantics (SURVEY F11;
    docs/…md:886-908 — the reference's neutral-state NULL discussion)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.when(F.col("o_totalprice") > 100000, F.col("o_totalprice")).alias("big_price"),
    )
    return o.groupBy("o_orderstatus").agg(
        F.sum(F.isnotnull("big_price").cast("int")).cast("long").alias("nonnull_cnt"),
        F.count("big_price").alias("counted"),
        F.count(F.lit(1)).alias("total"),
    )


@query(
    "pivot_event_matrix",
    f"""
    SELECT day,
           CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT)     AS view,
           CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT)    AS click,
           CAST(coalesce(sum(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT)   AS signup,
           CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
           CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT)    AS error
    FROM {_EV} GROUP BY day
    """,
)
def pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (beyond-reference extension): day × event_type count matrix
    with a pinned column list (pinned values keep the pivot a single
    pass — no extra values-discovery job)."""
    ev = _events(spark, sf_dir)
    out = (
        ev.groupBy("day")
        .pivot("event_type", ["view", "click", "signup", "purchase", "error"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "day",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in ("view", "click", "signup", "purchase", "error")],
    )


@query(
    "unpivot_event_matrix",
    f"""
    WITH wide AS (
      SELECT day,
             CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT)  AS view,
             CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS click,
             CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS error
      FROM {_EV} GROUP BY day)
    SELECT day, metric, cnt FROM wide
    UNPIVOT (cnt FOR metric IN (view, click, error))
    """,
)
def unpivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) — the inverse of pivot_event_matrix: wide metric
    columns back to (day, metric, value) rows via ``stack``, the
    narrow form a metrics store ingests. Zero extra shuffles: stack is
    a per-row generator above the aggregation."""
    ev = _events(spark, sf_dir)
    wide = ev.groupBy("day").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("event_type") == t, 1)), F.lit(0)
            ).alias(t)
            for t in ("view", "click", "error")
        ]
    )
    return wide.select(
        "day",
        F.expr("stack(3, 'view', view, 'click', click, 'error', error)").alias(
            "metric", "cnt"
        ),
    )


@query(
    "argmax_top_event",
    f"""
    SELECT day, event_type AS top_event_type,
           CAST(floor(value * 100) AS BIGINT) AS top_value_cents
    FROM (
      SELECT day, event_type, value,
             row_number() OVER (PARTITION BY day
                                ORDER BY value DESC, event_id DESC) AS rn
      FROM {_EV})
    WHERE rn = 1
    """,
)
def argmax_top_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argMax (ClickHouse argMax semantics with a deterministic
    tie-break): the event_type and value of each day's highest-value
    event, computed as a mergeable struct-max state — no window, no
    sort, one aggregation."""
    from clickhouse_learning_spark.functions import metrics as M2

    ev = _events(spark, sf_dir)
    ordc = F.struct(F.col("value").alias("o1"), F.col("event_id").alias("o2"))
    spec = M2.MetricSpec(
        "top",
        "argmax",
        F.struct(
            F.col("event_type").alias("t"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        ),
        order_by=ordc,
    )
    states = ev.groupBy("day", "hour").agg(spec.partial())  # two-level on purpose
    merged = states.groupBy("day").agg(spec.merged_finalized())
    return merged.select(
        "day",
        F.col("top.t").alias("top_event_type"),
        F.col("top.cents").alias("top_value_cents"),
    )


@query(
    "grouping_sets_totals",
    f"""
    SELECT day, event_type, CAST(count(*) AS BIGINT) AS cnt
    FROM {_EV}
    GROUP BY GROUPING SETS ((day), (event_type))
    """,
)
def grouping_sets_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the third grouping-set shape next to
    rollup/cube)."""
    ev = _events(spark, sf_dir)
    ev.createOrReplaceTempView("__gs_events")
    return spark.sql(
        """
        SELECT day, event_type, CAST(count(*) AS BIGINT) AS cnt
        FROM __gs_events
        GROUP BY GROUPING SETS ((day), (event_type))
        """
    )


@query(
    "cube_totals",
    f"""
    SELECT day, event_type, CAST(count(*) AS BIGINT) AS cnt,
           count(DISTINCT uid) AS uv
    FROM {_EV} GROUP BY CUBE (day, event_type)
    """,
)
def cube_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE (beyond-reference extension noted in SURVEY §2.4):
    all 4 grouping-set combinations in one pass."""
    return (
        _events(spark, sf_dir)
        .cube("day", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.count_distinct("uid").alias("uv"))
    )
