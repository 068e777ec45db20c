"""Multi-join analytics queries (TPC-H Q3/Q5/Q10/Q14 shapes).

The reference's join surface stops at two-table equi joins
(SURVEY §2.3, J1-J6); these queries extend the engine to the 3-6-table
star/snowflake joins a warehouse user actually runs, and exercise the
scale machinery the two-table queries can't: Catalyst join reordering,
broadcast of the dimension chain (region/nation/supplier/customer), and
partial aggregation above a multi-join.

Scale notes (100 TB):
- region/nation/part are tiny → explicit F.broadcast; customer/supplier
  are per-key dimensions that AQE will broadcast at small SF and
  shuffle-join at large SF — we leave them unhinted on purpose.
- Every aggregate is keyed (no global sort-limit over a float column:
  an engine-dependent last-bit difference in an unrounded double sum
  could flip a LIMIT boundary; HAVING on exactly-representable sums is
  deterministic on both engines).
- Revenue doubles are round(x, 2) on BOTH sides (queries.py rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_learning_spark.functions.scalar import (
    # the exact-cents conversion: money columns are 2-decimal lattice
    # points, so v*100 sits within an ULP of an integer and the FP
    # half-away quantizer provably equals F.round's BigDecimal path
    # (which cost ~35 ns/value); replay-verified on every SF
    round_half_away_long as _money_cents,
)
from clickhouse_learning_spark.queries import query
from clickhouse_learning_spark.schemas import load_table

def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@query(
    "shipping_priority",
    """
    SELECT l_orderkey,
           CAST(((sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * CAST(round(100 - l_discount * 100) AS BIGINT)) + 50)
                 // 100) AS BIGINT) / 100.0 AS revenue,
           CAST(o_orderdate AS DATE) AS o_orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_shipdate  > TIMESTAMP '1997-06-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    """,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-table join, selective filters on all three
    inputs (each pushed to its scan), keyed revenue rollup.

    Per-order groups are tiny (~4 lineitems), so a double revenue sum
    lands on .005 round boundaries often enough to flap between
    engines; revenue is therefore summed as exact integer
    cents × discount-basis-points, half-up-rounded to cents in integer
    space, and divided by 100.0 once at the end (same integer in, same
    IEEE double out on both engines)."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-01").cast("timestamp_ntz")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            (
                F.floor(
                    (
                        F.sum(
                            _money_cents(F.col("l_extendedprice") * 100)
                            * _money_cents(100 - F.col("l_discount") * 100)
                        )
                        + 50
                    )
                    / 100
                ).cast("long")
                / 100.0
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.to_date("o_orderdate").alias("o_orderdate"),
            "o_orderpriority",
        )
    )


@query(
    "regional_supplier_volume",
    """
    SELECT n_name,
           CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table snowflake join where the local-supplier
    condition (c_nationkey = s_nationkey) rides on the supplier join.
    region/nation broadcast explicitly; the fact chain is left to
    Catalyst/AQE to reorder."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(
        load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
    )


@query(
    "returned_item_report",
    """
    SELECT c_custkey, c_name, n_name,
           CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS revenue,
           CAST(round(max(c_acctbal), 2) AS DOUBLE) AS c_acctbal
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    HAVING sum(l_quantity) > 150
    """,
)
def returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue. The HAVING gate
    is a sum of small integral doubles (exact in FP on both engines) so
    the row set is deterministic — a float-sort LIMIT would not be."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(_rev()), 2).alias("revenue"),
            F.round(F.max("c_acctbal"), 2).alias("c_acctbal"),
            F.sum("l_quantity").alias("_qty"),
        )
        .filter(F.col("_qty") > 150)
        .drop("_qty")
        .select("c_custkey", "c_name", "n_name", "revenue", "c_acctbal")
    )


@query(
    "range_join_campaigns",
    """
    WITH c AS (
      SELECT o_orderkey AS campaign_id,
             date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) AS start_day,
             date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) + 10 AS end_day
      FROM orders WHERE o_orderkey % 997 = 0),
    p AS (
      SELECT date_diff('day', TIMESTAMP '1970-01-01', l_shipdate) AS ship_day,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem)
    SELECT campaign_id,
           CAST(count(*) AS BIGINT) AS n_shipments,
           CAST(sum(qty) AS BIGINT) AS qty_sum
    FROM p JOIN c ON p.ship_day BETWEEN c.start_day AND c.end_day
    GROUP BY campaign_id
    """,
)
def range_join_campaigns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval-containment) join: shipments landing inside each
    10-day campaign window. The oracle states the naive inequality join;
    the engine runs operators/rangejoin.point_in_interval_join — a
    bucketized equi-join (each point meets each window exactly once, the
    BETWEEN survives only as a hash-join residual filter), because Spark
    compiles the naive form to a nested-loop O(points × intervals) plan."""
    from clickhouse_learning_spark.operators.rangejoin import point_in_interval_join

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    epoch = F.lit("1970-01-01").cast("timestamp_ntz")
    campaigns = orders.filter(F.col("o_orderkey") % 997 == 0).select(
        F.col("o_orderkey").alias("campaign_id"),
        F.datediff("o_orderdate", epoch).cast("long").alias("start_day"),
        (F.datediff("o_orderdate", epoch) + 10).cast("long").alias("end_day"),
    )
    points = li.select(
        F.datediff("l_shipdate", epoch).cast("long").alias("ship_day"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    j = point_in_interval_join(
        points, campaigns, "ship_day", "start_day", "end_day", bucket_width=10
    )
    return j.groupBy("campaign_id").agg(
        F.count(F.lit(1)).alias("n_shipments"), F.sum("qty").alias("qty_sum")
    )


@query(
    "promo_revenue_share",
    """
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
           CAST(round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                       THEN l_extendedprice * (1 - l_discount)
                                       ELSE 0 END)
                      / sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE)
               AS promo_pct
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY ship_month
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio over a fact ⋈ dim
    join (part broadcasts — it is a bounded catalog even at 100 TB of
    lineitem)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    part = F.broadcast(load_table(spark, sf_dir, "part"))
    rev = _rev()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.to_date(F.date_trunc("month", "l_shipdate")).alias("ship_month"))
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 2).alias("promo_pct")
        )
    )


@query(
    "small_quantity_revenue",
    """
    SELECT p_brand,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS low_qty_cents,
           CAST(count(*) AS BIGINT) AS cnt
    FROM (
      SELECT p.p_brand, l.l_extendedprice, l.l_quantity,
             sum(CAST(l.l_quantity AS BIGINT)) OVER (PARTITION BY l.l_partkey) AS qsum,
             count(*) OVER (PARTITION BY l.l_partkey) AS qcnt
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    )
    WHERE 2 * CAST(l_quantity AS BIGINT) * qcnt < qsum
    GROUP BY p_brand
    """,
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems whose quantity is below
    half their part's average — the correlated-scalar-subquery pattern,
    expressed as a per-part pre-aggregation joined back to the fact
    table (exactly Catalyst's decorrelation of the subquery form; the
    oracle uses the equivalent window formulation).

    Determinism: the `q < 0.5·avg(q)` boundary is integerized to
    `2·q·cnt < sum(q)` (quantities are integral), so no IEEE
    summation-order difference can flip a row between engines.

    Scale: per-part aggregation and the join both key on l_partkey —
    one shuffle, co-partitioned; revenue summed in exact cents."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("qsum"),
        F.count(F.lit(1)).alias("qcnt"),
    )
    return (
        li.join(per_part, "l_partkey")
        .filter(2 * F.col("l_quantity").cast("long") * F.col("qcnt") < F.col("qsum"))
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand")
        .agg(
            F.sum(_money_cents(F.col("l_extendedprice") * 100)).alias(
                "low_qty_cents"
            ),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


@query(
    "top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS total_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_cents
    FROM rev JOIN supplier ON s_suppkey = l_suppkey
    WHERE total_cents = (SELECT max(total_cents) FROM rev)
    """,
)
def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the maximum quarterly
    revenue — an aggregate-of-aggregate with a scalar subquery against
    the same derived view. Expressed as a rank-less max-equality over
    exact integer cents (ties kept, like the TPC-H spec), so the
    boundary cannot flap between engines.

    Scale: one keyed aggregation of the filtered fact table; the
    1-row max is a broadcast cross-join, never a sort of the whole
    revenue vector."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            _money_cents(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            )
        ).alias("total_cents")
    )
    mx = rev.agg(F.max("total_cents").alias("mx"))
    sup = load_table(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_cents") == F.col("mx"))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_cents")
    )


@query(
    "rolling_revenue_7d",
    """
    SELECT day, daily_cents,
           CAST(sum(daily_cents) OVER (ORDER BY day
                RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
               AS BIGINT) AS rolling7_cents
    FROM (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS daily_cents
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate <  TIMESTAMP '1997-03-01'
      GROUP BY 1)
    """,
)
def rolling_revenue_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day revenue window over the daily rollup — the
    time-RANGE window frame (not ROWS: missing days must widen the
    trailing sum's reach, and duplicate days must merge). Spark's
    rangeBetween needs a numeric ordering key, so days order by their
    epoch-day number with a (-6, 0) frame; the oracle uses DuckDB's
    native INTERVAL RANGE frame — a framing bug on either side breaks
    the hash match.

    Scale: the window runs over the already-aggregated daily series
    (~hundreds of rows per partition horizon), not the raw fact table;
    one exchange for the rollup, a single-partition window over days
    is fine because the series is tiny post-aggregation."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-03-01").cast("timestamp_ntz"))
    )
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(_money_cents(F.col("o_totalprice") * 100)).alias("daily_cents")
    )
    # unpartitioned on purpose: the frame is the POST-AGGREGATION daily
    # series (≤ one row per day — bounded by group cardinality, not data
    # size), so WindowExec's single-partition warning is benign here
    w = (
        Window.orderBy(F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "day", "daily_cents", F.sum("daily_cents").over(w).alias("rolling7_cents")
    )


@query(
    "forecast_revenue_change",
    """
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
               AS revenue_delta_e4
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-sum, the query whose entire cost
    is predicate pushdown + a global sum — every filter must reach the
    parquet scan (no join, no group). Revenue in exact integer
    cents×basis-points (the BETWEEN on a double hits exact hundredths,
    stored exactly in the fixture's two-decimal discounts)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(
            _money_cents(F.col("l_extendedprice") * 100)
            * _money_cents(F.col("l_discount") * 100)
        ).alias("revenue_delta_e4")
    )


@query(
    "shipmode_priority_split",
    """
    SELECT CASE l_linenumber % 3 WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP'
                ELSE 'AIR' END AS shipmode,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def shipmode_priority_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-to-fact equi join (orders × lineitem — the
    one join in the set where NEITHER side broadcasts at scale, so the
    co-partitioned shuffle join is the right plan) with a date filter
    pushed to the lineitem scan and a conditional split aggregation.
    The fixture has no l_shipmode column; a deterministic
    linenumber-derived mode keeps Q12's exact aggregation shape."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    orders = load_table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    mode = (
        F.when(F.col("l_linenumber") % 3 == 0, "MAIL")
        .when(F.col("l_linenumber") % 3 == 1, "SHIP")
        .otherwise("AIR")
    )
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(mode.alias("shipmode"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "rfm_segments",
    """
    WITH per_cust AS (
      SELECT o_custkey,
             count(*) AS frequency,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS monetary_cents,
             date_diff('day', DATE '1970-01-01', max(CAST(o_orderdate AS DATE)))
                 AS last_day
      FROM orders GROUP BY o_custkey),
    bounds AS (
      SELECT
        percentile_disc(0.25) WITHIN GROUP (ORDER BY last_day)       AS r1,
        percentile_disc(0.50) WITHIN GROUP (ORDER BY last_day)       AS r2,
        percentile_disc(0.75) WITHIN GROUP (ORDER BY last_day)       AS r3,
        percentile_disc(0.25) WITHIN GROUP (ORDER BY frequency)      AS f1,
        percentile_disc(0.50) WITHIN GROUP (ORDER BY frequency)      AS f2,
        percentile_disc(0.75) WITHIN GROUP (ORDER BY frequency)      AS f3,
        percentile_disc(0.25) WITHIN GROUP (ORDER BY monetary_cents) AS m1,
        percentile_disc(0.50) WITHIN GROUP (ORDER BY monetary_cents) AS m2,
        percentile_disc(0.75) WITHIN GROUP (ORDER BY monetary_cents) AS m3
      FROM per_cust),
    scored AS (
      SELECT 1 + CAST(last_day > r1 AS INT) + CAST(last_day > r2 AS INT)
               + CAST(last_day > r3 AS INT) AS r,
             1 + CAST(frequency > f1 AS INT) + CAST(frequency > f2 AS INT)
               + CAST(frequency > f3 AS INT) AS f,
             1 + CAST(monetary_cents > m1 AS INT) + CAST(monetary_cents > m2 AS INT)
               + CAST(monetary_cents > m3 AS INT) AS m
      FROM per_cust CROSS JOIN bounds)
    SELECT r, f, m, CAST(count(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY r, f, m
    """,
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: quartile scores for recency/frequency/monetary
    per customer via exact ``percentile_disc`` boundaries (SQL-standard
    discrete percentile — both engines pick the smallest value whose
    cume_dist >= p, so the boundaries agree exactly on integer metrics)
    and comparison-based score assignment, then segment population
    counts. Scale: one orders aggregation, one 9-value boundary
    aggregate (a single reduce — no global window sort; the earlier
    ``ntile`` form moved the whole customer rollup to one partition
    three times), and a 1-row broadcast join for scoring. Rows at a
    boundary score into the lower bucket — deterministic under ties.
    At extreme cardinality swap ``percentile_disc`` for
    ``approx_percentile`` with a documented tolerance; the shape is
    otherwise unchanged."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("frequency"),
        F.sum(_money_cents(F.col("o_totalprice") * 100)).alias(
            "monetary_cents"
        ),
        F.datediff(
            F.max(F.to_date("o_orderdate")), F.lit("1970-01-01").cast("date")
        ).alias("last_day"),
    )
    metrics = {"last_day": "r", "frequency": "f", "monetary_cents": "m"}
    bounds = per_cust.agg(
        *[
            F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY {c})").alias(
                f"{pre}{i}"
            )
            for c, pre in metrics.items()
            for i, p in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )

    def score(col: str, pre: str):
        s = F.lit(1)
        for i in (1, 2, 3):
            s = s + (F.col(col) > F.col(f"{pre}{i}")).cast("int")
        return s.alias(pre)

    scored = per_cust.crossJoin(F.broadcast(bounds)).select(
        *[score(c, pre) for c, pre in metrics.items()]
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@query(
    "part_pair_affinity",
    """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey % 200 AS pg FROM lineitem),
    pairs AS (
      SELECT a.pg AS pg_a, b.pg AS pg_b, count(*) AS n_orders
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.pg < b.pg
      GROUP BY a.pg, b.pg)
    SELECT pg_a, pg_b, CAST(n_orders AS BIGINT) AS n_orders FROM (
      SELECT pg_a, pg_b, n_orders,
             row_number() OVER (ORDER BY n_orders DESC, pg_a, pg_b) AS rn
      FROM pairs)
    WHERE rn <= 15
    ORDER BY n_orders DESC, pg_a, pg_b
    """,
)
def part_pair_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: part groups co-occurring in one order
    (self-join keyed ON the order — pair fan-out is O(k²) in basket
    size k≈4, not corpus size, so the shape survives any order count),
    global top-15 with a deterministic tie-break. Grouping parts mod
    200 keeps the pair space dense enough at sf0.01 for non-trivial
    counts."""
    from pyspark.sql.window import Window as W

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", (F.col("l_partkey") % 200).alias("pg"))
        .distinct()
    )
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.pg") < F.col("b.pg")),
        )
        .groupBy(F.col("a.pg").alias("pg_a"), F.col("b.pg").alias("pg_b"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    # BOUNDED global window: the windowed set is the distinct part-group
    # pairs — at most C(200, 2) = 19,900 rows by the mod-200 grouping,
    # O(1) in data size. Do NOT copy this shape for an unbounded set
    # (use orderBy().limit() → TakeOrderedAndProject, as vocab_top does).
    w = W.orderBy(F.col("n_orders").desc(), "pg_a", "pg_b")
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 15)
        .drop("_rn")
        .orderBy(F.col("n_orders").desc(), "pg_a", "pg_b")
    )


@query(
    "revenue_anomaly_days",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM orders GROUP BY 1),
    stats AS (
      SELECT day, cents,
             sum(cents)         OVER w AS s,
             sum(CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0)))
                                OVER w AS sq,
             count(*)           OVER w AS n
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)),
    scored AS (
      SELECT day, cents, n,
             (CAST(cents AS DOUBLE) - CAST(s AS DOUBLE) / n)
             / sqrt((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n) AS z
      FROM stats WHERE n >= 14
                   AND (CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) > 0)
    SELECT day, cents, round(z, 4) AS z
    FROM scored WHERE abs(z) > 2
    ORDER BY day
    """,
)
def revenue_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: each day's revenue z-scored
    against the previous 28 days. Determinism: mean/variance are
    derived from exact integer window sums (Σx, Σx², n) with one
    identical double expression on both engines — never each engine's
    own stddev implementation (Welford vs two-pass would differ in the
    last bits). Σx² is DECIMAL(38,0) on both engines: at sf0.1 the
    28-day sum of squared daily cents peaks near 8.4e19, past int64.
    Scale: the window runs over the daily rollup, not the fact table."""
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(_money_cents(F.col("o_totalprice") * 100)).alias("cents")
    )
    w = W.orderBy("day").rowsBetween(-28, -1)
    wide = F.col("cents").cast("decimal(38,0)")
    stats = daily.select(
        "day",
        "cents",
        F.sum("cents").over(w).alias("s"),
        F.sum(wide * wide).over(w).alias("sq"),
        F.count(F.lit(1)).over(w).alias("n"),
    ).filter(F.col("n") >= 14)
    var_num = F.col("sq").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n")
    z = (F.col("cents").cast("double") - F.col("s").cast("double") / F.col("n")) / F.sqrt(
        var_num / F.col("n")
    )
    return (
        stats.filter(var_num > 0)
        .withColumn("_z", z)
        .filter(F.abs(F.col("_z")) > 2)  # filter on the UNROUNDED score
        .select("day", "cents", F.round("_z", 4).alias("z"))
        .orderBy("day")
    )


@query(
    "late_ship_priority",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def late_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS over the fact table
    (orders with any lineitem shipped > 60 days after order) →
    decorrelated to a LEFT SEMI join with a mixed equi + range
    condition. Spark hashes on the equi key and applies the date range
    as a residual — no inequality-join blowup; the semi join emits each
    order at most once regardless of match count. The fixture has no
    l_commitdate/l_receiptdate, so "late" is shipdate vs orderdate."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (orders.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "order_count_distribution",
    """
    WITH c_orders AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY c_count
    """,
)
def order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer join with a join-time filter (the filter
    must live in the ON clause — in WHERE it would turn the outer join
    inner), per-customer order counts including zero, then the count
    distribution. Two aggregations, both map-side combinable; the
    customer side stays on its own key for the first groupBy so the
    join shuffle is reused."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    joined = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey)
        & (orders.o_orderpriority != "1-URGENT"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "large_volume_orders",
    """
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey
                         HAVING sum(CAST(l_quantity AS BIGINT)) > 150)
    GROUP BY o_orderkey, o_totalprice
    """,
)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN over a grouped-HAVING subquery → LEFT SEMI
    against the pre-aggregated key set. The membership aggregation and
    the final per-order rollup both key on l_orderkey, so AQE reuses
    one shuffle layout; quantities are integral in the fixture and
    summed as BIGINT on both engines (no float drift)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("long").alias("qty")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qty").alias("s"))
        .filter(F.col("s") > 150)
        .select("l_orderkey")
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            "o_orderkey",
            _money_cents(F.col("o_totalprice") * 100).alias("total_cents"),
        )
        .agg(F.sum("qty").alias("sum_qty"))
        .select("o_orderkey", "total_cents", "sum_qty")
    )


@query(
    "disjunctive_brand_revenue",
    """
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_e4
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of brand/size/quantity conjunctions
    across both join sides. Catalyst extracts the common-side
    implications (the l_quantity range union pushes to the lineitem
    scan, the brand/size union to the part scan) and evaluates the full
    OR as a post-join residual — the part side broadcasts. Money math
    in integer cents on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#12") & s.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#23") & s.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#34") & s.between(1, 15) & q.between(20, 30))
    )
    return j.filter(cond).agg(
        F.sum(
            _money_cents(F.col("l_extendedprice") * 100)
            * (100 - _money_cents(F.col("l_discount") * 100))
        ).alias("revenue_e4")
    )


@query(
    "idle_rich_customers",
    """
    WITH bal AS (
      SELECT c_custkey, c_nationkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer),
    pos AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS s,
                   CAST(count(*) AS BIGINT) AS n
            FROM bal WHERE bal_cents > 0)
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(bal_cents) AS BIGINT) AS total_cents
    FROM bal, pos
    WHERE bal_cents * n > s
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= DATE '2000-01-01')
    GROUP BY c_nationkey
    """,
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average account balance (the boundary is
    integerized — ``bal·n > Σbal`` in exact cents, never a float-avg
    comparison that could flip boundary rows between engines) and NOT
    EXISTS *recent* orders → LEFT ANTI join against the date-filtered
    order set (the synthetic fixture gives every customer at least one
    order ever, so Q22's no-orders-at-all form is vacuously empty;
    "idle" = no order since 2000-01-01 keeps the anti-join non-trivial
    while preserving the plan shape — the date predicate pushes into
    the orders scan). The 1-row global aggregate joins as a broadcast.
    Grouped by nation as the country-code analog (the fixture has no
    c_phone)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        _money_cents(F.col("c_acctbal") * 100).alias("bal_cents"),
    )
    pos = cust.filter(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("s"), F.count(F.lit(1)).alias("n")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("date"))
        .select("o_custkey")
    )
    rich = cust.crossJoin(F.broadcast(pos)).filter(
        F.col("bal_cents") * F.col("n") > F.col("s")
    )
    return (
        rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal_cents").alias("total_cents"),
        )
    )


@query(
    "nation_trade_volume",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(100 - l_discount * 100) AS BIGINT))
                AS BIGINT) AS revenue_units
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
)
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by ship
    year — a 6-table snowflake with TWO independent nation legs (the
    same dimension joined twice under different roles). Both nation
    legs and supplier/customer broadcast; the fact table sees one
    aggregation shuffle. Revenue kept in exact integer
    cents × basis-points so the hash can't flap on float order."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    df = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return df.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.sum(
            _money_cents(F.col("l_extendedprice") * 100)
            * _money_cents(100 - F.col("l_discount") * 100)
        ).alias("revenue_units")
    )


@query(
    "market_share_by_year",
    """
    WITH base AS (
      SELECT year(o_orderdate) AS o_year,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * CAST(round(100 - l_discount * 100) AS BIGINT) AS units,
             n1.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region   ON n2.n_regionkey = r_regionkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'STANDARD')
    SELECT CAST(o_year AS INT) AS o_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN units
                         ELSE 0 END) AS BIGINT) AS nation_units,
           CAST(sum(units) AS BIGINT) AS total_units,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN units
                              ELSE 0 END) AS DOUBLE)
                 / sum(units), 6) AS mkt_share
    FROM base GROUP BY 1
    """,
)
def market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's market share of a region's filtered
    part trade by order year — a 7-table snowflake where the share is a
    conditional-sum ratio. Every dimension broadcasts; the share is
    computed from exact integer units so numerator and denominator are
    engine-portable, with one final rounded division."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "STANDARD"
    )
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    units = (
        _money_cents(F.col("l_extendedprice") * 100)
        * _money_cents(100 - F.col("l_discount") * 100)
    )
    base = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(
            F.broadcast(region), F.col("n2_region") == region.r_regionkey
        )
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            units.alias("units"),
            "supp_nation",
        )
    )
    nat = F.sum(
        F.when(F.col("supp_nation") == "NATION_5", F.col("units")).otherwise(
            F.lit(0).cast("long")
        )
    )
    return base.groupBy("o_year").agg(
        nat.alias("nation_units"),
        F.sum("units").alias("total_units"),
        F.round(nat / F.sum("units"), 6).alias("mkt_share"),
    )


@query(
    "sole_late_supplier_blame",
    """
    WITH li AS (
      SELECT l_orderkey, l_suppkey,
             l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey)
    SELECT s_name,
           CAST(count(*) AS BIGINT) AS numwait
    FROM li l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE l1.late
      AND EXISTS (SELECT 1 FROM li l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM li l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
    GROUP BY s_name
    """,
)
def sole_late_supplier_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (the hardest TPC-H join pattern): suppliers who
    were the ONLY late supplier on a multi-supplier order — one
    semi-join (another supplier exists on the order) plus one anti-join
    (no OTHER supplier was late) against the same fact table.
    'Late' adapts to this schema as shipping >60 days after the order
    date (no commit/receipt dates in the fixture). The EXISTS /
    NOT-EXISTS pair over the same fact table is algebra over per-order
    supplier counts: an l1 row survives iff its order has >=2 distinct
    suppliers (the semi-join) and exactly ONE distinct late supplier
    (the anti-join — l1 itself is late, so "no OTHER late supplier"
    means l1's supplier is the only one). Aggregating per
    (order, supplier) then per order computes both counts with two
    keyed exchanges instead of the two fact-sized semi/anti
    SortMergeJoins, each of which re-derived the lineitem-orders join
    lineage (guide §2.3/§2.4; before-plan: 16 Exchange, 4 SMJ)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ).alias("late"),
        )
    )
    # one exchange for both aggregation levels: HashPartitioning on
    # l_orderkey satisfies the (l_orderkey, l_suppkey) clustering AND
    # the per-order clustering, so neither groupBy re-shuffles (§2.4)
    per_os = (
        li.repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.count(F.when(F.col("late"), F.lit(1))).alias("late_rows"))
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.count(F.when(F.col("late_rows") > 0, F.lit(1))).alias("n_late_supp"),
        F.max(F.when(F.col("late_rows") > 0, F.col("l_suppkey"))).alias(
            "late_supp"
        ),
        F.max(F.when(F.col("late_rows") > 0, F.col("late_rows"))).alias(
            "late_cnt"
        ),
    )
    sup = load_table(spark, sf_dir, "supplier")
    blamed = per_o.filter(
        (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
    ).join(F.broadcast(sup), F.col("late_supp") == sup.s_suppkey)
    return blamed.groupBy("s_name").agg(
        F.sum("late_cnt").alias("numwait")
    )


@query(
    "min_cost_supplier",
    """
    WITH offers AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS offer_cents
      FROM lineitem GROUP BY 1, 2
    ), eu AS (
      SELECT s_suppkey, s_name, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ), best AS (
      SELECT o.partkey, min(o.offer_cents) AS best_cents
      FROM offers o JOIN eu ON o.suppkey = eu.s_suppkey GROUP BY o.partkey
    )
    SELECT CAST(p.p_partkey AS BIGINT) AS p_partkey, p.p_name,
           eu.s_name, eu.n_name, CAST(b.best_cents AS BIGINT) AS offer_cents
    FROM part p
    JOIN best b ON p.p_partkey = b.partkey
    JOIN offers o ON o.partkey = b.partkey AND o.offer_cents = b.best_cents
    JOIN eu ON o.suppkey = eu.s_suppkey
    WHERE p.p_type = 'SMALL' AND p.p_size % 5 = 0
    """,
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted: the fixture has no partsupp, so a
    supplier's standing offer for a part is its cheapest observed line
    total in exact cents): aggregate-then-rejoin-on-the-min — the
    correlated `= (SELECT min(..) ...)` subquery expressed as a keyed
    min plus an equality join back, keeping ALL tied suppliers like the
    spec query does.

    Scale: offers is one map-side-combinable shuffle on (part, supp);
    the EUROPE supplier dim broadcasts (explicit); best is a second
    keyed min on partkey. No window over the fact table, no limit —
    ties are kept so the result is deterministic. Exact integer cents
    end-to-end (queries.py money rules)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "SMALL") & (F.col("p_size") % 5 == 0)
    )
    eu = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "region").filter(
                    F.col("r_name") == "EUROPE"
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    # push the part predicate below the aggregation: only qualifying
    # parts survive the final inner join, and per-part minima are
    # independent across parts, so semi-joining lineitem first drops
    # ~all rows before the (partkey, suppkey) shuffle (guide §2.3)
    li = li.join(
        F.broadcast(part.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    )
    offers = (
        li.groupBy(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(
            F.min(_money_cents(F.col("l_extendedprice") * 100)).alias(
                "offer_cents"
            )
        )
        .join(F.broadcast(eu), F.col("suppkey") == F.col("s_suppkey"))
    )
    best = offers.groupBy("partkey").agg(
        F.min("offer_cents").alias("best_cents")
    )
    return (
        offers.join(
            best,
            (offers.partkey == best.partkey)
            & (offers.offer_cents == best.best_cents),
        )
        .drop(best.partkey)
        .join(F.broadcast(part), F.col("partkey") == F.col("p_partkey"))
        .select(
            "p_partkey", "p_name", "s_name", "n_name",
            F.col("best_cents").alias("offer_cents"),
        )
    )


@query(
    "product_profit_by_nation_year",
    """
    SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(100 - l_discount * 100) AS BIGINT)
                    - CAST(round(p_retailprice * 100) AS BIGINT)
                      * CAST(l_quantity AS BIGINT) * 100) AS BIGINT)
               AS profit_u
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%o%'
    GROUP BY 1, 2
    """,
)
def product_profit_by_nation_year(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q9 shape (profit by supplier nation x order year; the
    fixture's cost side is p_retailprice x quantity since there is no
    partsupp.ps_supplycost): 5-table snowflake with a non-selective
    LIKE on the part name, year extraction from the order date, and an
    exact-integer profit measure (cents x basis points minus
    cents x qty x 100 — one unit scale, summed as BIGINT so both
    engines agree bit-for-bit).

    Scale: part/supplier/nation broadcast under AQE at this SF and
    shuffle at large SF; the aggregate is keyed (nation, year) with
    map-side partials."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%o%")
    )
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    profit = (
        _money_cents(F.col("l_extendedprice") * 100)
        * _money_cents(100 - F.col("l_discount") * 100)
        - _money_cents(F.col("p_retailprice") * 100)
        * F.col("l_quantity").cast("long")
        * 100
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            "n_name", F.year("o_orderdate").cast("int").alias("o_year")
        )
        .agg(F.sum(profit).alias("profit_u"))
    )


@query(
    "important_part_value",
    """
    WITH val AS (
      SELECT l_partkey AS partkey,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS value_cents
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                    JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_7' GROUP BY 1
    ), tot AS (SELECT sum(value_cents) AS total_cents FROM val)
    SELECT CAST(partkey AS BIGINT) AS p_partkey,
           CAST(value_cents AS BIGINT) AS value_cents
    FROM val, tot WHERE value_cents * 1000 > total_cents
    """,
)
def important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): per-part value restricted to
    one nation's suppliers, kept only where it exceeds a FRACTION of
    the grand total — the HAVING-against-a-scalar-subquery pattern.
    The scalar total re-aggregates the keyed values (1 row) and is
    broadcast into the filter via a cross join; the fraction compare is
    exact-integer (value_cents * 1000 > total_cents), so no float
    threshold can flap the boundary.

    Scale: one keyed shuffle for val; tot is a 1-row reduction of val
    (reused, not recomputed from the fact); the cross join is a
    broadcast nested loop against one row."""
    li = load_table(spark, sf_dir, "lineitem")
    nat_supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_7"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    val = (
        li.join(F.broadcast(nat_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(
                _money_cents(F.col("l_extendedprice") * 100)
            ).alias("value_cents")
        )
    )
    tot = val.agg(F.sum("value_cents").alias("total_cents"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("value_cents") * 1000 > F.col("total_cents"))
        .select(
            F.col("partkey").alias("p_partkey"), "value_cents"
        )
    )


@query(
    "supplier_part_counts",
    """
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#3' AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (2, 5, 11, 17, 23, 28, 37, 41)
      AND l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
    GROUP BY 1, 2, 3
    """,
)
def supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type,
    size) bucket with a negated brand/type/size predicate set and a
    NOT IN exclusion subquery (suppliers with '7'-suffixed names stand
    in for the spec's complaint suppliers) — expressed as a broadcast
    LEFT ANTI join, the scalable form of NOT IN on a non-nullable key.

    Scale: the anti join is map-side against a broadcast hash set; the
    count(DISTINCT) is a two-phase keyed aggregate (partial distinct on
    (bucket, suppkey), then count) that Catalyst plans automatically."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(2, 5, 11, 17, 23, 28, 37, 41))
    )
    complaints = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_name").like("%7")
    )
    return (
        li.join(
            F.broadcast(complaints),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "excess_shipments_suppliers",
    """
    WITH q97 AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             sum(CAST(l_quantity AS BIGINT)) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY 1, 2
    ), tot AS (SELECT partkey, sum(qty) AS total_qty FROM q97 GROUP BY 1),
    excess AS (
      SELECT DISTINCT q.suppkey
      FROM q97 q JOIN tot t ON q.partkey = t.partkey
      JOIN part p ON q.partkey = p.p_partkey
      WHERE p.p_name LIKE 'small%' AND q.qty * 2 > t.total_qty
    )
    SELECT s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    JOIN excess ON s_suppkey = suppkey
    """,
)
def excess_shipments_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers who moved
    MORE THAN HALF of a 'small%' part's 1997 volume — the nested
    correlated `> 0.5 * (SELECT sum(..))` pattern as a keyed aggregate
    pair (per-(part,supp) vs per-part totals re-aggregated from it)
    plus a LEFT SEMI join back to the supplier dim. Quantities are
    integral in the fixture, so the half-of compare is exact
    (qty * 2 > total).

    Scale: q97 is one map-side-combinable shuffle; tot reuses q97 (no
    second fact scan); the semi join ships only distinct suppkeys."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    part_small = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    )
    q97 = li.groupBy(
        F.col("l_partkey").alias("partkey"),
        F.col("l_suppkey").alias("suppkey"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    tot = q97.groupBy("partkey").agg(F.sum("qty").alias("total_qty"))
    excess = (
        q97.join(tot, "partkey")
        .join(
            F.broadcast(part_small),
            F.col("partkey") == F.col("p_partkey"),
        )
        .filter(F.col("qty") * 2 > F.col("total_qty"))
        .select("suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(load_table(spark, sf_dir, "nation")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    return supp.join(
        excess, F.col("s_suppkey") == F.col("suppkey"), "left_semi"
    ).select("s_name", "n_name")
