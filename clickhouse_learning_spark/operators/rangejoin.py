"""Range (interval-containment) join without the quadratic blowup.

``point_in_interval_join(points, intervals)`` joins every point row to
every interval row whose ``[start, end]`` contains it. Spark compiles a
bare ``p.ts BETWEEN i.start AND i.end`` join to
BroadcastNestedLoopJoin / CartesianProduct — O(|points|·|intervals|)
comparisons, which is exactly what dies first at 100 TB.

The scale-correct plan used here is bucketized equi-join:

1. pick a bucket width (caller-supplied, ~the typical interval length);
2. each interval explodes into the buckets it overlaps
   (``sequence(floor(start/w), floor(end/w))`` — short arrays when the
   width matches the data);
3. each point maps to exactly ONE bucket — so the equi-join on
   ``bucket`` meets each (point, interval) candidate exactly once, no
   post-join dedup;
4. the exact ``BETWEEN`` predicate filters the equi-join's candidates.

Cost: one shuffle of points + intervals×overlap on the bucket key, then
per-bucket hash probes — the inequality never leaves a hash-join's
residual filter. Skewed buckets (a hot time window) are AQE's skew-join
problem, same as any hot key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
    how: str = "inner",
) -> DataFrame:
    """Equi-bucketized range join. ``point_col``/``start_col``/``end_col``
    must be numeric (epoch seconds/days — cast timestamps first);
    ``bucket_width`` in the same unit. Column sets of the two inputs
    must be disjoint (alias beforehand)."""
    if how != "inner":
        raise ValueError("only inner range joins are supported")
    p = points.withColumn(
        "_rb", F.floor(F.col(point_col) / F.lit(bucket_width)).cast("long")
    )
    i = intervals.withColumn(
        "_rbs",
        F.sequence(
            F.floor(F.col(start_col) / F.lit(bucket_width)).cast("long"),
            F.floor(F.col(end_col) / F.lit(bucket_width)).cast("long"),
        ),
    ).withColumn("_rb", F.explode("_rbs")).drop("_rbs")
    joined = p.join(i, "_rb").filter(
        F.col(point_col).between(F.col(start_col), F.col(end_col))
    )
    return joined.drop("_rb")
