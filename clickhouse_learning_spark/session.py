"""SparkSession factory with scale-aware defaults.

Local mode is a correctness harness only; every knob here is chosen so
the same code runs unchanged on a 1000-executor cluster:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  dynamic broadcast) — replaces the reference's manual cross-shard
  rebalancer (/root/reference/scripts/python/data_rebalance.py) with
  engine-owned physical placement.
- shuffle partitions sized to cores locally; on a real cluster this is
  a deploy-time config (or left to AQE's coalescing).
- UTC session timezone so results are comparable with the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for the Pandas-UDF slow path.
- PySpark's per-Column call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  every ``Column`` method and ``F.*`` call walks the Python stack and
  makes about four extra py4j round trips to record where it was called
  from; building an expression such as
  ``(F.col(a).cast("long") == F.lit(i)).alias("z")`` is about 3.6×
  cheaper without it. The cost: a DataFrame error loses its Python
  call site, i.e. its query context no longer names the Python line
  that built the failing expression; the error class and message stay.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def sf_dir() -> str:
    """Benchmark/test data directory (driver contract: $SPARK_GRAFT_SF_DIR)."""
    return os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)


def get_spark(
    app_name: str = "clickhouse_learning_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) else all
    local cores.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8 if cpus == "*" else int(cpus)
        shuffle_partitions = max(int(n), 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the driver testdata stores TIMESTAMP(NANOS) which Spark's parquet
        # reader rejects; read as long and convert in schemas.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # a static conf: it holds for sessions started here, not for one
        # that getOrCreate finds already running
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
