"""Streaming offboarding: per-micro-batch Arrow IPC / Avro OCF export.

The ``stream_warc_pipeline`` pattern in REVERSE (VERDICT r7 item 6):
instead of WARC waves streaming IN, result rows stream OUT — each
micro-batch lands as one set of format-native files, the way a
ClickHouse pipeline tails a table into ``INSERT … FORMAT Arrow`` /
``FORMAT Avro`` consumers (reference deploy scripts move data between
engines with exactly these formats).

Exactly-once: each micro-batch publishes one ``out_dir/epoch=<N>``
directory through :func:`streaming.epochs.commit_epoch`.

Scale shape: the export work is map-only per micro-batch — one
format-native file per partition straight from the batch's own
partitions (``mapInArrow`` for Arrow: zero per-value Python;
``mapPartitions`` encode for Avro), no extra shuffle, no driver
staging of rows. Readback parallelism comes from the formats' own
split readers (footer index / block headers).
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from clickhouse_learning_spark.sources import arrow_ipc as AR
from clickhouse_learning_spark.sources import avro as AV
from clickhouse_learning_spark.streaming.epochs import commit_epoch

_FORMATS = ("arrow", "avro")


def export_batch(
    batch: DataFrame, epoch: int, *, out_dir: str, fmt: str, checkpoint: str
) -> None:
    """One epoch of :func:`stream_export` (its ``foreachBatch`` body)."""
    writer = AR.write_arrow if fmt == "arrow" else AV.write_avro
    commit_epoch(
        checkpoint, epoch, batch,
        lambda b, stage: writer(stage.written(b), stage.dir(out_dir)),
        keyed=[out_dir],
    )


def stream_export(
    spark: SparkSession,
    landing_dir: str,
    schema,
    out_dir: str,
    *,
    fmt: str = "arrow",
    checkpoint: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-stream ``landing_dir`` parquet → one Arrow-IPC / Avro-OCF
    file set per micro-batch under ``out_dir/epoch=<N>`` → drain →
    read the whole export back with the format's own reader.

    Returns the read-back DataFrame (schema = the streamed schema as
    the format carries it). Stream ≡ batch parity is law-tested in
    tests/test_streaming_export.py for both formats."""
    from clickhouse_learning_spark.streaming.ingest import (
        drain,
        parquet_stream,
    )

    if fmt not in _FORMATS:
        raise ValueError(f"fmt must be one of {_FORMATS}")

    q = (
        parquet_stream(spark, landing_dir, schema, max_files_per_trigger)
        .writeStream.foreachBatch(partial(
            export_batch, out_dir=out_dir, fmt=fmt, checkpoint=checkpoint))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    drain(q)
    glob = os.path.join(out_dir, "epoch=*")
    if fmt == "arrow":
        return AR.read_arrow(spark, glob)
    return AV.read_avro(spark, glob)
