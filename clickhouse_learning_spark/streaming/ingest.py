"""Streaming ingest + incremental MV maintenance (SURVEY §2.9).

The reference's MVs are insert triggers: each batch is aggregated by
itself and appended as states; background merges and merge-on-read
queries do the rest (/root/reference/docs/物化视图的实战经验分享.md:298-316).
Structured Streaming's ``foreachBatch`` is the exact Spark analog — the
micro-batch IS the insert batch:

- :class:`StreamingMV` attaches a MaterializedView to any streaming
  DataFrame: per micro-batch ``groupBy(dims).agg(partial states)`` →
  append to the state table. Each epoch commits through
  :func:`streaming.epochs.commit_epoch`, so a replayed micro-batch adds
  its states exactly once (the reference gets this from ClickHouse's
  insert dedup).
- No watermark is needed for correctness (T3): late rows land in their
  ``day`` partition as new state rows and merge at read time — the
  state table is append-only and merge-on-read, never an in-memory
  streaming state store, so unbounded lateness costs nothing.
- Multiple streams may feed ONE wide table with disjoint metric columns
  (T7, docs/…md:822-828): each writer fills missing metrics with
  neutral states via ``MaterializedView.union_merge``.

Scale: the per-batch aggregation shuffles only the batch; the state
table is day-partitioned so compaction/TTL jobs stay per-partition.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from clickhouse_learning_spark.mv.engine import MaterializedView
from clickhouse_learning_spark.streaming.epochs import Stage, commit_epoch


@dataclass
class StreamingMV:
    """A materialized view maintained by a streaming query.

    ``enrich`` (optional, ``DataFrame -> DataFrame``) runs per
    micro-batch BEFORE aggregation — the streaming seat of the
    reference MVs' ``dictGet`` enrichment (dwm…sql:46: the MV SELECT
    joins the user dictionary on every insert block). Because it is
    re-applied per batch, a :class:`functions.dictionary.Dictionary`
    whose LIFETIME has lapsed re-reads its source INSIDE the running
    stream — new dimension rows take effect from the next micro-batch,
    exactly ClickHouse's dictionary-refresh-under-ingest behavior
    (tested in tests/test_streaming.py).

    A restart on the same ``checkpoint`` replays at most the last
    uncommitted epoch; its states land once (``commit_epoch``)."""

    mv: MaterializedView
    checkpoint: str
    enrich: object | None = None

    def _process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        def write(batch: DataFrame, stage: Stage) -> None:
            if self.enrich is not None:
                batch = self.enrich(batch)
            states = self.mv.materialize_batch(batch)
            # neutral-fill so several StreamingMVs can share one wide table
            stage.append(self.mv.storage, self.mv.union_merge(states))

        commit_epoch(self.checkpoint, epoch_id, batch, write,
                     merged=[self.mv.storage.path])

    def attach(
        self,
        stream: DataFrame,
        trigger: dict | None = None,
        query_name: str | None = None,
    ) -> StreamingQuery:
        """Start maintenance over ``stream``. ``trigger`` defaults to the
        reference generator's 5 s cadence
        (make_user_action_001.py:50-62); pass
        ``{"availableNow": True}`` to drain a bounded source and stop."""
        trigger = trigger or {"processingTime": "5 seconds"}
        return (
            stream.writeStream.outputMode("update")
            .foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint)
            .queryName(query_name or f"mv_{self.mv.name}")
            .trigger(**trigger)
            .start()
        )


def parquet_stream(
    spark: SparkSession, path: str, schema, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-based stream source (each new parquet file ≈ one insert
    batch). In production this is the Kafka topic; the micro-batch
    semantics downstream are identical."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def drain(query: StreamingQuery) -> None:
    """Process everything currently available, then stop (test helper)."""
    query.processAllAvailable()
    query.stop()
