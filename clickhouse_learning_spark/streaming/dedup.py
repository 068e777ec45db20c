"""Streaming deduplication (training-data ingest path).

The batch dedup family (operators/dedup.py) has a streaming
counterpart for the ingest boundary: drop repeated documents as they
arrive, before they ever land in the corpus. Two shapes:

- :func:`dedup_stream` — watermark-bounded exact dedup via Spark's
  ``dropDuplicatesWithinWatermark``: state for a key is dropped once
  the watermark passes it, so state size is bounded by (arrival rate ×
  watermark horizon), not by corpus size. This is the 100 TB-safe
  default: a feed that re-sends a document hours later than the
  horizon admits a duplicate, which the nightly batch
  ``exact_dedup`` pass then removes — the two layers are designed to
  compose.
- :func:`dedup_stream_exact` — unbounded ``dropDuplicates`` keyed by
  content fingerprint. Exact forever, but the state store grows with
  distinct-key count; only for bounded key domains (e.g. per-day
  replays), and says so.

Content keying uses ``xxhash64`` of the text — the same 64-bit
fingerprint family the batch path uses, so streaming-admitted and
batch-deduped corpora agree on identity.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickhouse_learning_spark.streaming.epochs import commit_epoch


def with_fingerprint(
    df: DataFrame, text_col: str = "text", out_col: str = "fp"
) -> DataFrame:
    """64-bit content fingerprint column (batch- and stream-safe)."""
    return df.withColumn(out_col, F.xxhash64(F.col(text_col)))


def dedup_stream(
    stream: DataFrame,
    keys: Sequence[str] = ("fp",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermark-bounded streaming dedup.

    First occurrence of each key within the watermark horizon passes;
    later occurrences are dropped. State per key is evicted once the
    event-time watermark moves past it, so executor state stays
    O(rate × horizon) — safe at any corpus size.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def dedup_stream_exact(stream: DataFrame, keys: Sequence[str] = ("fp",)) -> DataFrame:
    """Unbounded streaming dedup (state grows with distinct keys —
    bounded key domains only; prefer :func:`dedup_stream` + a batch
    ``exact_dedup`` sweep at scale)."""
    return stream.dropDuplicates(list(keys))


def commit_batch(
    index,
    batch: DataFrame,
    epoch: int,
    sink_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One epoch of :func:`neardup_ingest` (its ``foreachBatch`` body,
    module-level so the crash windows are testable): admission against
    the store, then the admitted docs (``sink_path/epoch=<N>``) and
    their index rows (the store) commit together through
    :func:`streaming.epochs.commit_epoch` — a replay never re-runs
    admission against the epoch's own store rows."""
    import copy

    def write(batch: DataFrame, stage) -> None:
        admitted, sigs = index.admit_with_sigs(batch, text_col=text_col, id_col=id_col)
        stage.written(admitted).write.parquet(stage.dir(sink_path))
        staged = copy.copy(index)
        staged.path = stage.dir(index.path)
        staged.persist_admitted(admitted, sigs, text_col=text_col, id_col=id_col)

    commit_epoch(checkpoint, epoch, batch, write,
                 merged=[index.path], keyed=[sink_path])


def neardup_ingest(
    stream: DataFrame,
    index,
    sink_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    trigger: dict | None = None,
):
    """Streaming NEAR-dup admission: each micro-batch runs the
    ``operators.dedup.MinHashIndex`` admission (keyed probe against the
    persisted store + single-pass within-batch rule) and the admitted
    docs land in ``sink_path``. The index store IS the streaming state —
    durable, shared with batch jobs, and unbounded-corpus-correct
    (unlike watermark-bounded exact state, the store remembers every
    admitted doc; its size is O(admitted), the same asymptotics as the
    corpus itself).

    Micro-batch = insert batch (the reference's T1 trigger semantics):
    admission order follows micro-batch arrival order. Each epoch
    commits through :func:`commit_batch`. Reads of the corpus see an
    ``epoch`` partition column (= admitting micro-batch id — ingestion
    provenance for free). Requires stable ``id_col`` values across
    replays (deterministic ids, not monotonically_increasing_id) and
    one stream per index store.
    """
    def _batch(batch: DataFrame, epoch: int) -> None:
        commit_batch(index, batch, epoch, sink_path, checkpoint, text_col, id_col)

    trigger = trigger or {"availableNow": True}
    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(**trigger)
        .start()
    )
