"""Stream ≡ batch laws for the WARC ingest pipeline
(streaming/warc_ingest.py — VERDICT r6 item 6)."""

from __future__ import annotations

import pytest

from clickhouse_learning_spark.streaming import warc_ingest as WI


def _key(t):
    return tuple((x is None, str(x)) for x in t)


@pytest.fixture(scope="module")
def fixture_dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("stream_warc")
    warc_dir = str(root / "warc")
    landing = str(root / "landing")
    WI.write_fixture_waves(warc_dir, landing)
    return warc_dir, landing, str(root)


def test_stream_equals_batch(spark, fixture_dirs):
    """The streamed pipeline (8 micro-batches, stateful cross-batch
    index probe) and the one-shot batch twin must produce row-identical
    (url, text, n_passes, is_dup)."""
    warc_dir, landing, root = fixture_dirs
    streamed = sorted(
        (tuple(r) for r in WI.stream_warc_ingest(
            spark, landing, root + "/run1").collect()),
        key=_key,
    )
    batch = sorted(
        (tuple(r) for r in WI.batch_warc_ingest(
            spark, warc_dir).collect()),
        key=_key,
    )
    assert len(streamed) == 200
    assert streamed == batch


def test_stream_semantics(spark, fixture_dirs):
    """Formula-level assertions on the streamed output: every i%5==0
    doc repaired in exactly one pass, every i>=100 & i%10==7 doc
    flagged as a cross-batch duplicate, nothing else touched."""
    from pyspark.sql import functions as F

    warc_dir, landing, root = fixture_dirs
    out = WI.stream_warc_ingest(spark, landing, root + "/run2").select(
        F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long").alias("i"),
        "text", "n_passes", "is_dup",
    )
    rows = {r["i"]: r for r in out.collect()}
    assert len(rows) == 200
    for i, r in rows.items():
        e = i - 100 if (i >= 100 and i % 10 == 7) else i
        assert r["text"] == f"Stream {e}\npayload {e * 7 % 97} café {e}"
        assert r["n_passes"] == (1 if i % 5 == 0 else 0), i
        assert r["is_dup"] == (1 if (i >= 100 and i % 10 == 7) else 0), i


def test_corrupt_index_fails_batch(spark, fixture_dirs, tmp_path):
    """ADVICE r7: a corrupt fingerprint index must FAIL the ingest, not
    be silently treated as 'first batch, no index yet' (which would
    disable cross-batch dedup). Plant garbage where the index lives and
    assert the stream propagates the read error."""
    import os

    warc_dir, landing, root = fixture_dirs
    work = str(tmp_path / "run_corrupt")
    idx = os.path.join(work, "fp_index", "epoch=0")
    os.makedirs(idx)
    with open(os.path.join(idx, "part-00000.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    with pytest.raises(Exception) as ei:
        WI.stream_warc_ingest(spark, landing, work)
    assert "Path does not exist" not in str(ei.value)


def test_epoch_overwrite_idempotent(spark, fixture_dirs):
    """ADVICE r7 exactly-once law: re-running the drained stream (same
    checkpoint, no new input) leaves the sink unchanged, and so does a
    restart that replays the last epoch (its commit-log entry lost in a
    crash) — the replayed epoch must not be probed against the index
    rows it already published, which would flip its docs to is_dup."""
    import os

    from tests.conftest import drop_last_commit

    warc_dir, landing, root = fixture_dirs
    work = root + "/run_idem"

    def snapshot():
        out = WI.stream_warc_ingest(spark, landing, work)
        index = spark.read.parquet(os.path.join(work, "fp_index"))
        return sorted(map(tuple, out.collect()), key=_key), index.count()

    first = snapshot()
    assert len(first[0]) == 200
    # drained re-run: checkpoint replays nothing, sink must not grow
    assert snapshot() == first
    sink = os.path.join(work, "corpus")
    epochs = [d for d in os.listdir(sink) if d.startswith("epoch=")]
    assert len(epochs) >= 2, "expected multiple micro-batch epochs"
    drop_last_commit(os.path.join(work, "ckpt"))
    assert snapshot() == first


def test_empty_batch_writes_nothing(spark, tmp_path):
    """The foreachBatch body runs whole on an empty epoch: no error, no
    file in the corpus or the index."""
    import os

    work = str(tmp_path / "work")
    WI.warc_batch(spark.createDataFrame([], WI.CHUNK_SCHEMA), 0, work_dir=work)
    for d in ("corpus", "fp_index"):
        p = os.path.join(work, d)
        assert not os.path.exists(p) or os.listdir(p) == []
