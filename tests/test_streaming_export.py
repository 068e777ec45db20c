"""Stream ≡ batch laws for the per-micro-batch format export
(streaming/export.py — VERDICT r7 item 6: the last batch-only corner
of the Arrow/Avro export family)."""

from __future__ import annotations

import os

import pytest

from clickhouse_learning_spark.streaming import export as EX
from tests.conftest import SF_SMOKE, drop_last_commit


def _key(t):
    return tuple((x is None, str(x)) for x in t)


@pytest.fixture(scope="module")
def landed(spark, tmp_path_factory):
    from clickhouse_learning_spark.schemas import load_table

    root = tmp_path_factory.mktemp("stream_export")
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    landing = str(root / "landing")
    ev.repartition(5).write.mode("overwrite").parquet(landing)
    return str(root), landing, ev


@pytest.mark.parametrize("fmt", ["arrow", "avro"])
def test_stream_equals_batch(spark, landed, fmt):
    """The multi-epoch streamed export and a one-shot batch export of
    the same rows must read back row-identical."""
    from clickhouse_learning_spark.sources import arrow_ipc as AR
    from clickhouse_learning_spark.sources import avro as AV

    root, landing, ev = landed
    streamed = EX.stream_export(
        spark, landing, ev.schema, f"{root}/out_{fmt}",
        fmt=fmt, checkpoint=f"{root}/ckpt_{fmt}",
    )
    # multiple epochs actually happened (one per landed file)
    epochs = [d for d in os.listdir(f"{root}/out_{fmt}")
              if d.startswith("epoch=")]
    assert len(epochs) >= 2
    bdir = f"{root}/batch_{fmt}"
    if fmt == "arrow":
        AR.write_arrow(ev, bdir)
        batch = AR.read_arrow(spark, bdir)
    else:
        AV.write_avro(ev, bdir)
        batch = AV.read_avro(spark, bdir)
    srows = sorted((tuple(r) for r in streamed.collect()), key=_key)
    brows = sorted((tuple(r) for r in batch.collect()), key=_key)
    assert len(srows) == ev.count() > 0
    assert srows == brows


def _files(out):
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs)


def test_retried_epoch_replaces(spark, landed):
    """Exactly-once law. A restart that replays the last epoch (its
    commit-log entry lost in a crash) leaves the export untouched: the
    epoch already committed, so not one file is rewritten. Re-running
    the export into the SAME out_dir with a FRESH checkpoint re-fires
    every epoch against existing epoch directories (uuid part names
    would double-count under append): each epoch directory ends up
    holding only the new attempt's files and the readback is
    unchanged."""
    from clickhouse_learning_spark.sources import arrow_ipc as AR

    root, landing, ev = landed
    out = f"{root}/out_retry"
    n = EX.stream_export(
        spark, landing, ev.schema, out,
        fmt="arrow", checkpoint=f"{root}/ckpt_retry",
    ).count()
    files_before = _files(out)
    drop_last_commit(f"{root}/ckpt_retry")
    replayed = EX.stream_export(
        spark, landing, ev.schema, out,
        fmt="arrow", checkpoint=f"{root}/ckpt_retry",
    )
    assert replayed.count() == n
    assert _files(out) == files_before
    again = EX.stream_export(
        spark, landing, ev.schema, out,
        fmt="arrow", checkpoint=f"{root}/ckpt_retry2",
    )
    files_after = _files(out)
    assert again.count() == n
    # same number of part files, but every uuid part name was replaced
    assert len(files_after) == len(files_before)
    assert set(files_after).isdisjoint(files_before)
    assert AR.read_arrow(spark, os.path.join(out, "epoch=*")).count() == n


@pytest.mark.parametrize("fmt", ["arrow", "avro"])
def test_empty_batch_writes_nothing(spark, landed, tmp_path, fmt):
    """The foreachBatch body runs whole on an empty epoch: no error, no
    file."""
    root, landing, ev = landed
    out = str(tmp_path / "out")
    EX.export_batch(spark.createDataFrame([], ev.schema), 0, out_dir=out,
                    fmt=fmt, checkpoint=str(tmp_path / "ck"))
    assert not os.path.exists(out) or _files(out) == []


def test_unknown_format_rejected(spark, landed):
    root, landing, ev = landed
    with pytest.raises(ValueError, match="fmt must be one of"):
        EX.stream_export(
            spark, landing, ev.schema, f"{root}/out_bad",
            fmt="csv", checkpoint=f"{root}/ckpt_bad",
        )
