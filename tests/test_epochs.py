"""streaming/epochs.commit_epoch: a crash at each step of an epoch
commit, then a replay on the same checkpoint, publishes every staged
file exactly once and leaves no staging dir behind."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from clickhouse_learning_spark.streaming import epochs as E
from clickhouse_learning_spark.tables import Table, data_files

EPOCH = 3


class Crash(Exception):
    pass


def _data(root):
    return set(data_files(root))


def _stages(*roots):
    return [n for r in roots if os.path.isdir(r) for n in os.listdir(r)
            if n.startswith("_stage-")]


class Sink:
    """A merged Table root (day= files) and a keyed root (epoch=N)."""

    def __init__(self, spark, root):
        self.spark = spark
        self.table = Table(str(root / "table"), ("day",))
        self.keyed = str(root / "keyed")
        self.ckpt = str(root / "ckpt")
        self.calls = 0
        self.crash_after_write = False

    def write(self, batch, stage):
        self.calls += 1
        stage.append(self.table, batch)
        stage.written(batch.filter("id % 2 = 0")).coalesce(2).write.parquet(
            stage.dir(self.keyed))
        if self.crash_after_write:
            raise Crash

    def commit(self, batch, epoch=EPOCH):
        return E.commit_epoch(self.ckpt, epoch, batch, self.write,
                              merged=[self.table.path], keyed=[self.keyed])

    def ids(self):
        t = sorted(r.id for r in self.table.read(self.spark).collect())
        k = sorted(r.id for r in self.spark.read.parquet(
            os.path.join(self.keyed, f"epoch={EPOCH}")).collect())
        return t, k


def _batch(spark, n=40):
    return spark.range(n).select((F.col("id") % 4).alias("day"), "id")


def _crash(plan):
    raise Crash


def _half(plan):
    files = plan["files"]
    for src, dst in files[: len(files) // 2]:
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.replace(src, dst)
    raise Crash


def _publish_then_crash(plan):
    PUBLISH(plan)
    raise Crash


PUBLISH = E._publish
CRASHES = {
    # window: stand-in for the publish step (None: the sink itself
    # crashes once its files are staged), does the replay recompute?
    "staged_no_manifest": (None, True),
    "after_manifest": (_crash, False),
    "mid_publish": (_half, False),
    "published_no_marker": (_publish_then_crash, False),
}


@pytest.mark.parametrize("window", list(CRASHES))
def test_crash_window_then_replay_publishes_once(spark, tmp_path, monkeypatch, window):
    publish, recompute = CRASHES[window]
    sink = Sink(spark, tmp_path)
    # a keyed epoch dir holds exactly the epoch's files once published
    foreign = os.path.join(sink.keyed, f"epoch={EPOCH}", "part-foreign.parquet")
    os.makedirs(os.path.dirname(foreign))
    spark.range(5).write.parquet(foreign)
    batch = _batch(spark)

    sink.crash_after_write = publish is None
    with monkeypatch.context() as m:
        if publish is not None:
            m.setattr(E, "_publish", publish)
        with pytest.raises(Crash):
            sink.commit(batch)
    sink.crash_after_write = False

    record = sink.commit(batch)

    assert sink.calls == (2 if recompute else 1)
    published = _data(sink.table.path) | _data(sink.keyed)
    assert sink.ids() == (list(range(40)), list(range(0, 40, 2)))
    assert not os.path.exists(foreign)
    assert _stages(sink.table.path, sink.keyed) == []
    assert record == {"rows_in": 40, "rows_written": 60}
    with open(os.path.join(sink.ckpt, "epochs", str(EPOCH))) as f:
        ledger = json.load(f)
    assert ledger["counts"] == record
    assert {dst for _, dst in ledger["files"]} == published
    assert not os.path.exists(os.path.join(sink.ckpt, "epochs", f"{EPOCH}.manifest"))
