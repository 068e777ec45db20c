"""Incremental MinHash index (operators/dedup.MinHashIndex): batch-wise
near-dup admission against a persisted store must follow the documented
single-pass rule exactly, verified against a pure-Python oracle that
computes exact character-shingle Jaccard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_learning_spark.operators.dedup import MinHashIndex

K = 5
THRESH = 0.7


def _norm(t: str) -> str:
    # mirror operators.dedup.normalize: lowercase, collapse whitespace
    return " ".join(t.lower().split())


def _shingles(t: str) -> set:
    t = _norm(t)
    if len(t) <= K:
        return {t[:K]} if t else set()
    return {t[i : i + K] for i in range(len(t) - K + 1)}


def _jac(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    if not sa and not sb:
        return 1.0
    return len(sa & sb) / len(sa | sb)


def _oracle(batches: list[list[tuple[int, str]]]) -> set:
    """The documented admission rule: within a batch, drop any doc that
    jaccard-pairs with a lower-id batch-mate (regardless of that mate's
    own fate); across batches, drop iff it pairs with an ADMITTED doc
    from an earlier batch."""
    admitted: list[tuple[int, str]] = []
    for batch in batches:
        kept = []
        for i, (did, text) in enumerate(batch):
            if any(
                _jac(text, t) >= THRESH for pid, t in batch[:i] if pid < did
            ):
                continue
            if any(_jac(text, t) >= THRESH for _, t in admitted):
                continue
            kept.append((did, text))
        admitted.extend(kept)
    return {d for d, _ in admitted}


def _mk_docs():
    base = [
        "the quick brown fox jumps over the lazy dog and runs far away today",
        "completely different content about distributed query engines and columnar storage",
        "a third document describing streaming ingestion with watermarks and state stores",
        "yet another unique piece mentioning tokenizers vocabulary and byte pair encoding",
        "fifth standalone text on partition pruning bloom filters and sort keys",
    ]
    docs = []
    did = 0
    for b in base:
        docs.append((did, b))
        did += 1
    # near-dups of base docs (small edits)
    docs.append((did, base[0].replace("lazy", "sleepy")))  # ~0.8 vs 0
    did += 1
    docs.append((did, base[1] + " extra"))  # high vs 1
    did += 1
    docs.append((did, base[2].replace("third", "3rd")))  # high vs 2
    did += 1
    return docs


@pytest.fixture(scope="module")
def split_batches():
    docs = _mk_docs()
    # batch 1: docs 0,1,5 (5 dups 0); batch 2: 2,6 (6 dups 1 — admitted
    # in batch 1); batch 3: 3,4,7 (7 dups 2 — admitted in batch 2)
    b1 = [docs[0], docs[1], docs[5]]
    b2 = [docs[2], docs[6]]
    b3 = [docs[3], docs[4], docs[7]]
    return [b1, b2, b3]


def test_incremental_admission_matches_oracle(spark, tmp_path, split_batches):
    idx = MinHashIndex(str(tmp_path / "mh"), threshold=THRESH, shingle_k=K)
    frames = [
        spark.createDataFrame(b, "doc_id long, text string")
        for b in split_batches
    ]
    got = set()
    a0 = idx.build(frames[0])
    got |= {r.doc_id for r in a0.collect()}
    for f in frames[1:]:
        got |= {r.doc_id for r in idx.append(f).collect()}
    assert got == _oracle(split_batches)
    # the dups specifically must be gone, originals kept
    assert {0, 1, 2, 3, 4} <= got
    assert not ({5, 6, 7} & got)


def test_admitted_set_is_pairwise_below_threshold(spark, tmp_path, split_batches):
    idx = MinHashIndex(str(tmp_path / "mh2"), threshold=THRESH, shingle_k=K)
    frames = [
        spark.createDataFrame(b, "doc_id long, text string")
        for b in split_batches
    ]
    admitted = [tuple(r) for r in idx.build(frames[0]).collect()]
    for f in frames[1:]:
        admitted += [tuple(r) for r in idx.append(f).collect()]
    for i, (ia, ta) in enumerate(admitted):
        for ib, tb in admitted[i + 1 :]:
            assert _jac(ta, tb) < THRESH, (ia, ib)


def test_store_grows_only_by_admitted(spark, tmp_path, split_batches):
    idx = MinHashIndex(str(tmp_path / "mh3"), threshold=THRESH, shingle_k=K)
    frames = [
        spark.createDataFrame(b, "doc_id long, text string")
        for b in split_batches
    ]
    n = idx.build(frames[0]).count()
    for f in frames[1:]:
        n += idx.append(f).count()
    sigs = spark.read.parquet(str(tmp_path / "mh3" / "sigs"))
    sh = spark.read.parquet(str(tmp_path / "mh3" / "shingles"))
    assert sigs.count() == n == sh.count()
    # bucket table: bands rows per admitted doc, partitioned by band
    bk = spark.read.parquet(str(tmp_path / "mh3" / "buckets"))
    assert bk.count() == n * idx.bands
    assert [f.name for f in bk.schema.fields] == ["bucket", "id", "band"]


def test_probe_join_is_keyed_not_corpus_scan(spark, tmp_path, split_batches):
    """The probe must join stored buckets on (band, bucket) — an equi
    join, never a cross/nested-loop against the store."""
    idx = MinHashIndex(str(tmp_path / "mh4"), threshold=THRESH, shingle_k=K)
    frames = [
        spark.createDataFrame(b, "doc_id long, text string")
        for b in split_batches
    ]
    idx.build(frames[0])
    store = spark.read.parquet(str(tmp_path / "mh4" / "buckets"))
    sigs_new = idx._sigs(frames[1], "text", "doc_id")
    probe = (
        idx._bucket_rows(sigs_new)
        .withColumnRenamed("id", "new_id")
        .join(store.withColumnRenamed("id", "old_id"), ["band", "bucket"])
    )
    p = probe._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_neardup_ingest_stream_equals_batch_appends(spark, tmp_path, split_batches):
    """streaming/dedup.neardup_ingest: a file stream processed one
    landed file per micro-batch must admit exactly what sequential
    MinHashIndex.append calls admit (micro-batch = insert batch)."""
    import time

    from clickhouse_learning_spark.streaming.dedup import neardup_ingest
    from clickhouse_learning_spark.streaming.ingest import drain, parquet_stream

    # sequential-batch reference on its own index
    ref_idx = MinHashIndex(str(tmp_path / "ref"), threshold=THRESH, shingle_k=K)
    frames = [
        spark.createDataFrame(b, "doc_id long, text string")
        for b in split_batches
    ]
    expected = {r.doc_id for r in ref_idx.build(frames[0]).collect()}
    for f in frames[1:]:
        expected |= {r.doc_id for r in ref_idx.append(f).collect()}

    # streaming: batch 1 builds the store, batches 2..3 arrive as files
    idx = MinHashIndex(str(tmp_path / "live"), threshold=THRESH, shingle_k=K)
    admitted = {r.doc_id for r in idx.build(frames[0]).collect()}
    land = str(tmp_path / "land")
    for f in frames[1:]:
        f.coalesce(1).write.mode("append").parquet(land)
        time.sleep(0.2)  # ordered mtimes → ordered micro-batches
    stream = parquet_stream(
        spark, land, frames[0].schema, max_files_per_trigger=1
    )
    q = neardup_ingest(stream, idx, str(tmp_path / "sink"), str(tmp_path / "ck"))
    drain(q)
    admitted |= {
        r.doc_id for r in spark.read.parquet(str(tmp_path / "sink")).collect()
    }
    assert admitted == expected


class Crash(Exception):
    pass


def _crash(plan):
    raise Crash


def _crashed_commit(monkeypatch, publish, *args):
    """Run commit_batch with the epoch publish crashing in ``publish``."""
    from clickhouse_learning_spark.streaming import epochs
    from clickhouse_learning_spark.streaming.dedup import commit_batch

    with monkeypatch.context() as m:
        m.setattr(epochs, "_publish", publish)
        with pytest.raises(Crash):
            commit_batch(*args)


def test_commit_batch_replay_windows(spark, tmp_path, split_batches, monkeypatch):
    """ADVICE r3 crash windows of the neardup ingest protocol:
    (a) admit() is pure — no store mutation;
    (b) replay after the sink epoch dir committed but before the store
        append must NOT lose docs to self-matching — it publishes the
        admitted set's staged store rows;
    (c) replay after full commit (marker present) is a no-op."""
    import os
    import pathlib

    from clickhouse_learning_spark.streaming.dedup import commit_batch

    idx = MinHashIndex(str(tmp_path / "mh5"), threshold=THRESH, shingle_k=K)
    frames = [
        spark.createDataFrame(b, "doc_id long, text string")
        for b in split_batches
    ]
    idx.build(frames[0])
    sink = str(tmp_path / "sink5")
    ck = str(tmp_path / "ck5")
    sigs_path = str(tmp_path / "mh5" / "sigs")
    n0 = spark.read.parquet(sigs_path).count()

    # (a) admission alone leaves the store untouched
    admitted1 = idx.admit(frames[1])
    ids1 = {r.doc_id for r in admitted1.collect()}
    assert spark.read.parquet(sigs_path).count() == n0

    # (b) crash between sink write and store append, then replay: the
    # publish moved the sink's files, the store never saw the batch
    def publish_sink_only(plan):
        for src, dst in plan["files"]:
            if dst.startswith(sink + os.sep):
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(src, dst)
        raise Crash

    _crashed_commit(monkeypatch, publish_sink_only, idx, frames[1], 1, sink, ck)
    assert spark.read.parquet(sigs_path).count() == n0
    commit_batch(idx, frames[1], 1, sink, ck)
    got = {r.doc_id for r in spark.read.parquet(sink + "/epoch=1").collect()}
    assert got == ids1  # nothing lost to self-match
    assert spark.read.parquet(sigs_path).count() == n0 + len(ids1)
    assert (pathlib.Path(ck) / "epochs" / "1").exists()

    # (c) replay after full commit: store row counts stay put
    commit_batch(idx, frames[1], 1, sink, ck)
    assert spark.read.parquet(sigs_path).count() == n0 + len(ids1)


def test_commit_batch_duplicate_store_rows_are_harmless(
    spark, tmp_path, split_batches, monkeypatch
):
    """Duplicate index rows for the same ids, then a replay: future
    admission decisions must be unaffected."""
    from clickhouse_learning_spark.streaming.dedup import commit_batch

    idx = MinHashIndex(str(tmp_path / "mh6"), threshold=THRESH, shingle_k=K)
    frames = [
        spark.createDataFrame(b, "doc_id long, text string")
        for b in split_batches
    ]
    idx.build(frames[0])
    sink = str(tmp_path / "sink6")
    ck = str(tmp_path / "ck6")

    # epoch 1 staged with its manifest when the crash hit, while the
    # store already holds the same docs' rows (appended outside the
    # epoch protocol): the roll-forward publishes them a second time —
    # the worst duplicate-producing replay
    _crashed_commit(monkeypatch, _crash, idx, frames[1], 1, sink, ck)
    idx.persist_admitted(*idx.admit_with_sigs(frames[1]))
    commit_batch(idx, frames[1], 1, sink, ck)  # replay: re-appends rows

    # duplicates exist now…
    sigs = spark.read.parquet(str(tmp_path / "mh6" / "sigs"))
    assert sigs.count() > sigs.select("id").distinct().count()
    # …but the next batch's admission still matches the oracle rule
    admitted_all = {r.doc_id for r in idx.admit(frames[2]).collect()}
    expect = _oracle(split_batches) & {d for d, _ in split_batches[2]}
    assert admitted_all == expect


def test_commit_batch_empty_batch_writes_nothing(spark, tmp_path, split_batches):
    """The foreachBatch body runs whole on an empty epoch: no error, no
    sink file, no store rows, no staging dir left in the store."""
    import os

    from clickhouse_learning_spark.streaming.dedup import commit_batch

    idx = MinHashIndex(str(tmp_path / "mh7"), threshold=THRESH, shingle_k=K)
    idx.build(spark.createDataFrame(split_batches[0], "doc_id long, text string"))
    store = sorted(os.listdir(idx.path))
    n0 = spark.read.parquet(idx.path + "/sigs").count()
    sink = str(tmp_path / "sink7")
    commit_batch(idx, spark.createDataFrame([], "doc_id long, text string"),
                 0, sink, str(tmp_path / "ck7"))
    assert not os.path.exists(sink) or os.listdir(sink) == []
    assert sorted(os.listdir(idx.path)) == store
    assert spark.read.parquet(idx.path + "/sigs").count() == n0
