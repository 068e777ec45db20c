"""Structured Streaming MV maintenance: dual-path equivalence with the
batch pipeline, idempotent restart behavior, and multi-writer fan-in."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from clickhouse_learning_spark.mv.mainpage import mainpage_mv, prepare_events
from clickhouse_learning_spark.streaming.ingest import StreamingMV, drain, parquet_stream

from .conftest import SF_SMOKE, drop_last_commit

EXACT_METRICS = ["view_cnt", "click_cnt", "value_sum", "event_cnt"]


def _rows(df, keys):
    return {
        tuple(str(r[k]) for k in keys): {m: r[m] for m in EXACT_METRICS}
        for r in df.collect()
    }


def test_stream_equals_batch(spark, tmp_path):
    """Streamed (multi-micro-batch) state table answers == single-batch
    answers == direct raw-log aggregation (insert-trigger semantics,
    docs/…md:298-301 + merge-on-read, docs/…md:934-996)."""
    ev = prepare_events(spark, SF_SMOKE).drop("insert_second")
    landing = str(tmp_path / "landing")
    ev.repartition(5).write.parquet(landing)

    mv_s = mainpage_mv(str(tmp_path / "state_stream"))
    q = StreamingMV(mv_s, str(tmp_path / "ckpt")).attach(
        parquet_stream(spark, landing, ev.schema),
        trigger={"availableNow": True},
    )
    drain(q)
    # one scan per epoch: Spark's input count is the epoch's own rows
    # (the ledger's observed rows_in), and sums to the landed rows
    epochs = [p for p in q.recentProgress if p.numInputRows]
    assert sum(p.numInputRows for p in epochs) == ev.count()
    for p in epochs:
        with open(tmp_path / "ckpt" / "epochs" / str(p.batchId)) as f:
            assert p.numInputRows == json.load(f)["counts"]["rows_in"]
    # five micro-batches → several state rows per key, merged at read
    n_state = mv_s.storage.read(spark).count()

    mv_b = mainpage_mv(str(tmp_path / "state_batch"))
    mv_b.append_batch(ev)

    keys = ["day", "segment"]
    streamed = _rows(mv_s.merge_query(spark, keys, EXACT_METRICS), keys)
    batch = _rows(mv_b.merge_query(spark, keys, EXACT_METRICS), keys)
    assert streamed == batch
    assert n_state > len(streamed)  # states really were written incrementally


def test_stream_restart_is_idempotent(spark, tmp_path):
    """Checkpointed restart over the same landing dir must not re-ingest
    already-processed files (exactly-once per file), and a restart that
    replays the last epoch (its commit-log entry lost in a crash) must
    not append its states twice."""
    ev = prepare_events(spark, SF_SMOKE).drop("insert_second")
    landing = str(tmp_path / "landing")
    ev.repartition(3).write.parquet(landing)
    mv = mainpage_mv(str(tmp_path / "state"))
    smv = StreamingMV(mv, str(tmp_path / "ckpt"))

    def total():
        return mv.merge_query(spark, ["day"], ["event_cnt"]).agg(
            F.sum("event_cnt")).collect()[0][0]

    for _ in range(2):  # second run: nothing new to process
        q = smv.attach(
            parquet_stream(spark, landing, ev.schema), trigger={"availableNow": True}
        )
        drain(q)
    assert total() == ev.count()

    drop_last_commit(smv.checkpoint)
    drain(smv.attach(
        parquet_stream(spark, landing, ev.schema), trigger={"availableNow": True}
    ))
    assert total() == ev.count()


def test_two_streams_one_wide_table(spark, tmp_path):
    """Multi-writer fan-in (T7): two streams over disjoint event types
    write disjoint metric columns of one wide state table; the merged
    query sees both (docs/…md:822-828)."""
    ev = prepare_events(spark, SF_SMOKE).drop("insert_second")
    mv = mainpage_mv(str(tmp_path / "state"))

    l1 = str(tmp_path / "l1")
    l2 = str(tmp_path / "l2")
    ev.filter("event_type = 'view'").repartition(2).write.parquet(l1)
    ev.filter("event_type = 'purchase'").repartition(2).write.parquet(l2)

    for i, landing in enumerate((l1, l2)):
        q = StreamingMV(mv, str(tmp_path / f"ckpt{i}")).attach(
            parquet_stream(spark, landing, ev.schema),
            trigger={"availableNow": True},
            query_name=f"writer{i}",
        )
        drain(q)

    got = {
        str(r["day"]): (r["view_cnt"], r["purchase_cnt"])
        for r in mv.merge_query(spark, ["day"], ["view_cnt", "purchase_cnt"]).collect()
    }
    want = {
        str(r["day"]): (r["v"], r["p"])
        for r in ev.groupBy("day")
        .agg(
            F.coalesce(F.sum(F.when(F.col("event_type") == "view", 1)), F.lit(0)).alias("v"),
            F.coalesce(F.sum(F.when(F.col("event_type") == "purchase", 1)), F.lit(0)).alias("p"),
        )
        .collect()
    }
    assert got == want


def test_two_streams_wide_table_argmax_topk(spark, tmp_path):
    """T7 wide-table fan-in carrying EVERY metric kind family: a second
    writer's missing argmax/topk columns are filled with *typed* neutral
    NULLs (MetricSpec.value_type/order_type) and merge away — the gap
    VERDICT r1 item 5 closes (reference dwm…sql:157-238)."""
    from clickhouse_learning_spark.functions.metrics import MetricSpec
    from clickhouse_learning_spark.mv.engine import MaterializedView
    from clickhouse_learning_spark.tables import Table

    ev = prepare_events(spark, SF_SMOKE).drop("insert_second")
    mv = MaterializedView(
        "wide_kinds",
        ("day",),
        (
            MetricSpec(
                "peak_view_uid",
                "argmax",
                "uid",
                cond="event_type = 'view'",
                order_by="value",
                value_type="bigint",
                order_type="double",
            ),
            MetricSpec(
                "top_ptypes",
                "topk",
                "event_type",
                cond="event_type IN ('purchase', 'signup')",
                k=2,
                value_type="string",
            ),
            MetricSpec("purchase_cnt", "sum", "CASE WHEN event_type='purchase' THEN 1 ELSE 0 END"),
        ),
        Table(str(tmp_path / "state"), ("day",)),
    )

    l1 = str(tmp_path / "l1")
    l2 = str(tmp_path / "l2")
    ev.filter("event_type IN ('view', 'click')").repartition(2).write.parquet(l1)
    ev.filter("event_type IN ('purchase', 'signup')").repartition(2).write.parquet(l2)

    # writer 1 only produces the argmax column, writer 2 the topk+sum
    # columns; union_merge fills the other side with typed neutrals
    s1 = mv.materialize_batch(spark.read.schema(ev.schema).parquet(l1)).select(
        "day", "peak_view_uid"
    )
    s2 = mv.materialize_batch(spark.read.schema(ev.schema).parquet(l2)).select(
        "day", "top_ptypes", "purchase_cnt"
    )
    mv.storage.append(mv.union_merge(s1, s2))

    got = {
        str(r["day"]): (r["peak_view_uid"], tuple(r["top_ptypes"]), r["purchase_cnt"])
        for r in mv.merge_query(spark, ["day"]).collect()
    }

    from pyspark.sql import Window

    w = Window.partitionBy("day").orderBy(
        F.desc("value"), F.desc("uid")
    )
    views = ev.filter("event_type = 'view'")
    peak = {
        str(r["day"]): r["uid"]
        for r in views.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    topk = {
        str(r["day"]): tuple(r["tv"])
        for r in ev.filter("event_type IN ('purchase','signup')")
        .groupBy("day", "event_type")
        .count()
        .groupBy("day")
        .agg(
            F.expr(
                "transform(slice(array_sort(collect_list(struct(-count AS nc, event_type AS v))), 1, 2), s -> s.v)"
            ).alias("tv")
        )
        .collect()
    }
    pur = {
        str(r["day"]): r["c"]
        for r in ev.groupBy("day")
        .agg(F.coalesce(F.sum(F.when(F.col("event_type") == "purchase", 1)), F.lit(0)).alias("c"))
        .collect()
    }
    want = {d: (peak.get(d), topk.get(d, ()), pur[d]) for d in pur}
    assert got == want


def test_stream_precount_state_kinds(spark, tmp_path):
    """topk + quantile states flow through the relational pre-count
    write path inside foreachBatch: streamed micro-batch states merge to
    the same finalized answers as one batch (and as the raw log)."""
    from clickhouse_learning_spark.functions.metrics import MetricSpec
    from clickhouse_learning_spark.mv.engine import MaterializedView
    from clickhouse_learning_spark.schemas import load_table
    from clickhouse_learning_spark.tables import Table

    ev = load_table(spark, SF_SMOKE, "events").select(
        F.to_date("ts").alias("day"),
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    landing = str(tmp_path / "landing")
    ev.repartition(4).write.parquet(landing)

    metrics = (
        MetricSpec("top_types", "topk", "event_type", k=2),
        MetricSpec("p50_cents", "quantile", "cents", level=0.5),
        MetricSpec("cnt", "count", "1"),
    )

    def make(path):
        return MaterializedView("pk", ("day",), metrics, Table(path, ("day",)))

    mv_s = make(str(tmp_path / "ss"))
    q = StreamingMV(mv_s, str(tmp_path / "ck")).attach(
        parquet_stream(spark, landing, ev.schema), trigger={"availableNow": True}
    )
    drain(q)
    mv_b = make(str(tmp_path / "sb"))
    mv_b.append_batch(ev)

    def res(mv):
        return {
            str(r["day"]): (list(r["top_types"]), r["p50_cents"], r["cnt"])
            for r in mv.merge_query(spark, ["day"]).collect()
        }

    streamed, batch = res(mv_s), res(mv_b)
    assert streamed == batch
    # and the quantile matches the raw log exactly (discrete median)
    import pyspark.sql.functions as SF

    direct = {
        str(r["day"]): r["m"]
        for r in ev.groupBy("day")
        .agg(SF.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)").alias("m"))
        .collect()
    }
    for d, (_, p50, _) in streamed.items():
        assert p50 == direct[d]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup at the ingest boundary: duplicate document
    fingerprints across micro-batches are admitted once; the admitted
    set equals the batch exact-dedup answer on the same files."""
    from clickhouse_learning_spark.streaming.dedup import (
        dedup_stream,
        with_fingerprint,
    )

    base = spark.createDataFrame(
        [
            (1, "alpha text", "2024-01-01 10:00:00"),
            (2, "beta text", "2024-01-01 10:00:05"),
            (3, "alpha text", "2024-01-01 10:00:10"),  # dup of 1 (content)
        ],
        "doc_id long, text string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    more = spark.createDataFrame(
        [
            (4, "beta text", "2024-01-01 10:01:00"),  # dup of 2, later batch
            (5, "gamma text", "2024-01-01 10:01:05"),
        ],
        "doc_id long, text string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    landing = str(tmp_path / "docs")
    base.coalesce(1).write.mode("append").parquet(landing)
    more.coalesce(1).write.mode("append").parquet(landing)

    stream = parquet_stream(spark, landing, base.schema)
    admitted = dedup_stream(with_fingerprint(stream), keys=["fp"], watermark="1 hour")
    out = str(tmp_path / "admitted")
    q = (
        admitted.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain(q)

    got = spark.read.parquet(out)
    texts = sorted(r.text for r in got.collect())
    assert texts == ["alpha text", "beta text", "gamma text"]
    # first-arrival wins within the horizon
    assert {r.text: r.doc_id for r in got.collect()}["beta text"] == 2


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """streaming/joins.click_purchase_pairs: the streamed pair set
    (multi-micro-batch, wide watermark) must equal the batch range join
    exactly; with a TIGHT watermark and time-ordered micro-batches the
    join still produces the same pairs (state eviction only drops rows
    that can no longer match)."""
    import datetime as dt

    from clickhouse_learning_spark.schemas import load_table
    from clickhouse_learning_spark.streaming.ingest import drain, parquet_stream
    from clickhouse_learning_spark.streaming.joins import click_purchase_pairs

    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")
    )
    clicks = ev.filter("event_type = 'click'").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = ev.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    batch = {
        tuple(r)
        for r in click_purchase_pairs(purchases, clicks, within="1 hour").collect()
    }
    assert batch, "fixture should produce pairs"

    def land_time_chunks(df, path, n_files):
        # FileStreamSource admits files oldest-modification-time first
        # (latestFirst=false), so time-ordered MICRO-BATCHES require
        # time-ordered MTIMES — a single repartitionByRange write gives
        # every part-file the same write instant and the pickup order is
        # nondeterministic (this made the tight-watermark assertion
        # flaky). Land each ts-range chunk as its own append with a
        # strictly later mtime instead.
        import time

        from pyspark.sql import Window

        chunked = df.withColumn(
            "__chunk", F.ntile(n_files).over(Window.orderBy("ts"))
        )
        for i in range(1, n_files + 1):
            (
                chunked.filter(F.col("__chunk") == i)
                .drop("__chunk")
                .coalesce(1)
                .write.mode("append")
                .parquet(path)
            )
            time.sleep(0.2)

    def run_stream(order_col, wm_p, wm_c, n_files):
        c_land = str(tmp_path / f"c_{wm_p.replace(' ', '')}")
        p_land = str(tmp_path / f"p_{wm_p.replace(' ', '')}")
        out = str(tmp_path / f"out_{wm_p.replace(' ', '')}")
        land_time_chunks(clicks, c_land, n_files)
        land_time_chunks(purchases, p_land, n_files)
        pairs = click_purchase_pairs(
            parquet_stream(spark, p_land, purchases.schema, max_files_per_trigger=1),
            parquet_stream(spark, c_land, clicks.schema, max_files_per_trigger=1),
            within="1 hour",
            purchase_watermark=wm_p,
            click_watermark=wm_c,
        )
        q = (
            pairs.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", out + "_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        drain(q)
        return {tuple(r) for r in spark.read.parquet(out).collect()}

    wide = run_stream("ts", "365 days", "365 days", 3)
    assert wide == batch

    # tight watermarks, time-ordered files: inner-join pairs emit
    # eagerly, so nothing qualifying is lost
    tight = run_stream("ts", "2 hours", "3 hours", 3)
    assert tight == batch


def test_dictionary_refresh_inside_running_stream(spark, tmp_path):
    """T1 + D3 interaction (round 4, VERDICT r3 #9): a Dictionary whose
    LIFETIME has lapsed must re-read its source INSIDE a running
    StreamingMV — dimension rows landed mid-stream enrich every LATER
    micro-batch, while rows already processed keep the old view (the
    insert-trigger semantics ClickHouse dictionaries have under
    ingest)."""
    import time

    from clickhouse_learning_spark.functions.dictionary import Dictionary
    from clickhouse_learning_spark.functions.metrics import MetricSpec
    from clickhouse_learning_spark.mv.engine import MaterializedView
    from clickhouse_learning_spark.tables import Table

    dim_dir = str(tmp_path / "dim")
    landing = str(tmp_path / "land")
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "uid long, segment string"
    ).coalesce(1).write.mode("overwrite").parquet(dim_dir)
    d = Dictionary(
        lambda: spark.read.parquet(dim_dir),
        "uid",
        lifetime_s=0.0,  # always stale → re-read per access
        defaults={"segment": "unknown"},
    )
    mv = MaterializedView(
        "dictstream",
        ("segment",),
        (MetricSpec("v_sum", "sum", "v"), MetricSpec("n", "count", "1")),
        Table(str(tmp_path / "state"), ("segment",)),
    )
    smv = StreamingMV(
        mv,
        str(tmp_path / "ck"),
        enrich=lambda b: d.enrich(b, ["segment"]),
    )

    # chunk 1 while uid 3 is NOT in the dimension
    spark.createDataFrame(
        [(1, 10), (3, 5)], "uid long, v long"
    ).coalesce(1).write.mode("append").parquet(landing)
    q = smv.attach(
        parquet_stream(spark, landing, "uid long, v long"),
        trigger={"processingTime": "250 milliseconds"},
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            if mv.storage.read(spark).count() >= 2:
                break
            time.sleep(0.2)

        # dimension gains uid 3 MID-STREAM (same running query)
        spark.createDataFrame(
            [(1, "alpha"), (2, "beta"), (3, "gamma")],
            "uid long, segment string",
        ).coalesce(1).write.mode("overwrite").parquet(dim_dir)
        time.sleep(0.3)  # distinct mtime for the next landed chunk
        spark.createDataFrame(
            [(3, 7), (2, 4)], "uid long, v long"
        ).coalesce(1).write.mode("append").parquet(landing)
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            rows = mv.merge_query(spark, ["segment"], ["v_sum", "n"]).collect()
            if sum(r["n"] for r in rows) >= 4:
                break
            time.sleep(0.2)
    finally:
        q.stop()

    got = {
        r["segment"]: r["v_sum"]
        for r in mv.merge_query(spark, ["segment"], ["v_sum"]).collect()
    }
    # chunk 1: uid 3 was unknown (default); chunk 2: refreshed dict
    # resolves uid 3 → gamma, and beta accumulates across the batches
    assert got == {"alpha": 10, "unknown": 5, "gamma": 7, "beta": 4}


DEPLOY_SCRIPT = """
CREATE TABLE test.events (
    day Date, uid UInt64, amount UInt64
) ENGINE = MergeTree() PARTITION BY day ORDER BY uid;

CREATE TABLE test.daily (
    day Date, n UInt64, total UInt64
) ENGINE = SummingMergeTree() PARTITION BY day ORDER BY day;

CREATE MATERIALIZED VIEW test.daily_mv TO test.daily AS
SELECT day, count() AS n, sum(amount) AS total FROM test.events GROUP BY day;
"""
DEPLOY_SCHEMA = "day date, uid long, amount long"


def _deploy_totals(spark, dep):
    raw = dep.tables["test.events"].read(spark)
    return (
        raw.count(),
        {(str(r.day), r.n, r.total)
         for r in dep.final_read(spark, "test.daily").collect()},
    )


def test_attach_stream_replay_appends_once(spark, tmp_path):
    """Deployment.attach_stream (DDL-declared source + insert-trigger
    MV): a restart that replays the last epoch leaves the source table
    and the MV target unchanged."""
    import datetime as dt
    import time

    from clickhouse_learning_spark import ddl

    dep = ddl.deploy(spark, DEPLOY_SCRIPT, str(tmp_path / "tables"))
    landing = str(tmp_path / "landing")
    rows = [(dt.date(2024, 1, 1 + i % 3), i, 10 * i) for i in range(30)]
    for k in range(3):
        spark.createDataFrame(rows[k::3], DEPLOY_SCHEMA).coalesce(1).write.mode(
            "append").parquet(landing)
        time.sleep(0.2)  # ordered mtimes → one file per epoch
    ckpt = str(tmp_path / "ckpt")

    def run():
        drain(dep.attach_stream(
            spark, "test.events", parquet_stream(spark, landing, DEPLOY_SCHEMA),
            ckpt, trigger={"availableNow": True},
        ))

    run()
    want = (30, {(str(dt.date(2024, 1, 1 + d)), 10,
                  sum(10 * i for i in range(d, 30, 3))) for d in range(3)})
    assert _deploy_totals(spark, dep) == want
    assert drop_last_commit(ckpt) == 2
    run()
    assert _deploy_totals(spark, dep) == want


def test_empty_batch_bodies_write_nothing(spark, tmp_path):
    """The foreachBatch bodies run no emptiness probe: an empty epoch
    goes through the full body, raises nothing and publishes no file."""
    from clickhouse_learning_spark import ddl

    ev = prepare_events(spark, SF_SMOKE).drop("insert_second")
    mv = mainpage_mv(str(tmp_path / "state"))
    StreamingMV(mv, str(tmp_path / "ck_mv"))._process_batch(ev.limit(0), 0)
    dep = ddl.deploy(spark, DEPLOY_SCRIPT, str(tmp_path / "tables"))
    dep._stream_batch(spark, "test.events", str(tmp_path / "ck_dep"),
                      spark.createDataFrame([], DEPLOY_SCHEMA), 0)
    for root in (mv.storage.path, *(t.path for t in dep.tables.values())):
        assert not os.path.exists(root) or os.listdir(root) == [], root
    for ck in ("ck_mv", "ck_dep"):
        with open(tmp_path / ck / "epochs" / "0") as f:
            assert json.load(f)["counts"] == {"rows_in": 0, "rows_written": 0}
