"""DDL translation (ddl.py): the reference's actual .sql scripts parsed
into engine objects and run end-to-end. A test that reads one of those
scripts skips if the read-only reference checkout is absent; the rest
use inline DDL and always run."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from clickhouse_learning_spark import ddl
from tests.conftest import SF_SMOKE

REF_SQL = "/root/reference/scripts/sql"



def _read(name: str) -> str:
    if not os.path.isdir(REF_SQL):
        pytest.skip("reference checkout not available")
    with open(os.path.join(REF_SQL, name)) as f:
        return f.read()


def test_parse_ods_table_shape():
    specs = ddl.parse_script(_read("ods.action_001_dis.sql"))
    local = specs[0]
    assert isinstance(local, ddl.TableSpec)
    assert local.qualified == "ods.action_001_local"
    assert [c.name for c in local.columns][:4] == ["day", "hour", "second", "insert_second"]
    assert local.partition_by == ("day",)
    assert local.order_by == ("day", "hour", "platform", "item_id")
    assert local.primary_key == ("day", "hour")
    assert local.ttl == dt.timedelta(days=10, hours=4)
    # default expressions arrive pre-translated
    byname = {c.name: c for c in local.columns}
    assert byname["day"].default == "to_date(second)"
    assert byname["hour"].default == "date_trunc('HOUR', second)"
    assert byname["insert_second"].default == "current_timestamp()"
    # UInt32 metrics map to LongType (SURVEY §1.2)
    assert byname["show_cnt"].spark_type.simpleString() == "bigint"
    # the Distributed proxy is recognized and refuses instantiation
    dist = specs[1]
    assert dist.distributed_over == "ods.action_001_local"
    with pytest.raises(ValueError, match="Distributed proxy"):
        dist.table("/tmp/x")


def test_parse_rejects_expression_keys():
    """Expression ORDER BY / PRIMARY KEY keys must fail loudly, not
    silently truncate to the function name. (Expression PARTITION BY is
    supported — test_expression_partition_key.)"""
    base = "create table t (day Date, x UInt32) engine = MergeTree"
    with pytest.raises(ValueError, match="expression ORDER BY"):
        ddl.parse_create_table(base + " partition by day order by (toYYYYMM(day), x)")
    # plain tuples still parse
    spec = ddl.parse_create_table(base + " partition by day order by (day, x)")
    assert spec.partition_by == ("day",) and spec.order_by == ("day", "x")


def test_parse_wide_mv_script():
    specs = ddl.parse_script(
        _read("dwm.mainpage_stat_mv_dis.sql"),
        dictionaries={"dim.dict_user_dim": ("ddl_user_dim", "uid")},
    )
    tables = [s for s in specs if isinstance(s, ddl.TableSpec)]
    mvs = [s for s in specs if isinstance(s, ddl.MaterializedViewSpec)]
    wide = tables[0]
    assert wide.engine == "ReplicatedAggregatingMergeTree"
    assert wide.ttl == dt.timedelta(days=92, hours=5)
    byname = {c.name: c.spark_type.simpleString() for c in wide.columns}
    # aggregate-state columns land on the engine's state encodings
    assert byname["shown_uv"] == "binary"
    assert byname["shown_cnt"] == "bigint"
    assert len(mvs) >= 3
    for mv in mvs:
        assert mv.target == "dwm.mainpage_stat_mv_local"
        sql = mv.select_spark or mv.spark_sql(
            {"dim.dict_user_dim": ("ddl_user_dim", "uid")}
        )
        assert "hll_sketch_agg" in sql
        assert "uniqCombined" not in sql
        # the trailing ad-hoc demo queries were split off
        assert sql.lower().count("select") <= 2  # main + optional dict subquery


def test_ddl_table_ingest_roundtrip(spark, tmp_path):
    """ods.action_001_local DDL → Table; insert rows missing the default
    columns; defaults materialize, partitioning prunes, TTL drops."""
    spec = ddl.parse_script(_read("ods.action_001_dis.sql"))[0]
    table = spec.table(str(tmp_path))

    from clickhouse_learning_spark.schemas import load_table

    ev = load_table(spark, SF_SMOKE, "events").limit(500)
    batch = ev.select(
        F.col("ts").cast("timestamp").alias("second"),
        F.when(F.col("user_id") % 2 == 0, "android").otherwise("ios").alias("platform"),
        F.col("user_id").alias("uid"),
        (F.col("event_id") % 100).alias("item_id"),
        (F.col("event_id") % 7).alias("show_cnt"),
    )
    full = spec.apply_defaults(batch)
    assert [f.name for f in full.schema.fields] == [c.name for c in spec.columns]
    table.append(full)

    got = table.read(spark)
    row = got.filter(F.col("uid").isNotNull()).first()
    assert row["day"] == row["second"].date()
    assert row["hour"].hour == row["second"].hour and row["hour"].minute == 0
    assert row["ip"] == ""  # literal String default
    assert got.count() == 500

    # TTL from the DDL: everything is far older than 10 days
    kept = table.apply_ttl(spark, keep=spec.ttl, now=dt.date(2030, 1, 1))
    assert kept == 0


def test_ddl_full_deployment_roundtrip(spark, tmp_path):
    """The reference deployment end-to-end FROM ITS OWN DDL: wide state
    table + first writer MV parsed from dwm.mainpage_stat_mv_dis.sql,
    states appended positionally (ClickHouse MV column-list semantics),
    merge-queried in translated ClickHouse SQL, compared to a direct
    aggregation of the raw log."""
    from clickhouse_learning_spark.functions.dialect import translate
    from clickhouse_learning_spark.workload import reference_star as R

    specs = ddl.parse_script(_read("dwm.mainpage_stat_mv_dis.sql"))
    wide = specs[0]
    mv = next(s for s in specs if isinstance(s, ddl.MaterializedViewSpec))
    assert mv.columns[:5] == ("day", "hour", "platform", "ver", "item_id")

    a1 = (
        R.build_action_001(spark, SF_SMOKE)
        .withColumn("platform", F.when(F.col("uid") % 2 == 0, "android").otherwise("ios"))
        .withColumn("ver", F.lit("1.0"))
    )
    a1.createOrReplaceTempView("ods_action_001_local")
    states = spark.sql(
        mv.select_spark.replace("ods.action_001_local", "ods_action_001_local")
    )
    # ClickHouse maps the MV SELECT onto the declared column list
    # positionally (the reference aliases `show_cnt` into `shown_cnt`)
    table = wide.table(str(tmp_path))
    table.append(states.toDF(*mv.columns))

    table.read(spark).createOrReplaceTempView("dws_mainpage_stat")
    merged = spark.sql(
        translate(
            """
            SELECT day, platform,
                   uniqCombinedMerge(shown_uv) AS shown_uv,
                   sum(shown_cnt) AS shown_cnt
            FROM dws_mainpage_stat GROUP BY day, platform
            """
        )
    )
    got = {(r["day"], r["platform"]): r for r in merged.collect()}
    direct = a1.groupBy("day", "platform").agg(
        F.count_distinct(F.when(F.col("show_cnt") > 0, F.col("uid"))).alias("uv"),
        F.sum("show_cnt").alias("cnt"),
    )
    for r in direct.collect():
        g = got[(r["day"], r["platform"])]
        assert g["shown_cnt"] == r["cnt"]
        assert abs(g["shown_uv"] - r["uv"]) <= max(3, 0.05 * r["uv"])


def test_ddl_mv_select_runs_per_batch(spark):
    """The translated MV SELECT (writer #1, pre-dictionary version at
    dwm…sql:28-57) runs over a registered batch view and produces
    mergeable states whose finalization matches a direct query."""
    from clickhouse_learning_spark.workload import reference_star as R

    specs = ddl.parse_script(
        _read("dwm.mainpage_stat_mv_dis.sql"),
        dictionaries={"dim.dict_user_dim": ("ddl_user_dim", "uid")},
    )
    mv = next(s for s in specs if isinstance(s, ddl.MaterializedViewSpec))
    sql = mv.select_spark
    assert sql is not None and "FROM user_dim" not in sql

    a1 = (
        R.build_action_001(spark, SF_SMOKE)
        .withColumn(
            "platform",
            F.when(F.col("uid") % 2 == 0, "android").otherwise("ios"),
        )
        .withColumn("ver", F.lit("1.0"))
    )
    a1.createOrReplaceTempView("ods_action_001_local")
    # point the FROM at the registered view (db dots aren't Spark idents)
    sql = sql.replace("ods.action_001_local", "ods_action_001_local")
    states = spark.sql(sql)
    states.createOrReplaceTempView("ddl_states")
    final = spark.sql(
        """
        SELECT day,
               coalesce(hll_sketch_estimate(hll_union_agg(shown_uv, true)), 0) AS uv,
               sum(show_cnt) AS cnt
        FROM ddl_states GROUP BY day
        """
    )
    got = {r["day"]: r for r in final.collect()}
    direct = a1.groupBy("day").agg(
        F.count_distinct(F.when(F.col("show_cnt") > 0, F.col("uid"))).alias("uv"),
        F.sum("show_cnt").alias("cnt"),
    )
    for r in direct.collect():
        g = got[r["day"]]
        assert g["cnt"] == r["cnt"]
        assert abs(g["uv"] - r["uv"]) <= max(3, 0.05 * r["uv"])


def test_parse_mutation_drop_partition_and_delete(spark, tmp_path):
    """ClickHouse ALTER mutations execute via the partition-pruned
    Table mutations: DROP PARTITION is a directory drop, DELETE WHERE
    translates its predicate through the dialect shim."""
    import datetime as dt

    from clickhouse_learning_spark.ddl import parse_mutation
    from clickhouse_learning_spark.tables import Table

    df = spark.range(300).select(
        F.col("id"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 3).cast("int")).alias("day"),
    )
    t = Table(str(tmp_path / "t"), ("day",))
    t.append(df)

    m1 = parse_mutation(
        "ALTER TABLE ods.action_001_dis ON CLUSTER main DROP PARTITION '2024-01-02';"
    )
    assert m1.qualified == "ods.action_001_dis" and m1.kind == "drop_partition"
    assert m1.apply(t, spark) == 1
    days = {str(r[0]) for r in t.read(spark).select("day").distinct().collect()}
    assert days == {"2024-01-01", "2024-01-03"}

    m2 = parse_mutation(
        "ALTER TABLE ods.action_001_dis DELETE WHERE toDate(day) = '2024-01-03' AND id % 2 = 0"
    )
    assert m2.kind == "delete"
    assert m2.condition == "to_date(day) = '2024-01-03' AND id % 2 = 0"  # dialect-translated
    m2.apply(t, spark)
    left = t.read(spark).filter("day = DATE'2024-01-03'")
    assert left.count() == 50 and left.filter("id % 2 = 0").count() == 0

    import pytest

    with pytest.raises(ValueError, match="with_metric"):
        parse_mutation("ALTER TABLE a.b ADD COLUMN x UInt32")


def test_expression_partition_key(spark, tmp_path):
    """`PARTITION BY toYYYYMM(day)` (ClickHouse month partitioning):
    the expression becomes a derived column materialized on the insert
    path and used as the physical directory partition; filters on the
    derived column prune directories."""
    spec = ddl.parse_create_table(
        """
        CREATE TABLE ods.monthly (
            day Date,
            uid UInt64,
            v Int64
        ) ENGINE = MergeTree()
        PARTITION BY toYYYYMM(day)
        ORDER BY (day, uid)
        """
    )
    assert spec.partition_by == ("p_toyyyymm_day",)
    assert spec.partition_exprs == {
        "p_toyyyymm_day": "(year(day) * 100 + month(day))"
    } or "day" in next(iter(spec.partition_exprs.values()))

    table = spec.table(str(tmp_path))
    batch = spark.createDataFrame(
        [("2024-01-05", 1, 10), ("2024-01-20", 2, 20), ("2024-02-01", 3, 30)],
        "day string, uid long, v long",
    ).withColumn("day", F.col("day").cast("date"))
    full = spec.apply_defaults(batch)
    assert "p_toyyyymm_day" in full.columns
    table.append(full)

    import os

    dirs = sorted(
        d for d in os.listdir(table.path) if d.startswith("p_toyyyymm_day=")
    )
    assert dirs == ["p_toyyyymm_day=202401", "p_toyyyymm_day=202402"]

    got = table.read(spark)
    assert got.count() == 3
    # partition pruning on the derived column
    pruned = got.filter(F.col("p_toyyyymm_day") == 202401)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "202401" in plan  # pushed to the scan's partition filters
    assert pruned.count() == 2

    # mixed plain + expression keys
    spec2 = ddl.parse_create_table(
        "CREATE TABLE t (day Date, site String, v Int64) "
        "ENGINE = MergeTree() PARTITION BY (site, toYYYYMM(day)) ORDER BY day"
    )
    assert spec2.partition_by == ("site", "p_toyyyymm_day")

    # ORDER BY expressions still refuse loudly
    with pytest.raises(ValueError, match="ORDER BY"):
        ddl.parse_create_table(
            "CREATE TABLE t (uid UInt64) ENGINE = MergeTree() "
            "ORDER BY cityHash64(uid)"
        )


def test_skip_index_maps_to_bloom_filter():
    """`INDEX … TYPE bloom_filter` skip indexes parse out of the column
    list and map onto the Table's parquet bloom filters; minmax indexes
    are subsumed by sort-key row-group stats and ignored."""
    spec = ddl.parse_create_table(
        """
        CREATE TABLE t (
            day Date,
            uid UInt64,
            item_id UInt32,
            INDEX idx_uid uid TYPE bloom_filter(0.01) GRANULARITY 4,
            INDEX idx_day day TYPE minmax GRANULARITY 1
        ) ENGINE = MergeTree() PARTITION BY day ORDER BY (day, uid)
        """
    )
    assert [c.name for c in spec.columns] == ["day", "uid", "item_id"]
    assert spec.bloom_index_cols == ("uid",)
    t = spec.table("/tmp/unused")
    assert t.bloom_filter_cols == ("uid",)


def test_codec_clause_dropped():
    """Per-column CODEC(...) compression knobs parse cleanly and drop
    (parquet compression is table-wide zstd); defaults survive."""
    spec = ddl.parse_create_table(
        "CREATE TABLE t (day Date, v UInt64 CODEC(ZSTD(3)), "
        "d UInt32 DEFAULT 7 CODEC(Delta(4), LZ4)) "
        "ENGINE=MergeTree() ORDER BY day"
    )
    by = {c.name: c for c in spec.columns}
    assert by["v"].spark_type.simpleString() == "bigint"
    assert by["d"].default == "7"


def test_full_type_system_mapping():
    """The wrappers/containers a real pasted DDL uses, beyond the
    reference's own types: Nullable/LowCardinality unwrap (Spark
    columns are nullable throughout; parquet dictionary-encodes on its
    own), containers map recursively, Tuple fields name col1… to match
    the dialect's tuple()→struct() convention, Nested becomes
    array<struct> (explode ≡ ARRAY JOIN)."""
    from clickhouse_learning_spark.ddl import _map_type

    cases = {
        "Nullable(UInt64)": "bigint",
        "LowCardinality(Nullable(String))": "string",
        "Array(Array(String))": "array<array<string>>",
        "Map(String, UInt64)": "map<string,bigint>",
        "Decimal(18, 4)": "decimal(18,4)",
        "Decimal64(4)": "decimal(18,4)",
        "DateTime64(3)": "timestamp_ntz",
        "Enum8('a' = 1, 'b' = 2)": "string",
        "FixedString(16)": "string",
        "UUID": "string",
        "Bool": "boolean",
        "Int128": "decimal(38,0)",
        "Date32": "date",
        "Tuple(String, UInt64)": "struct<col1:string,col2:bigint>",
        "Tuple(a UInt32, b String)": "struct<a:bigint,b:string>",
        "Nested(id UInt32, v String)": "array<struct<id:bigint,v:string>>",
    }
    for ch, want in cases.items():
        assert _map_type(ch).simpleString() == want, ch
    with pytest.raises(ValueError, match="unmapped"):
        _map_type("Point")


def test_parse_optimize_statement():
    """OPTIMIZE TABLE … [PARTITION p] [FINAL] parses to the compaction
    target; partition-scoped maps to compact(partitions=[p])."""
    t, p = ddl.parse_optimize("OPTIMIZE TABLE test.mv_union_max FINAL")
    assert (t, p) == ("test.mv_union_max", None)
    t, p = ddl.parse_optimize(
        "OPTIMIZE TABLE dwm.stat ON CLUSTER c PARTITION '2024-01-02' FINAL;"
    )
    assert (t, p) == ("dwm.stat", "2024-01-02")
    with pytest.raises(ValueError, match="OPTIMIZE"):
        ddl.parse_optimize("OPTIMIZE nonsense")


def test_deploy_script_end_to_end(spark, tmp_path):
    """One-call deployment of the reference's wide-MV script: deploy()
    instantiates the state tables, ingest() runs the INSERT path
    (defaults → source append → every matching MV fires over the batch,
    positional column list applied), and the merge-on-read query over
    the target equals a direct aggregation of the raw batch."""
    from clickhouse_learning_spark.functions.dialect import translate
    from clickhouse_learning_spark.workload import reference_star as R

    script = (
        _read("ods.action_001_dis.sql")
        + "\n\n"
        + _read("dwm.mainpage_stat_mv_dis.sql")
    )
    R.build_user_dim(spark, SF_SMOKE).select("uid", "gender").createOrReplaceTempView(
        "ddl_user_dim"
    )
    dep = ddl.deploy(
        spark,
        script,
        str(tmp_path),
        dictionaries={"dim.dict_user_dim": ("ddl_user_dim", "uid")},
    )
    assert "ods.action_001_local" in dep.tables
    # Distributed proxies resolve to the local table
    assert dep._resolve("dws.action_001_dis") == "ods.action_001_local"

    a1 = (
        R.build_action_001(spark, SF_SMOKE)
        .withColumn(
            "platform",
            F.when(F.col("uid") % 2 == 0, "android").otherwise("ios"),
        )
        .withColumn("ver", F.lit("1.0"))
        .withColumn("second", F.col("hour"))
    )
    # two batches → the insert-trigger fires per batch, states accumulate
    counts1 = dep.ingest(spark, "dws.action_001_dis", a1.filter(F.col("uid") % 2 == 0))
    counts2 = dep.ingest(spark, "ods.action_001_local", a1.filter(F.col("uid") % 2 == 1))
    assert counts1["ods.action_001_local"] + counts2["ods.action_001_local"] == a1.count()
    target = dep._resolve(dep.mvs[0].target)
    assert counts1[target] > 0 and counts2[target] > 0

    dep.tables[target].read(spark).createOrReplaceTempView("dep_state")
    merged = spark.sql(
        translate(
            """
            SELECT day, platform,
                   uniqCombinedMerge(shown_uv) AS uv,
                   sum(shown_cnt) AS cnt
            FROM dep_state GROUP BY day, platform
            """
        )
    )
    got = {(r["day"], r["platform"]): r for r in merged.collect()}
    direct = a1.groupBy("day", "platform").agg(
        F.count_distinct(F.when(F.col("show_cnt") > 0, F.col("uid"))).alias("uv"),
        F.sum("show_cnt").alias("cnt"),
    )
    for r in direct.collect():
        g = got[(r["day"], r["platform"])]
        assert g["cnt"] == r["cnt"]
        assert abs(g["uv"] - r["uv"]) <= max(3, 0.05 * r["uv"])


def test_deploy_streaming_ingest(spark, tmp_path):
    """Deployment.attach_stream: the reference's insert-trigger MVs fed
    by a Structured Streaming source from its OWN DDL — multi-micro-
    batch streamed states merge to the same answer as one batch
    ingest."""
    from clickhouse_learning_spark.functions.dialect import translate
    from clickhouse_learning_spark.streaming.ingest import drain, parquet_stream
    from clickhouse_learning_spark.workload import reference_star as R

    script = (
        _read("ods.action_001_dis.sql") + "\n\n" + _read("dwm.mainpage_stat_mv_dis.sql")
    )
    R.build_user_dim(spark, SF_SMOKE).select("uid", "gender").createOrReplaceTempView(
        "ddl_user_dim"
    )
    dicts = {"dim.dict_user_dim": ("ddl_user_dim", "uid")}
    a1 = (
        R.build_action_001(spark, SF_SMOKE)
        .withColumn(
            "platform", F.when(F.col("uid") % 2 == 0, "android").otherwise("ios")
        )
        .withColumn("ver", F.lit("1.0"))
        .withColumn("second", F.col("hour"))
    )
    landing = str(tmp_path / "landing")
    a1.repartition(3).write.parquet(landing)

    dep_s = ddl.deploy(spark, script, str(tmp_path / "stream"), dictionaries=dicts)
    q = dep_s.attach_stream(
        spark,
        "dws.action_001_dis",
        parquet_stream(spark, landing, a1.schema),
        str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    drain(q)

    dep_b = ddl.deploy(spark, script, str(tmp_path / "batch"), dictionaries=dicts)
    dep_b.ingest(spark, "dws.action_001_dis", a1)

    target = dep_s._resolve(dep_s.mvs[0].target)
    merged_sql = """
        SELECT day, platform, sum(shown_cnt) AS cnt
        FROM {v} GROUP BY day, platform
    """
    out = {}
    for label, dep in (("s", dep_s), ("b", dep_b)):
        dep.tables[target].read(spark).createOrReplaceTempView(f"dst_{label}")
        rows = spark.sql(translate(merged_sql.format(v=f"dst_{label}"))).collect()
        out[label] = {(str(r["day"]), r["platform"]): r["cnt"] for r in rows}
    assert out["s"] == out["b"]
    # streamed path really appended per micro-batch (more state files,
    # same merged answer — group keys here are fine-grained enough that
    # ROW counts match)
    import glob as _glob

    def n_files(base):
        return len(_glob.glob(str(base) + "/dwm/mainpage_stat_mv_local/**/*.parquet", recursive=True))

    assert n_files(tmp_path / "stream") > n_files(tmp_path / "batch")


def test_deployment_execute_console_statements(spark, tmp_path):
    """The reference docs' console idioms replay verbatim against a
    deployment: INSERT … SELECT with ARRAY JOIN tuple literals fires
    the MV insert trigger; ALTER DELETE and OPTIMIZE run against the
    physical table."""
    script = """
    CREATE TABLE test.page_queue (
        platform String,
        ver String,
        uid UInt64
    ) ENGINE = MergeTree() ORDER BY (platform, ver);

    CREATE TABLE test.page_stat (
        platform String,
        ver String,
        uv AggregateFunction(uniqCombined, UInt64)
    ) ENGINE = AggregatingMergeTree() ORDER BY (platform, ver);

    CREATE MATERIALIZED VIEW test.mv_page_stat TO test.page_stat (
        platform String, ver String, uv AggregateFunction(uniqCombined, UInt64)
    ) AS
    SELECT platform, ver, uniqCombinedState(uid) AS uv
    FROM test.page_queue GROUP BY platform, ver;
    """
    dep = ddl.deploy(spark, script, str(tmp_path))

    # the docs' verbatim insert-test idiom (物化视图…md:340-346)
    dep.execute(
        spark,
        """
        INSERT INTO test.page_queue
        SELECT a.1 AS platform, a.2 AS ver, a.3 AS uid
        FROM system.one
        ARRAY JOIN [('android', '1.1', 1001), ('android', '1.1', 1002),
                    ('android', '1.2', 1009), ('ios', '1.1', 1003)] AS a
        """,
    )
    dep.execute(
        spark,
        "INSERT INTO test.page_queue VALUES ('ios', '1.1', 1003), ('ios', '1.1', 1004)",
    )

    from clickhouse_learning_spark.functions.dialect import translate

    dep.tables["test.page_stat"].read(spark).createOrReplaceTempView("ps")
    rows = spark.sql(
        translate(
            "SELECT platform, uniqCombinedMerge(uv) AS uv FROM ps GROUP BY platform"
        )
    ).collect()
    got = {r.platform: r.uv for r in rows}
    assert got == {"android": 3, "ios": 2}

    # mutation + compaction replay
    dep.execute(spark, "ALTER TABLE test.page_queue DELETE WHERE uid = 1001")
    assert dep.tables["test.page_queue"].read(spark).filter("uid = 1001").count() == 0
    dep.execute(spark, "OPTIMIZE TABLE test.page_stat FINAL")
    with pytest.raises(ValueError, match="deploy"):
        dep.execute(spark, "CREATE TABLE x (a UInt8) ENGINE = MergeTree ORDER BY a")


def test_parametric_aggregate_state_types():
    """AggregateFunction(fn, T…) columns map onto the exact encodings
    MetricSpec.partial writes, so a pasted wide-table DDL carrying
    argMax/avg/topK/sumMap states reads this engine's state files."""
    from clickhouse_learning_spark.ddl import _map_type

    cases = {
        "AggregateFunction(avg, UInt64)": "struct<s:bigint,c:bigint>",
        "AggregateFunction(argMax, String, DateTime)": "struct<o:timestamp,v:string>",
        "AggregateFunction(topK, String)": "array<struct<v:string,c:bigint>>",
        "AggregateFunction(sumMap, String, UInt64)": "map<string,bigint>",
        "AggregateFunction(groupArray, UInt32)": "array<bigint>",
        "AggregateFunction(min, Float64)": "double",
        "AggregateFunction(uniqTheta, UInt64)": "binary",
    }
    for ch, want in cases.items():
        assert _map_type(ch).simpleString() == want, ch
    with pytest.raises(ValueError, match="unmapped aggregate"):
        _map_type("AggregateFunction(mannWhitneyUTest, Float64)")


def test_deployment_maintain_runs_declared_ttl(spark, tmp_path):
    """Deployment.maintain executes the DDL's own TTL (metadata-only
    partition drops) and coalesces multi-file partitions; a single-file
    partition is neither read nor rewritten (same file, same mtime)."""
    import datetime as dt
    import glob

    script = """
    CREATE TABLE test.logline (
        day Date,
        uid UInt64,
        v Int64
    ) ENGINE = MergeTree()
    PARTITION BY day
    ORDER BY uid
    TTL day + toIntervalDay(7)
    """
    dep = ddl.deploy(spark, script, str(tmp_path))
    dep.execute(
        spark,
        "INSERT INTO test.logline VALUES "
        "('2024-01-01', 1, 10), ('2024-01-02', 2, 20), ('2024-01-20', 3, 30)",
    )
    dep.execute(spark, "INSERT INTO test.logline VALUES ('2024-01-20', 4, 40)")
    dep.execute(spark, "INSERT INTO test.logline VALUES ('2024-01-22', 5, 50)")
    table = dep.tables["test.logline"]
    single = {f: os.stat(f).st_mtime_ns
              for f in glob.glob(table.path + "/day=2024-01-22/*.parquet")}
    assert len(single) == 1

    report = dep.maintain(spark, now=dt.date(2024, 1, 25))
    entry = report["test.logline"]
    assert entry["ttl_partitions_kept"] == 2  # 2024-01-20 and 2024-01-22 survive
    assert entry["partitions_coalesced"] == 1  # only 2024-01-20 had two files
    got = sorted(r.uid for r in table.read(spark).collect())
    assert got == [3, 4, 5]
    assert len(glob.glob(table.path + "/day=2024-01-20/*.parquet")) == 1
    assert {f: os.stat(f).st_mtime_ns
            for f in glob.glob(table.path + "/day=2024-01-22/*.parquet")} == single
    # second sweep: nothing left to do
    report2 = dep.maintain(spark, now=dt.date(2024, 1, 25))
    assert report2["test.logline"]["partitions_coalesced"] == 0


def test_optimize_partition_rewrites_only_that_partition(spark, tmp_path):
    """``OPTIMIZE TABLE t PARTITION p`` coalesces partition p alone:
    every other partition keeps its file paths and mtimes."""
    import glob

    script = """
    CREATE TABLE test.parts (
        day Date,
        uid UInt64
    ) ENGINE = MergeTree()
    PARTITION BY day
    ORDER BY uid
    """
    dep = ddl.deploy(spark, script, str(tmp_path))
    for batch in (0, 10):
        dep.execute(spark, "INSERT INTO test.parts VALUES " + ", ".join(
            f"('2024-01-0{d}', {batch + d})" for d in range(1, 5)
        ))
    table = dep.tables["test.parts"]

    def files():
        return {f: os.stat(f).st_mtime_ns for f in glob.glob(table.path + "/day=*/*.parquet")}

    def others(fs):
        return {f: m for f, m in fs.items() if "/day=2024-01-02/" not in f}

    before = files()
    assert len(before) == 8
    n = dep.execute(spark, "OPTIMIZE TABLE test.parts PARTITION '2024-01-02' FINAL")
    after = files()
    assert others(after) == others(before)
    assert len(after) - len(others(after)) == 1
    assert n == 1  # partitions rewritten
    assert sorted(r.uid for r in table.read(spark).collect()) == [1, 2, 3, 4, 11, 12, 13, 14]


def test_chained_mv_cascade(spark, tmp_path):
    """ADVICE r2: an MV reading another MV's target must fire when that
    target receives rows (ClickHouse cascades chained materialized
    views). raw → mv1 → mid → mv2 → final: one ingest into raw must
    populate all three downstream tables."""
    script = """
    CREATE TABLE test.raw (
        day Date,
        uid UInt64,
        v Int64
    ) ENGINE = MergeTree()
    PARTITION BY day
    ORDER BY uid;

    CREATE TABLE test.mid (
        day Date,
        uid UInt64,
        v_sum Int64
    ) ENGINE = SummingMergeTree()
    PARTITION BY day
    ORDER BY (day, uid);

    CREATE TABLE test.final (
        day Date,
        n_users Int64,
        v_total Int64
    ) ENGINE = SummingMergeTree()
    PARTITION BY day
    ORDER BY day;

    CREATE MATERIALIZED VIEW test.mv1 TO test.mid AS
    SELECT day, uid, sum(v) AS v_sum FROM test.raw GROUP BY day, uid;

    CREATE MATERIALIZED VIEW test.mv2 TO test.final AS
    SELECT day, count() AS n_users, sum(v_sum) AS v_total
    FROM test.mid GROUP BY day;
    """
    dep = ddl.deploy(spark, script, str(tmp_path))
    batch = spark.createDataFrame(
        [
            (dt.date(2024, 1, 1), 1, 10),
            (dt.date(2024, 1, 1), 1, 5),
            (dt.date(2024, 1, 1), 2, 7),
            (dt.date(2024, 1, 2), 3, 1),
        ],
        "day date, uid long, v long",
    )
    counts = dep.ingest(spark, "test.raw", batch)
    assert counts["test.raw"] == 4
    assert counts["test.mid"] == 3   # (day, uid) groups
    assert counts["test.final"] == 2  # days — mv2 fired off mv1's insert
    got = {
        r.day: (r.n_users, r.v_total)
        for r in dep.tables["test.final"].read(spark).collect()
    }
    assert got == {dt.date(2024, 1, 1): (2, 22), dt.date(2024, 1, 2): (1, 1)}


def test_final_read_versionless_replacing(spark, tmp_path):
    """ADVICE r2: ENGINE = ReplacingMergeTree() with NO version column
    must still collapse to one row per sort key under FINAL —
    deterministic survivor (largest remaining-column tuple), mirroring
    the documented versioned rule."""
    script = """
    CREATE TABLE test.latest (
        uid UInt64,
        name String
    ) ENGINE = ReplacingMergeTree()
    ORDER BY uid
    """
    dep = ddl.deploy(spark, script, str(tmp_path))
    dep.execute(
        spark,
        "INSERT INTO test.latest VALUES (1, 'a'), (1, 'b'), (2, 'x')",
    )
    dep.execute(spark, "INSERT INTO test.latest VALUES (2, 'y'), (3, 'z')")
    rows = {(r.uid, r.name) for r in dep.final_read(spark, "test.latest").collect()}
    assert rows == {(1, "b"), (2, "y"), (3, "z")}


def test_codec_clause_lifts_to_table_codec(spark, tmp_path):
    """CODEC(LZ4)/CODEC(ZSTD) column clauses: a unanimous family becomes
    the Table's parquet codec (CH MergeTree raw logs default to LZ4 —
    the hot-fact-table trade); mixed/absent families keep the session
    zstd default. The written files must actually carry the codec."""
    spec = ddl.parse_create_table(
        """
        CREATE TABLE test.rawlog (
            day Date,
            uid UInt64 CODEC(LZ4),
            val UInt32 CODEC(LZ4HC(9))
        ) ENGINE = MergeTree PARTITION BY day ORDER BY (uid)
        """
    )
    assert spec.codec == "lz4"
    mixed = ddl.parse_create_table(
        "CREATE TABLE t (a UInt32 CODEC(LZ4), b UInt32 CODEC(ZSTD)) "
        "ENGINE = MergeTree ORDER BY a"
    )
    assert mixed.codec is None

    t = spec.table(str(tmp_path))
    assert t.codec == "lz4"
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.date(2024, 1, 1), 1, 10)], schema=spec.schema()
    )
    t.append(df)
    import glob

    import pyarrow.parquet as pq

    def codec_of(path):
        f = glob.glob(f"{path}/**/*.parquet", recursive=True)[0]
        md = pq.ParquetFile(f).metadata
        return {
            md.row_group(0).column(i).compression
            for i in range(md.num_columns)
        }

    # Spark's parquet lz4 is the hadoop-framed variant, which pyarrow
    # metadata reports as UNKNOWN — assert against the zstd control
    # write rather than a codec name
    from clickhouse_learning_spark.tables import Table

    control = Table(path=str(tmp_path / "control"), partition_by=("day",))
    control.append(df)
    assert codec_of(control.path) == {"ZSTD"}
    assert codec_of(t.path) != {"ZSTD"}


def test_truncate_table_statement(spark, tmp_path):
    """TRUNCATE TABLE: filesystem-only wipe; the table object survives
    and the next insert recreates it (MVs fire on it as usual)."""
    script = """
    CREATE TABLE test.tt (uid UInt64, v UInt32)
    ENGINE = MergeTree ORDER BY uid
    """
    dep = ddl.deploy(spark, script, str(tmp_path))
    dep.execute(spark, "INSERT INTO test.tt VALUES (1, 10), (2, 20)")
    assert dep.tables["test.tt"].read(spark).count() == 2
    assert dep.execute(spark, "TRUNCATE TABLE test.tt") == 1
    import glob

    assert not glob.glob(f"{dep.tables['test.tt'].path}/**/*.parquet", recursive=True)
    dep.execute(spark, "INSERT INTO test.tt VALUES (3, 30)")
    assert dep.tables["test.tt"].read(spark).count() == 1


def test_alter_add_column_lazy_default(spark, tmp_path):
    """ALTER TABLE ADD COLUMN is metadata-only (no part rewritten):
    pre-existing rows surface the declared DEFAULT through
    Deployment.read (ClickHouse's lazy materialization), and the next
    insert materializes it physically. AFTER positions the column in
    the spec order."""
    script = """
    CREATE TABLE test.ac (uid UInt64, v UInt32)
    ENGINE = MergeTree ORDER BY uid
    """
    dep = ddl.deploy(spark, script, str(tmp_path))
    dep.execute(spark, "INSERT INTO test.ac VALUES (1, 10), (2, 20)")
    import glob
    import os

    files_before = {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(f"{dep.tables['test.ac'].path}/**/*.parquet", recursive=True)
    }
    assert (
        dep.execute(
            spark,
            "ALTER TABLE test.ac ADD COLUMN score UInt32 DEFAULT 5 AFTER uid",
        )
        == 1
    )
    # metadata-only: no data file rewritten
    files_after = {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(f"{dep.tables['test.ac'].path}/**/*.parquet", recursive=True)
    }
    assert files_after == files_before
    assert [c.name for c in dep.specs["test.ac"].columns] == ["uid", "score", "v"]
    # old rows read the default; new insert materializes it
    got = {(r.uid, r.score) for r in dep.read(spark, "test.ac").collect()}
    assert got == {(1, 5), (2, 5)}
    dep.execute(spark, "INSERT INTO test.ac (uid, score, v) VALUES (3, 9, 30)")
    got = {(r.uid, r.score) for r in dep.read(spark, "test.ac").collect()}
    assert got == {(1, 5), (2, 5), (3, 9)}
    # idempotent: adding the same column again is a no-op
    assert (
        dep.execute(spark, "ALTER TABLE test.ac ADD COLUMN score UInt32 DEFAULT 5")
        == 0
    )


def test_console_rename_describe_modify_ttl_drop_column(spark, tmp_path):
    """Round-3b console statements: RENAME TABLE moves metadata + the
    data directory; DESCRIBE returns the declared schema; MODIFY TTL
    updates the retention spec; DROP COLUMN is metadata-only (pinned
    reads stop projecting it) and refuses key columns."""
    script = """
    CREATE TABLE test.src (uid UInt64, v UInt32, note String)
    ENGINE = MergeTree ORDER BY uid
    TTL uid + toIntervalDay(10)
    """
    dep = ddl.deploy(spark, script, str(tmp_path))
    dep.execute(spark, "INSERT INTO test.src VALUES (1, 10, 'a'), (2, 20, 'b')")

    # RENAME: data follows, old name gone
    assert dep.execute(spark, "RENAME TABLE test.src TO test.dst") == 1
    assert "test.src" not in dep.tables and "test.dst" in dep.tables
    assert dep.tables["test.dst"].read(spark).count() == 2
    assert dep.tables["test.dst"].path.endswith("test/dst")

    # DESCRIBE
    desc = dep.execute(spark, "DESCRIBE TABLE test.dst")
    got = {(r.name, r.spark_type) for r in desc.collect()}
    assert ("uid", "bigint") in got and ("note", "string") in got

    # MODIFY TTL
    assert dep.execute(spark, "ALTER TABLE test.dst MODIFY TTL uid + toIntervalDay(30)") == 1
    import datetime as _dt

    assert dep.specs["test.dst"].ttl == _dt.timedelta(days=30)
    assert dep.specs["test.dst"].ttl_column == "uid"

    # DROP COLUMN: metadata-only, key columns refused
    import glob
    import os

    files = {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(f"{dep.tables['test.dst'].path}/**/*.parquet", recursive=True)
    }
    assert dep.execute(spark, "ALTER TABLE test.dst DROP COLUMN note") == 1
    assert files == {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(f"{dep.tables['test.dst'].path}/**/*.parquet", recursive=True)
    }
    assert "note" not in dep.tables["test.dst"].read(spark).columns
    with pytest.raises(ValueError, match="key column"):
        dep.execute(spark, "ALTER TABLE test.dst DROP COLUMN uid")
