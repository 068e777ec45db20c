from __future__ import annotations

import os
import uuid

import pytest
from py4j.protocol import Py4JJavaError

from clickhouse_learning_spark import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def drop_last_commit(checkpoint: str) -> int:
    """Delete the newest ``commits/<N>`` entry of a stream checkpoint —
    the state a crash between the sink write and Spark's commit log
    leaves — so a restart on it replays epoch N. Returns N."""
    d = os.path.join(checkpoint, "commits")
    n = max(int(f) for f in os.listdir(d) if f.isdigit())
    for f in (str(n), f".{n}.crc"):
        if os.path.exists(os.path.join(d, f)):
            os.remove(os.path.join(d, f))
    return n


def traced(spark, fn):
    """``fn()`` under its own Spark job group → (its result, the Spark
    jobs it ran, the rows those jobs read from data files)."""
    sc = spark.sparkContext
    group = f"traced-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    store = sc._jsc.sc().statusStore()
    read = 0
    for j in jobs:
        gone = 0
        for s in tracker.getJobInfo(j).stageIds:
            try:
                read += store.lastStageAttempt(s).inputRecords()
            except Py4JJavaError:
                gone += 1
        # past spark.ui.retainedStages the status store evicts skipped
        # stages (no completion time) first; a skipped stage read nothing
        assert gone <= store.job(j).numSkippedStages(), (j, gone)
    return out, len(jobs), read


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus="*")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for sf, prefix in ((SF_SMOKE, "s1_"), (SF_ORACLE, "")):
        for t in (
            "region nation customer supplier part orders lineitem events documents embeddings"
        ).split():
            con.execute(
                f"CREATE VIEW {prefix}{t} AS SELECT * FROM '{sf}/{t}.parquet'"
            )
    return con
