"""Registration of the Pandas UDFs that ``translate`` emits: each
emitted call registers its one UDF on the live sessions, and
``register_udfs`` makes every UDF emitted so far resolve on any other
session."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.udf import UDFRegistration

from clickhouse_learning_spark.functions import dialect
from clickhouse_learning_spark.functions.dialect import (
    _live_sessions,
    register_udfs,
    translate,
)

# one query calling every UDF-emitting function family: the grouped-agg
# Pandas UDFs (a), the SQL aggregates with a p-value UDF (b) and the
# scalar UDFs over the joined rows
ALL_FAMILIES = """
SELECT a.g,
       xxHash64(s) AS x64, xxHash32(s) AS x32,
       murmurHash3_32(s) AS m32, murmurHash3_64(s) AS m64,
       hex(murmurHash3_128(s)) AS m128, sipHash64(s) AS sip,
       intHash64(a.g) AS ih,
       IPv6NumToString(IPv6StringToNum('2001:db8::1')) AS ip6,
       IPv6NumToString(toIPv6OrNull('::ffff:1.2.3.4')) AS ip4m,
       IPv6CIDRToRange(IPv6StringToNum('2001:db8::1'), 32) AS cidr,
       cutIPv6(IPv6StringToNum('2001:db8::1'), 2, 0) AS cut6,
       isIPAddressInRange('10.1.2.3', '10.0.0.0/8') AS inr,
       JSONExtractArrayRaw('[1, "x", {"k": 2}]') AS ja,
       JSONExtractKeysAndValuesRaw('{"a": 1, "b": [2]}') AS jkv,
       JSONExtractRaw('{"a": {"b": 1}}', 'a') AS jr,
       editDistance(s, 'abc') AS ed, jaroSimilarity(s, 'abc') AS jr1,
       jaroWinklerSimilarity(s, 'abc') AS jw,
       stringJaccardIndex(s, 'abc') AS jac,
       normalizeUTF8NFKD(s) AS nf, javaHash(s) AS jh, hiveHash(s) AS hh,
       javaHashUTF16LE(s) AS jh16,
       extractAllGroupsVertical(s, '(\\\\w)(\\\\d)') AS egv,
       extractAllGroupsHorizontal(s, '(\\\\w)(\\\\d)') AS egh,
       punycodeEncode(s) AS pe, punycodeDecode('mnchen-3ya') AS pd,
       base58Encode(s) AS b58, base58Decode('2NEpo7TZRRrLZSi2U') AS b58d,
       geohashEncode(10.40744, 57.64911, 6) AS gh,
       geohashDecode('u4pruy') AS ghd,
       mw, ks, pts, m, c, tt, wt, zt
FROM (
    SELECT g, mannWhitneyUTest(v, i) AS mw,
           kolmogorovSmirnovTest(v, i) AS ks,
           largestTriangleThreeBuckets(3)(v, w) AS pts,
           sequenceMatch('(?1)(?t<=10)(?2)')(ts, i = 0, i = 1) AS m,
           sequenceCount('(?1).(?2)')(ts, i = 0, i = 1) AS c
    FROM udf_all_t GROUP BY g
) a JOIN (
    SELECT g, concat('a', toString(g), 'b7') AS s,
           studentTTest(v, i) AS tt, welchTTest(v, i) AS wt,
           meanZTest(1., 2., 0.95)(v, i) AS zt
    FROM udf_all_t GROUP BY g
) b ON a.g = b.g
"""

# eight UDF calls, each of another UDF
EIGHT_CALLS = (
    "SELECT xxHash64(s), murmurHash3_32(s), intHash64(n), "
    "punycodeEncode(s), base58Encode(s), editDistance(s, s), "
    "javaHash(s), IPv6StringToNum(s) FROM t"
)


def _view(session) -> None:
    session.createDataFrame(
        [(g, i, float(k * (g + 2) + i), float(k), k + 10 * i)
         for g in range(3) for i in (0, 1) for k in range(6)],
        "g long, i int, v double, w double, t long",
    ).selectExpr("*", "CAST(t AS TIMESTAMP) AS ts").createOrReplaceTempView(
        "udf_all_t")


def _plain(v):
    """A row as nested Python values with floats rounded, so equal
    answers compare equal however the sums were ordered."""
    if hasattr(v, "asDict"):
        return {k: _plain(x) for k, x in v.asDict().items()}
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if isinstance(v, float):
        return round(v, 9)
    return v


def _count_registrations(monkeypatch) -> list:
    """From now on, (JVM session, name) of every UDF registration."""
    calls = []
    orig = UDFRegistration.register

    def counting(self, name, f, returnType=None):
        calls.append((self.sparkSession._jsparkSession._target_id, name))
        return orig(self, name, f, returnType)

    monkeypatch.setattr(UDFRegistration, "register", counting)
    return calls


def test_each_emitted_call_registers_only_its_own_udf(spark, monkeypatch):
    """After every family has been emitted once, a query with eight UDF
    calls registers exactly eight UDFs per live session that does not
    hold them yet, not every UDF emitted so far."""
    translate(ALL_FAMILIES)
    # forget the registrations, as a fresh session would have none
    monkeypatch.setattr(dialect, "_REGISTERED", set())
    calls = _count_registrations(monkeypatch)
    translate(EIGHT_CALLS)
    assert len(calls) == 8 * len(_live_sessions()), sorted(calls)


# translate(EIGHT_CALLS), which registering once must leave as it was
EIGHT_CALLS_SQL = (
    "SELECT ch_xxhash64(s), ch_murmur3_32(s), "
    "ch_int_hash64(CAST((n) AS BIGINT)), "
    "ch_punycode_encode(s), ch_base58_encode(s), ch_edit_distance(s, s), "
    "ch_java_hash(s), ch_ipv6_string_to_num(s) FROM t"
)


def test_each_udf_registers_once_per_session(spark, monkeypatch):
    """Translating the eight-call query again and again registers each
    of its UDFs at most once per JVM session; another session (here a
    ``newSession()``, as after a stop and restart) registers it again.
    The SQL is the same on every call."""
    calls = _count_registrations(monkeypatch)
    sqls = {translate(EIGHT_CALLS) for _ in range(3)}
    translate(ALL_FAMILIES)
    sqls.add(translate(EIGHT_CALLS))
    assert len(calls) == len(set(calls)), sorted(calls)
    assert sqls == {EIGHT_CALLS_SQL}
    s2 = spark.newSession()
    register_udfs(s2)
    register_udfs(s2)
    assert len(calls) == len(set(calls)), sorted(calls)
    theirs = [n for sid, n in calls if sid == s2._jsparkSession._target_id]
    assert len(theirs) == len(dialect._UDFS)


def test_register_udfs_makes_every_emitted_udf_resolve_on_a_new_session(
        spark):
    """``spark.newSession()`` has its own function registry: a translated
    query does not resolve there until ``register_udfs`` runs, and then
    returns the rows it returns on ``spark``."""
    sql = translate(ALL_FAMILIES)
    s2 = spark.newSession()
    for s in (spark, s2):
        _view(s)
    with pytest.raises(AnalysisException, match="UNRESOLVED_ROUTINE"):
        s2.sql(sql).collect()
    register_udfs(s2)
    want = [_plain(r) for r in spark.sql(sql).orderBy("g").collect()]
    got = [_plain(r) for r in s2.sql(sql).orderBy("g").collect()]
    assert len(want) == 3
    assert got == want
