"""Every top-level function and class of the package is referenced
somewhere: the name appears at least twice across the package, its
tests, tools, the benchmarks and the entry points. Also exercises the
three helpers that only the docs name (PARITY.md, docs/MIGRATION.md)."""

from __future__ import annotations

import ast
import collections
import re
from pathlib import Path

from pyspark.sql import functions as F

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "clickhouse_learning_spark"


def test_no_unreferenced_top_level_names():
    sources = [
        *PACKAGE.rglob("*.py"), *(ROOT / "tests").rglob("*.py"),
        *(ROOT / "tools").rglob("*.py"), *(ROOT / "warehouse_bench").rglob("*.py"),
        ROOT / "bench.py", ROOT / "__spark_entry__.py",
    ]
    counts = collections.Counter()
    for p in sources:
        counts.update(re.findall(r"\w+", p.read_text(encoding="utf-8")))
    once = [
        f"{p.relative_to(ROOT)}:{n.lineno} {n.name}"
        for p in sorted(PACKAGE.rglob("*.py"))
        for n in ast.parse(p.read_text(encoding="utf-8")).body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not (n.name.startswith("__") and n.name.endswith("__"))
        and counts[n.name] == 1
    ]
    assert not once, "defined but never referenced; delete or test them:\n" + "\n".join(once)


def test_rolling_fingerprint_is_min_shingle_hash(spark):
    """The fingerprint is the minimum xxhash64 over the doc's k-shingles:
    equal to the exploded relational form, and never above the
    fingerprint of a doc whose shingles it contains."""
    from clickhouse_learning_spark.operators import text as TX

    base = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " and runs away"), (3, "something else entirely")],
        "id long, text string",
    )
    got = {r.id: r.fp for r in docs.select("id", TX.rolling_fingerprint(F.col("text")).alias("fp")).collect()}
    want = {
        r.id: r.fp
        for r in docs.select("id", F.explode(TX.shingles(F.col("text"), 8)).alias("s"))
        .groupBy("id").agg(F.min(F.xxhash64("s")).alias("fp")).collect()
    }
    assert got == want
    assert got[2] <= got[1] and len(set(got.values())) >= 2


def test_rand_shard_is_a_uniform_shard_key(spark):
    """rand() shard key: values in [0, 1), spread over every shard of a
    4-way split."""
    from clickhouse_learning_spark.functions.scalar import rand_shard

    rows = spark.range(2000).select(rand_shard().alias("r")).collect()
    assert all(0.0 <= r.r < 1.0 for r in rows)
    assert {int(r.r * 4) for r in rows} == {0, 1, 2, 3}


def test_register_testdata_views(spark):
    """Every test-data table is registered as a temp view over load_table
    (in a session of its own, so other tests' views stay as they are)."""
    from clickhouse_learning_spark.schemas import TESTDATA_TABLES, load_table, register_testdata_views

    from .conftest import SF_SMOKE

    s = spark.newSession()
    register_testdata_views(s, SF_SMOKE)
    for name in TESTDATA_TABLES:
        assert s.catalog.tableExists(name)
    assert s.sql("SELECT count(*) FROM nation").first()[0] == load_table(s, SF_SMOKE, "nation").count()
