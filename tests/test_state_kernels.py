"""The merge and finalize kernels sort each state array once, with the
native ``sort_array``.

``F.array_sort(x)`` with its default comparator plans as
``array_sort(x, lambdafunction(...))``: an interpreted lambda on every
comparison, and, because subexpression elimination skips expressions
holding a lambda, one full sort for every use of the sorted array.
``sort_array`` differs from it only in where NULL elements go, and state
arrays hold none. These tests pin all three facts: the kernels use no
default-comparator ``array_sort`` (statically and in the planned
queries), they answer exactly as the ``array_sort`` forms did on
null-free states, and every array state is null-free.
"""

from __future__ import annotations

import ast
import io
import pathlib
from contextlib import redirect_stdout

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from clickhouse_learning_spark.functions.metrics import (
    QUANTILE_STATE_TYPE,
    SUMMAP_STATE_TYPE,
    MetricSpec,
    array_median,
    array_median_exact_low,
    build_states,
    dd_value,
    summap_from_state,
    topk_from_state,
    weighted_quantile,
)
from clickhouse_learning_spark.mv.mainpage import mainpage_mv, prepare_events

from .conftest import SF_SMOKE

PKG = pathlib.Path(__file__).resolve().parents[1] / "clickhouse_learning_spark"


def _default_comparator_sorts(path: pathlib.Path) -> list[int]:
    """Lines of ``path`` that call ``array_sort`` with one argument, or
    spell ``array_sort(`` in a SQL string."""
    out = []
    for node in ast.walk(ast.parse(path.read_text())):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "array_sort"
                and len(node.args) + len(node.keywords) < 2):
            out.append(node.lineno)
        if isinstance(node, ast.Constant) and "array_sort(" in str(node.value):
            out.append(node.lineno)
    return out


def test_state_kernels_use_no_default_comparator_array_sort():
    files = [PKG / "functions" / "metrics.py", *sorted((PKG / "mv").glob("*.py"))]
    found = {str(f.relative_to(PKG)): _default_comparator_sorts(f) for f in files}
    assert not any(found.values()), found


def test_dialect_state_sql_sorts_with_sort_array():
    """The SQL ``translate`` writes over medianExact and bitmap states
    follows the same rule: it sorts with ``sort_array``, and a bitmap
    cardinality does not sort at all."""
    from clickhouse_learning_spark.functions import dialect

    for sql in (dialect._MERGED_BITMAP, dialect._median_exact_sql("s")):
        assert "sort_array(" in sql and "array_sort(" not in sql, sql
    assert "sort" not in dialect._MERGED_SET
    for name in ("groupBitmapMerge", "groupBitmapOr"):
        assert dialect._MAPPING[name](["b"]) == (
            "size(array_distinct(flatten(collect_list(b))))")


def _sort_calls(plan: str) -> list[str]:
    """The argument text of every ``array_sort(`` call in ``plan``."""
    out, i = [], plan.find("array_sort(")
    while i >= 0:
        start = j = i + len("array_sort(")
        depth = 1
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            j += 1
        out.append(plan[start:j - 1])
        i = plan.find("array_sort(", j)
    return out


def test_mainpage_merge_plans_sort_without_a_lambda(spark, tmp_path):
    """The dashboard's rollup and recent ``merge_query`` and the funnel's
    ``merge_states(["day"])`` sort natively: no comparator lambda."""
    mv = mainpage_mv(str(tmp_path / "state"))
    mv.append_batch(prepare_events(spark, SF_SMOKE))
    latest = mv.storage.read(spark).agg(F.max("day")).first()[0]
    dfs = {
        "rollup": mv.merge_query(spark, ["day", "segment"]),
        "recent": mv.merge_query(spark, ["hour"], where=F.col("day") == F.lit(latest)),
        "merge_states": mv.merge_states(mv.storage.read(spark), ["day"]),
    }
    for name, df in dfs.items():
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        assert "sort_array(" in plan, name  # the median or bitmap kernel
        assert not [a for a in _sort_calls(plan) if "lambdafunction" in a], name


# -- the kernels as they were written with array_sort -------------------------

def _old_median(c):
    s = F.array_sort(c)
    n = F.size(s)
    lo = F.floor((n + F.lit(1)) / 2).cast("int")
    hi = F.ceil((n + F.lit(1)) / 2).cast("int")
    return F.when(n > 0, (F.element_at(s, lo) + F.element_at(s, hi)) / 2.0)


def _old_median_exact_low(c):
    s = F.array_sort(c)
    n = F.size(s)
    return F.when(n > 0, F.element_at(s, (F.floor(n / 2) + 1).cast("int")))


def _old_weighted_quantile(c, level):
    e = F.array_sort(c)
    total = F.aggregate(e, F.lit(0).cast("long"), lambda a, s: a + s["c"])
    target = F.greatest(
        F.ceil(F.lit(float(level)) * total).cast("long"), F.lit(1).cast("long"))
    zero = F.struct(F.lit(0).cast("long").alias("cum"), target.alias("tgt"),
                    F.lit(None).cast("bigint").alias("ans"))
    walk = F.aggregate(e, zero, lambda acc, s: F.struct(
        (acc["cum"] + s["c"]).alias("cum"), acc["tgt"].alias("tgt"),
        F.coalesce(acc["ans"], F.when(acc["cum"] + s["c"] >= acc["tgt"], s["v"]))
        .alias("ans")))
    return F.when(total > 0, walk["ans"])


def _old_resum_entries(c, key):
    e = F.array_sort(c)
    return F.array_distinct(F.transform(e, lambda s: F.struct(
        s[key].alias(key),
        F.aggregate(F.filter(e, lambda t: t[key] == s[key]),
                    F.lit(0).cast("long"), lambda a, t: a + t["c"]).alias("c"))))


def _old_topk(c, k):
    ranked = F.sort_array(F.transform(
        _old_resum_entries(c, "v"),
        lambda s: F.struct((-s["c"]).alias("nc"), s["v"].alias("v"))))
    return F.transform(F.slice(ranked, 1, k), lambda s: s["v"])


def _old_summap(c):
    return F.coalesce(F.array_join(F.transform(
        _old_resum_entries(c, "k"), lambda s: F.concat_ws(":", s["k"], s["c"])),
        "|"), F.lit(""))


def _old_union(c):
    return F.array_sort(F.array_distinct(F.flatten(F.collect_list(c))))


ENTRY = st.tuples(st.integers(-50, 50), st.integers(0, 5))
STATES = st.lists(
    st.tuples(
        st.integers(0, 3),                                        # group
        st.none() | st.lists(st.integers(-100, 100), max_size=8),  # id set
        st.none() | st.lists(st.integers(-100, 100), max_size=8),  # median
        st.none() | st.lists(st.floats(-1e6, 1e6, allow_nan=False), max_size=6),
        st.none() | st.lists(ENTRY, max_size=8),                   # value→count
        st.none() | st.lists(st.tuples(st.sampled_from("abcde"),
                                       st.integers(-3, 9)), max_size=8),
    ),
    min_size=1, max_size=25,
)


@given(states=STATES)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_native_kernels_answer_as_the_array_sort_forms(spark, states):
    """On null-free states (NULL states allowed, as from a failed -If),
    the merge and finalize kernels give exactly what the array_sort
    forms gave, for every kind whose kernel sorts."""
    df = spark.createDataFrame(
        [(g, None if b is None else sorted(set(b)), m, d, q, s)
         for g, b, m, d, q, s in states],
        f"g int, b array<bigint>, m array<bigint>, d array<double>, "
        f"q {QUANTILE_STATE_TYPE}, s {SUMMAP_STATE_TYPE}",
    )
    lists = {c: F.flatten(F.collect_list(c)) for c in ("m", "d", "q", "s")}
    new, old = [], []
    for kind in ("bitmap", "uniq_exact"):
        spec = MetricSpec("b", kind, "b")
        new += [spec.merge().alias(f"{kind}_merge"),
                spec.merged_finalized().alias(f"{kind}_card")]
        old += [_old_union("b").alias(f"{kind}_merge"),
                F.coalesce(F.size(_old_union("b")), F.lit(0)).alias(f"{kind}_card")]
    for c in ("m", "d"):
        new += [array_median(lists[c]), array_median_exact_low(lists[c])]
        old += [_old_median(lists[c]), _old_median_exact_low(lists[c])]
    new.append(MetricSpec("m", "median", "m").merged_finalized())
    old.append(_old_median(lists["m"]))
    for level in (0.01, 0.5, 0.9, 1.0):
        new += [weighted_quantile(lists["q"], level),
                MetricSpec("q", "quantile_sketch", "q", level=level)
                .merged_finalized()]
        old += [_old_weighted_quantile(lists["q"], level),
                dd_value(_old_weighted_quantile(lists["q"], level), 0.01)]
    for k in (1, 3):
        new.append(topk_from_state(lists["q"], k))
        old.append(_old_topk(lists["q"], k))
    new.append(summap_from_state(lists["s"]))
    old.append(_old_summap(lists["s"]))

    def run(cols):
        return [tuple(r) for r in df.groupBy("g").agg(
            *[c.alias(f"c{i}") for i, c in enumerate(cols)]).orderBy("g").collect()]

    assert run(new) == run(old)


def test_state_from_counts_sorts_as_array_sort(spark):
    """Value→count states built from pre-counted rows come out sorted
    exactly as the array_sort form sorted them."""
    rows = [(g, v, c, k) for g in range(3) for v, c, k in
            [(5, 2, "x"), (-1, 1, "b"), (5, 1, "a"), (0, 7, "x"), (-9, 3, "c")]]
    df = spark.createDataFrame(rows, "g int, v long, c long, k string")
    for kind, v in (("quantile", "v"), ("quantile_sketch", "v"), ("summap", "k")):
        spec = MetricSpec("st", kind, v)
        pair = F.struct(F.col(v).alias(spec.entry_key), F.col("c").alias("c"))
        state_type = SUMMAP_STATE_TYPE if kind == "summap" else QUANTILE_STATE_TYPE
        got = df.groupBy("g").agg(spec.state_from_counts(F.col(v), F.col("c")))
        want = df.groupBy("g").agg(
            F.array_sort(F.collect_list(pair)).cast(state_type).alias("st"))
        assert sorted(got.collect()) == sorted(want.collect()), kind


# -- every array state is null-free --------------------------------------------

ARRAY_KINDS = ("median", "bitmap", "uniq_exact", "quantile", "quantile_sketch",
               "topk", "summap")

RAW = st.lists(
    st.tuples(st.integers(0, 2), st.none() | st.integers(-20, 20), st.booleans()),
    min_size=1, max_size=40,
)


@given(rows=RAW)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_array_states_built_from_null_values_hold_no_null(spark, rows):
    """States built from rows with NULL values (plain and under -If),
    by the engine's write path and by the one-expression ``partial``,
    have no NULL element — the condition under which ``sort_array`` and
    ``array_sort`` agree."""
    df = spark.createDataFrame(rows, "g int, x long, f boolean")
    specs = [MetricSpec(f"{k}_{i}", k, "x", cond=cond)
             for k in ARRAY_KINDS for i, cond in enumerate((None, "f"))]
    built = build_states(df, ["g"], specs)
    partial = df.groupBy("g").agg(*[m.partial() for m in specs])
    for states in (built, partial):
        nulls = states.select(*[
            F.coalesce(F.exists(m.name, lambda e: e.isNull()), F.lit(False))
            .alias(m.name) for m in specs
        ]).collect()
        assert not [(m.name, r) for r in nulls for m in specs if r[m.name]]
