"""Mergeable-aggregate metric registry — the reference's combinator algebra.

The reference's central mechanism is the ``-If`` / ``-State`` / ``-Merge``
combinator system on aggregate functions
(/root/reference/scripts/sql/dwm.mainpage_stat_mv_dis.sql:46-50,62-66 and
/root/reference/docs/物化视图的实战经验分享.md:298-316): materialized views
store *partial aggregate states* per insert batch; storage merges states
lazily; queries always re-merge and finalize. This maps exactly onto
Spark's partial/final hash-aggregation split, so each metric here is a
``(partial, merge, finalize)`` triple of Catalyst expressions — no UDFs
in the hot path.

State representations (SURVEY.md §1.2):

========================  =====================================  ==========
reference state           Spark state column                     kind
========================  =====================================  ==========
AggregateFunction(
  uniqCombined, UInt32)   BinaryType Datasketches HLL sketch     ``uniq``
SimpleAggregateFunction(
  sum, UInt64)            LongType / DoubleType plain value      ``sum``
AggregateFunction(
  medianExact, UInt32)    ArrayType(LongType) retained values    ``median``
AggregateFunction(
  groupBitmap, UInt32)    sorted ArrayType(LongType) id-set      ``bitmap``
count                     LongType                               ``count``
min / max                 same type as source                    ``min``/``max``
AggregateFunction(
  quantileExactWeighted)  sorted value→count pairs               ``quantile``
AggregateFunction(
  quantile, Float64)      sorted DDSketch bucket→count pairs     ``quantile_sketch``
AggregateFunction(
  topK(k), String)        value→count pairs, ≤ reserve entries   ``topk``
AggregateFunction(
  sumMap, Map)            sorted key→sum pairs                   ``summap``
========================  =====================================  ==========

Plain-value sum states follow the reference's own finding that
``SimpleAggregateFunction`` (8 B) beats opaque sum states (16 B)
(/root/reference/docs/物化视图的实战经验分享.md:529-549).

Exact medians keep every value in the state (as the reference's
``medianExactState`` does); this is documented as memory-heavy — at
100 TB prefer ``kind="quantile"`` (exact, O(distinct values) per state)
or ``kind="quantile_sketch"`` (DDSketch: values are log-bucketed, the
state holds bucket→count pairs, O(occupied buckets) per state, and the
answer is within relative error ``alpha`` of the exact quantile).

The four value→count kinds (``MetricSpec.PRECOUNT_KINDS``) share one
pre-count pass. All of a view's value→count metrics become one long
frame of ``(dims, _v0…, _w)`` rows, one value field per distinct
(value, weight) source, so p50 and p90 of one column share a field:
:func:`build_states` takes it from a raw batch with one ``inline``, and
:func:`resum_states` from stored states with one ``inline`` over their
entries. One ``groupBy(dims, _v…)`` sums the weights per value and one
``groupBy(dims)`` builds every state, so each input is read once
however many such metrics the view has, as an AggregatingMergeTree
merge reads each part once. A merged state has one entry per value
(topk: the ``reserve`` highest-count ones), like a freshly built one.

Bitmap states default to exact sorted id-arrays (Roaring-equivalent set
algebra via ``array_intersect``/``array_union``/``size``) — fully
JVM-side and codegen-able, fastest at the reference's cardinalities
(≤15k uids/group). For 100 TB funnel cardinalities,
``MetricSpec(kind="bitmap", representation="roaring")`` stores
roaring-compressed ``BinaryType`` states instead (the reference's actual
``groupBitmap`` form) — see ``functions/roaring.py``.
"""

from __future__ import annotations

import functools
import math
import operator
from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

# Default log2(K) for HLL sketches: 12 → ~0.8% relative error, 4 KB max
# per sketch (the reference's uniqCombined(17) default has comparable error).
HLL_LG_K = 12

KINDS = (
    "uniq",
    "uniq_exact",
    "sum",
    "count",
    "min",
    "max",
    "median",
    "bitmap",
    "avg",
    "argmax",
    "argmin",
    "quantile",
    "quantile_sketch",
    "quantile_kll",
    "topk",
    "summap",
    "uniq_theta",
)

# State type of the ``summap`` kind: key → summed-weight pairs
# (ClickHouse ``sumMap`` state: parallel key/value arrays).
SUMMAP_STATE_TYPE = "array<struct<k:string,c:bigint>>"

# Sentinel bucket for non-positive inputs of the quantile_sketch kind
# (DDSketch's dedicated zero counter; representative value 0.0).
DD_ZERO_BUCKET = -(2**31)

# State type of the ``quantile`` kind: value → occurrence-count pairs.
QUANTILE_STATE_TYPE = "array<struct<v:bigint,c:bigint>>"


def _as_col(expr: str | Column) -> Column:
    return F.expr(expr) if isinstance(expr, str) else expr


@dataclass(frozen=True)
class MetricSpec:
    """One metric of a materialized view.

    ``name``    state/output column name.
    ``kind``    one of KINDS.
    ``source``  input expression (SQL string or Column) over the raw log.
    ``cond``    optional condition — the ``-If`` combinator
                (/root/reference/scripts/sql/dwm.mainpage_stat_mv_dis.sql:46-48):
                rows failing it contribute the aggregate's neutral element.
    ``level``   for ``quantile``: the quantile level φ ∈ (0, 1], default
                0.5 (median). Semantics are ClickHouse
                ``quantileExactWeighted`` / DuckDB ``quantile_disc``:
                the smallest value whose cumulative weight reaches
                ``ceil(φ·total)`` — exact, no interpolation. The state
                is value→count pairs (``QUANTILE_STATE_TYPE``), so after
                compaction it is O(distinct values) instead of the
                ``median`` kind's O(rows) — the scalable form for
                bounded-domain metrics (durations, prices, scores).
                Values must be integral (quantize floats first, e.g.
                ``floor(value * 100)``, as quantileExactWeighted's
                UInt key does).
    ``order_by``  for ``argmax``/``argmin`` (ClickHouse argMax/argMin):
                the ordering expression; ``source`` is the value carried
                out. State = struct(ord, tiebreak, val) reduced with
                lexicographic max/min, so it is trivially mergeable.
                Ties on ``order_by`` break deterministically on the
                value itself.
    ``alpha``   for ``quantile_sketch`` (DDSketch, Masson et al. 2019 —
                the 100 TB replacement for exact quantile states): values
                are log-bucketed with relative accuracy α
                (γ = (1+α)/(1-α), bucket = ⌈log_γ x⌉), the state is
                bucket→count pairs (``QUANTILE_STATE_TYPE``), merge
                re-sums buckets, finalize walks the same discrete-rank
                rule as ``quantile`` and returns the bucket midpoint
                2γ^b/(γ+1). State size is bounded by the number of
                occupied buckets — ~⌈ln(max/min)/ln γ⌉ (≈700 for a
                10⁹ dynamic range at α=0.01) — independent of row count
                even before compaction-by-bucket. The result is within
                relative error α of the exact discrete quantile, and the
                whole computation is deterministic, so it still has an
                exact DuckDB oracle. Non-positive inputs land in a
                dedicated zero bucket (representative 0.0), as DDSketch's
                zero counter does.
    ``representation``  for ``bitmap``: ``"array"`` (default — sorted
                ``array<long>``, exact, fully JVM/codegen; fastest at
                the reference's own cardinalities) or ``"roaring"``
                (``BinaryType`` roaring-compressed bytes, the
                reference's actual ``groupBitmap`` state form,
                dwm.mainpage_stat_mv_dis.sql:134-139 — ~4-60× smaller
                state rows at high cardinality; per-group conversions
                are Arrow-batched pandas UDFs over O(groups) rows, the
                per-row path stays codegen). Values must fit UInt32 —
                use "array" for hashed/64-bit ids. Both are exact; see
                ``functions/roaring.py``.
    ``value_type`` / ``order_type``  DDL type strings of ``source`` /
                ``order_by`` (e.g. ``"string"``, ``"double"``; default
                ``"bigint"``). Only consulted by :meth:`neutral` for
                ``argmax``/``argmin``/``topk``, whose neutral NULL state
                must carry the exact struct/array element types for
                ``unionByName`` in multi-writer wide tables (reference
                T7, dwm…sql:157-238).
    ``weight``  for ``summap`` and ``topk``. topk: per-row weight —
                ClickHouse ``topKWeighted(k)(x, w)``; the default "1"
                is plain ``topK``. summap (ClickHouse
                ``sumMap(map(k, w))``):
                ``source`` is the KEY expression (cast to string), and
                ``weight`` the summed value per key (default 1 → a
                per-key counter). State is key→sum pairs
                (``SUMMAP_STATE_TYPE``); merge concatenates, finalize
                re-sums per key and emits the map as a deterministic
                ``k1:v1|k2:v2`` string sorted by key (map columns break
                row-hash canonicalizers the way arrays do).
    ``k`` / ``reserve``  for ``topk`` (ClickHouse ``topK(k)`` — Filtered
                Space-Saving heavy hitters): the result is the ``k`` most
                frequent values of ``source``; the state is value→count
                pairs capped at ``reserve`` entries (default ``4*k``,
                ClickHouse's ``load_factor=3`` analog). Per-batch
                truncation keeps the highest-count entries, so like
                ClickHouse's the result is APPROXIMATE once a group's
                per-batch distinct count exceeds ``reserve`` — and exact
                below it (the oracle-able regime). Ties break on the
                smaller value, deterministically. State entry counts are
                batch-local counts, so states from disjoint batches merge
                by re-summing per value — the same lazy-merge contract as
                every other kind here. Result is ``array<source type>``
                ordered by descending frequency.
    """

    name: str
    kind: str
    source: str | Column = field(default="1")
    cond: str | Column | None = None
    order_by: str | Column | None = None
    level: float = 0.5
    k: int = 10
    reserve: int = 0  # 0 → 4*k
    alpha: float = 0.01
    lg_k: int = HLL_LG_K  # uniq: HLL precision (2^lg_k registers; CH uniqCombined(K) analog)
    weight: str | Column = "1"
    representation: str = "array"
    value_type: str = "bigint"
    order_type: str = "bigint"

    def __post_init__(self):
        if self.kind not in KINDS:
            raise ValueError(f"unknown metric kind {self.kind!r}; expected one of {KINDS}")
        if self.kind == "topk" and self.k < 1:
            raise ValueError(f"{self.name}: topk needs k >= 1, got {self.k}")
        if self.representation not in ("array", "roaring"):
            raise ValueError(
                f"{self.name}: representation must be 'array' or 'roaring'"
            )
        if self.representation == "roaring" and self.kind != "bitmap":
            raise ValueError(
                f"{self.name}: representation='roaring' only applies to kind='bitmap'"
            )

    @property
    def _roaring(self) -> bool:
        return self.kind == "bitmap" and self.representation == "roaring"

    @property
    def topk_reserve(self) -> int:
        """State cap for ``topk`` (ClickHouse FSS reserves ~load_factor·k
        counters; load_factor defaults to 3, we use 4)."""
        return self.reserve if self.reserve else 4 * self.k

    # -- input with the -If combinator applied --------------------------------
    def _input(self) -> Column:
        src = _as_col(self.source)
        if self.cond is None:
            return src
        # when() without otherwise() yields NULL, the neutral element for
        # every Spark aggregate used here (sketches, sums, collect_*).
        return F.when(_as_col(self.cond), src)

    # -- relational pre-count path (value→count state kinds) ------------------
    # These kinds hold (value, count/sum) entries; building them via
    # collect_list(raw row) puts an O(rows) array through an
    # ObjectHashAggregate. The scale path (build_states, resum_states)
    # instead pre-aggregates with a fully-codegen groupBy(dims, value)
    # and collects the already-compact per-value rows — state size is
    # O(distinct values) (quantile/summap), O(occupied log-buckets)
    # (quantile_sketch), or O(reserve) (topk) per group regardless of
    # batch size.
    PRECOUNT_KINDS = ("topk", "quantile", "quantile_sketch", "summap")

    def precount_value(self) -> Column:
        """The value a row adds an entry for, NULL where the row fails
        the -If condition (or has no value): it then adds none."""
        x = self._input()
        if self.kind == "topk":
            return x
        if self.kind == "summap":
            return x.cast("string")
        if self.kind == "quantile":
            return x.cast("long")
        if self.kind == "quantile_sketch":
            return dd_bucket(x, self.alpha)
        raise AssertionError(self.kind)

    def precount_weight(self) -> Column:
        """The weight a row adds to its value's entry: ``weight`` for
        ``summap``, ``quantile`` (ClickHouse quantileExactWeighted) and
        ``topk`` (``topKWeighted(k)(x, w)``; the default "1" is the
        plain count), 1 for ``quantile_sketch``."""
        if self.kind == "quantile_sketch":
            return F.lit(1).cast("long")
        return _as_col(self.weight).cast("long")

    @property
    def entry_key(self) -> str:
        """Field naming the value of a value→count state's entries."""
        return "k" if self.kind == "summap" else "v"

    def state_from_counts(self, v: Column, c: Column) -> Column:
        """Aggregate expression building the state from pre-counted
        (value, count/sum) rows; use under ``groupBy(dims)``. A row
        whose value is NULL adds no entry, and a group with no entry
        gets a NULL state, the merge-neutral one. Entries come out
        sorted by value; ``topk`` keeps the ``reserve`` highest counts,
        ties broken on the smaller value (the Space-Saving
        truncation)."""
        if self.kind not in self.PRECOUNT_KINDS:
            raise AssertionError(self.kind)
        c = c.cast("long")
        topk = self.kind == "topk"
        pair = (F.struct((-c).alias("nc"), v.alias("v")) if topk
                else F.struct(v.alias(self.entry_key), c.alias("c")))
        entries = F.collect_list(F.when(v.isNotNull(), pair))
        if topk:
            state = F.transform(
                F.slice(F.sort_array(entries), 1, self.topk_reserve),
                lambda s: F.struct(s["v"].alias("v"), (-s["nc"]).alias("c")),
            )
        else:
            state = F.sort_array(entries).cast(
                SUMMAP_STATE_TYPE if self.kind == "summap" else QUANTILE_STATE_TYPE
            )
        return F.when(F.size(entries) > 0, state).alias(self.name)

    # -- partial: raw rows -> state (the reference's -State) ------------------
    def partial(self) -> Column:
        x = self._input()
        if self.kind == "uniq":
            return F.hll_sketch_agg(x, F.lit(self.lg_k)).alias(self.name)
        if self.kind == "uniq_theta":
            # Datasketches Theta: like HLL a bounded-size mergeable
            # distinct state, but supporting approximate set ALGEBRA
            # (theta_intersection / theta_difference) — the approximate
            # counterpart of the exact bitmap funnel at cardinalities
            # where even roaring states are too big
            return F.theta_sketch_agg(x, F.lit(self.lg_k)).alias(self.name)
        if self.kind == "quantile_kll":
            # Datasketches KLL over doubles: mergeable rank sketch with
            # a priori error bounds; the JVM-native alternative to the
            # expression-level DDSketch kind (which needs integral
            # inputs and has an exact oracle; KLL takes raw doubles)
            return F.kll_sketch_agg_double(x.cast("double")).alias(self.name)
        if self.kind == "uniq_exact":
            # exact distinct keeps the value set as its state (uniqExact is
            # discouraged by the reference for the same memory reason,
            # docs/物化视图的实战经验分享.md:305)
            return F.sort_array(F.collect_set(x)).alias(self.name)
        if self.kind == "sum":
            return F.sum(x).alias(self.name)
        if self.kind == "count":
            return F.count(x).alias(self.name)
        if self.kind == "min":
            return F.min(x).alias(self.name)
        if self.kind == "max":
            return F.max(x).alias(self.name)
        if self.kind == "avg":
            # mergeable avg state = (sum, count) struct
            return F.struct(
                F.sum(x).alias("s"), F.count(x).alias("c")
            ).alias(self.name)
        if self.kind == "median":
            return F.collect_list(x).alias(self.name)
        if self.kind in self.PRECOUNT_KINDS:
            # One-expression fallback: one (value, weight) entry per row,
            # uncapped, so O(rows) per state. build_states pre-counts to
            # one entry per value (topk: the reserve highest), and
            # merge_states re-sums either form.
            v = self.precount_value()
            pair = F.struct(v.alias(self.entry_key), self.precount_weight().alias("c"))
            state = F.collect_list(F.when(v.isNotNull(), pair))
            if self.kind != "topk":
                state = state.cast(
                    SUMMAP_STATE_TYPE if self.kind == "summap" else QUANTILE_STATE_TYPE
                )
            return state.alias(self.name)
        if self.kind == "bitmap":
            if self._roaring:
                from clickhouse_learning_spark.functions import roaring

                return roaring.partial_state(x).alias(self.name)
            return F.sort_array(F.collect_set(x)).alias(self.name)
        if self.kind in ("argmax", "argmin"):
            if self.order_by is None:
                raise ValueError(f"{self.name}: kind {self.kind} requires order_by")
            ordc = _as_col(self.order_by)
            if self.cond is not None:
                # gate the whole struct (NULL struct = neutral for max/min)
                pair = F.when(_as_col(self.cond), F.struct(ordc.alias("o"), x.alias("v")))
            else:
                pair = F.struct(ordc.alias("o"), _as_col(self.source).alias("v"))
            agg = F.max if self.kind == "argmax" else F.min
            return agg(pair).alias(self.name)
        raise AssertionError(self.kind)

    # -- merge: state -> state (the reference's -MergeState) ------------------
    def merge(self, col: str | Column | None = None) -> Column:
        c = _as_col(col) if col is not None else F.col(self.name)
        if self.kind == "uniq":
            return F.hll_union_agg(c, F.lit(True)).alias(self.name)
        if self.kind == "uniq_theta":
            return F.theta_union_agg(c).alias(self.name)
        if self.kind == "quantile_kll":
            # Spark exposes KLL merge only as a BINARY scalar — fold it
            # over the collected states (state count per group = number
            # of unmerged batches, small by construction, so the
            # interpreted fold runs over a short list)
            lst = F.collect_list(c)
            init = F.get(lst, 0)
            rest = F.slice(lst, 2, F.greatest(F.size(lst) - 1, F.lit(0)))
            return F.aggregate(
                rest, init, lambda acc, x: F.kll_sketch_merge_double(acc, x)
            ).alias(self.name)
        if self.kind in ("uniq_exact", "bitmap"):
            if self._roaring:
                from clickhouse_learning_spark.functions import roaring

                return roaring.merge_state(c).alias(self.name)
            return F.sort_array(_union(c)).alias(self.name)
        if self.kind in ("sum", "count"):
            return F.sum(c).alias(self.name)
        if self.kind == "min":
            return F.min(c).alias(self.name)
        if self.kind == "max":
            return F.max(c).alias(self.name)
        if self.kind == "avg":
            return F.struct(
                F.sum(c.getField("s")).alias("s"), F.sum(c.getField("c")).alias("c")
            ).alias(self.name)
        if self.kind in ("median", "quantile", "quantile_sketch", "topk", "summap"):
            return F.flatten(F.collect_list(c)).alias(self.name)
        if self.kind == "argmax":
            return F.max(c).alias(self.name)
        if self.kind == "argmin":
            return F.min(c).alias(self.name)
        raise AssertionError(self.kind)

    # -- finalize: merged state -> value (the reference's -Merge) -------------
    def finalize(self, col: str | Column | None = None) -> Column:
        c = _as_col(col) if col is not None else F.col(self.name)
        if self.kind == "uniq":
            # ClickHouse uniqCombinedIf yields 0 on empty input
            return F.coalesce(F.hll_sketch_estimate(c), F.lit(0)).alias(self.name)
        if self.kind == "uniq_theta":
            return F.coalesce(
                F.round(F.theta_sketch_estimate(c)).cast("long"), F.lit(0)
            ).alias(self.name)
        if self.kind == "quantile_kll":
            # no row passed -If → the agg still emits a VALID empty
            # sketch (8-byte header, n=0) whose quantile accessor
            # throws; gate on the sketch's row count → NULL, matching
            # SQL quantile-over-no-rows
            return F.when(
                c.isNotNull() & (F.kll_sketch_get_n_bigint(c) > 0),
                F.kll_sketch_get_quantile_double(c, F.lit(float(self.level))),
            ).alias(self.name)
        if self.kind in ("uniq_exact", "bitmap"):
            if self._roaring:
                from clickhouse_learning_spark.functions import roaring

                return roaring.finalize_cardinality(c).alias(self.name)
            return F.coalesce(F.size(c), F.lit(0)).alias(self.name)
        if self.kind in ("sum", "count"):
            # ClickHouse sumIf/countIf yield 0 (not NULL) when no row matches
            return F.coalesce(c, F.lit(0)).alias(self.name)
        if self.kind in ("min", "max"):
            return c.alias(self.name)
        if self.kind == "avg":
            return (c.getField("s") / c.getField("c")).alias(self.name)
        if self.kind == "median":
            return array_median(c).alias(self.name)
        if self.kind == "quantile":
            return weighted_quantile(c, self.level).alias(self.name)
        if self.kind == "quantile_sketch":
            return dd_value(weighted_quantile(c, self.level), self.alpha).alias(self.name)
        if self.kind == "topk":
            return topk_from_state(c, self.k).alias(self.name)
        if self.kind == "summap":
            return summap_from_state(c).alias(self.name)
        if self.kind in ("argmax", "argmin"):
            return c.getField("v").alias(self.name)
        raise AssertionError(self.kind)

    def merged_finalized(self, col: str | Column | None = None) -> Column:
        """merge + finalize in one aggregate expression (query-time path —
        queries must always finalize with -Merge regardless of compaction
        state, docs/物化视图的实战经验分享.md:934-996)."""
        name = self.name
        if self.kind in ("uniq_exact", "bitmap") and not self._roaring:
            # a cardinality needs no order: skip the merge's sort
            c = _as_col(col) if col is not None else F.col(name)
            return F.coalesce(F.size(_union(c)), F.lit(0)).alias(name)
        m = self.merge(col)
        return self.finalize(m).alias(name)

    def neutral(self) -> Column:
        """Neutral ("empty") state for union-merging wide tables whose
        writers fill disjoint metric columns
        (/root/reference/docs/物化视图的实战经验分享.md:822-828)."""
        if self.kind in ("uniq", "uniq_theta", "quantile_kll"):
            return F.lit(None).cast("binary").alias(self.name)
        if self.kind == "bitmap" and self._roaring:
            return F.lit(None).cast("binary").alias(self.name)
        if self.kind in ("uniq_exact", "bitmap"):
            return F.lit(None).cast("array<bigint>").alias(self.name)
        if self.kind == "median":
            return F.lit(None).cast("array<bigint>").alias(self.name)
        if self.kind in ("quantile", "quantile_sketch"):
            return F.lit(None).cast(QUANTILE_STATE_TYPE).alias(self.name)
        if self.kind == "summap":
            return F.lit(None).cast(SUMMAP_STATE_TYPE).alias(self.name)
        if self.kind == "avg":
            return F.lit(None).cast("struct<s:double,c:bigint>").alias(self.name)
        if self.kind in ("argmax", "argmin"):
            # NULL struct (not struct-of-NULLs) = neutral for max/min;
            # field types come from the declared order_type/value_type
            return (
                F.lit(None)
                .cast(f"struct<o:{self.order_type},v:{self.value_type}>")
                .alias(self.name)
            )
        if self.kind == "topk":
            return (
                F.lit(None)
                .cast(f"array<struct<v:{self.value_type},c:bigint>>")
                .alias(self.name)
            )
        return F.lit(None).cast("bigint").alias(self.name)


def uniq_tuple(*cols: str | Column) -> Column:
    """Multi-argument distinct input — ClickHouse ``uniqCombined(a, b)``
    hashes the argument tuple (docs/物化视图的实战经验分享.md:179-184).
    Use as the ``source`` of a ``uniq``/``uniq_exact``/``bitmap``
    MetricSpec: ``MetricSpec("uv", "uniq", uniq_tuple("uid", "platform"))``.
    xxhash64 over the struct gives a 64-bit tuple hash (collision odds
    ~n²/2⁶⁵ — the same regime ClickHouse's 64-bit string hashing
    accepts, docs/…md:306-313)."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.xxhash64(F.struct(*cs))


# State sorts use ``sort_array``, never the one-argument ``array_sort``:
# Spark plans the latter with an interpreted comparator lambda, and
# subexpression elimination skips any expression holding a lambda, so
# every use of a sorted state would sort it again. The two differ only
# in where NULL elements go (first vs last), and state arrays hold none:
# collect_list/collect_set skip NULLs and pairs are gated on a non-NULL
# value.

def _union(c: Column) -> Column:
    """Aggregate expression: the distinct elements of the id-set states
    ``c``, unordered."""
    return F.array_distinct(F.flatten(F.collect_list(c)))


def array_median(c: Column) -> Column:
    """Exact median of an array<numeric> column, JVM-side.

    Interpolated for even counts (matches Spark's ``median``/DuckDB's
    ``median`` on numerics; ClickHouse ``medianExact`` takes the
    upper-middle element — use :func:`array_median_exact_low` for that
    variant).
    """
    sorted_ = F.sort_array(c)
    n = F.size(c)
    # get is 0-based and NULL out of range; for odd n both indices equal
    # (n-1)/2. An empty or NULL state (every row failed the -If
    # condition) → NULL, matching SQL median over no rows. No when():
    # a subexpression only in a branch value is not shared, and the
    # sort would run once per read.
    lo_i = (F.floor((n + F.lit(1)) / 2) - 1).cast("int")
    hi_i = (F.ceil((n + F.lit(1)) / 2) - 1).cast("int")
    return (F.get(sorted_, lo_i) + F.get(sorted_, hi_i)) / 2.0


def array_median_exact_low(c: Column) -> Column:
    """ClickHouse medianExact semantics: element at index ⌈n/2⌉ (1-based)
    of the sorted values — no interpolation
    (ClickHouse quantileExact, used at
    /root/reference/scripts/sql/dwm.mainpage_stat_mv_dis.sql:83).
    An empty or NULL state → NULL."""
    return F.get(F.sort_array(c), F.floor(F.size(c) / 2).cast("int"))


def weighted_quantile(c: Column, level: float = 0.5) -> Column:
    """Discrete quantile of a value→count state array
    (``QUANTILE_STATE_TYPE``): the smallest ``v`` whose cumulative count
    reaches ``max(1, ceil(level·total))`` — ClickHouse
    ``quantileExactWeighted`` / DuckDB ``quantile_disc`` semantics, exact.

    Runs once per finalized group, on the query path, over an array
    bounded by the number of distinct values (post-compaction). The two
    ``aggregate`` folds are interpreted (``CodegenFallback``), and
    subexpression elimination does not look inside them, so they cannot
    share a sort: ``total`` folds the unsorted array and only the walk
    sorts it, once. The target rank rides in the fold's start value so
    the walk stays O(n) (an outer-expression reference inside the lambda
    would be re-evaluated per element).

    Duplicate ``v`` entries (states merged but not yet compacted) are
    handled: the array is sorted by ``v``, and the cumulative walk
    crosses the target inside the run at the same ``v``.
    """
    total = F.aggregate(c, F.lit(0).cast("long"), lambda a, s: a + s["c"])
    target = F.greatest(
        F.ceil(F.lit(float(level)) * total).cast("long"), F.lit(1).cast("long")
    )
    zero = F.struct(
        F.lit(0).cast("long").alias("cum"),
        target.alias("tgt"),
        F.lit(None).cast("bigint").alias("ans"),
    )
    walk = F.aggregate(
        F.sort_array(c),
        zero,
        lambda acc, s: F.struct(
            (acc["cum"] + s["c"]).alias("cum"),
            acc["tgt"].alias("tgt"),
            F.coalesce(
                acc["ans"], F.when(acc["cum"] + s["c"] >= acc["tgt"], s["v"])
            ).alias("ans"),
        ),
    )
    return F.when(total > 0, walk["ans"])


def dd_gamma(alpha: float) -> float:
    return (1.0 + alpha) / (1.0 - alpha)


def dd_bucket(c: Column, alpha: float = 0.01) -> Column:
    """DDSketch log bucket: ⌈ln(x)/ln(γ)⌉ for x > 0, the dedicated zero
    bucket for other values, NULL for NULL (it adds no entry). γ is
    computed once driver-side and inlined so Spark and the SQL oracle
    share the identical double constant."""
    g = dd_gamma(alpha)
    return (
        F.when(c > 0, F.ceil(F.log(c.cast("double")) / F.lit(math.log(g))))
        .when(c.isNotNull(), F.lit(DD_ZERO_BUCKET))
        .cast("long")
    )


def dd_value(b: Column, alpha: float = 0.01) -> Column:
    """Representative value of a DDSketch bucket: the midpoint
    2γ^b/(γ+1) of (γ^(b-1), γ^b]; 0.0 for the zero bucket. Rounded to 4
    decimals so cross-engine pow() last-ulp noise can't flip the oracle
    hash."""
    g = dd_gamma(alpha)
    rep = F.lit(2.0) * F.pow(F.lit(g), b.cast("double")) / F.lit(g + 1.0)
    return F.round(F.when(b == DD_ZERO_BUCKET, F.lit(0.0)).otherwise(rep), 4)


def _resum_entries(c: Column, key: str) -> Column:
    """The entries of a value→count state array re-summed per ``key``
    field (states merged but not yet compacted carry one entry per
    batch), sorted by ``key``.

    An O(n²) higher-order expression over the state array, run once
    per finalized group on the query path — n is bounded by
    writers·reserve for ``topk`` and writers·distinct keys for
    ``summap`` (one writer's worth after compaction); the per-row write
    path never runs it. The array is sorted once, for the outer walk:
    the per-entry sum filters the unsorted ``c``, because an outer
    expression inside a lambda is re-evaluated per element."""
    return F.array_distinct(
        F.transform(
            F.sort_array(c),
            lambda s: F.struct(
                s[key].alias(key),
                F.aggregate(
                    F.filter(c, lambda t: t[key] == s[key]),
                    F.lit(0).cast("long"),
                    lambda a, t: a + t["c"],
                ).alias("c"),
            ),
        )
    )


def topk_from_state(c: Column, k: int) -> Column:
    """Finalize a ``topk`` value→count state: re-sum duplicate values,
    then take the ``k`` highest-count values, ties broken on the smaller
    value. Returns ``array<source type>`` ordered most-frequent-first;
    empty array on empty input (ClickHouse ``topK`` does the same)."""
    ranked = F.sort_array(
        F.transform(
            _resum_entries(c, "v"),
            lambda s: F.struct((-s["c"]).alias("nc"), s["v"].alias("v")),
        )
    )
    return F.transform(F.slice(ranked, 1, k), lambda s: s["v"])


def summap_from_state(c: Column) -> Column:
    """Finalize a ``summap`` key→sum state: re-sum duplicate keys and
    emit ``k1:v1|k2:v2`` sorted by key — ClickHouse ``sumMap``'s sorted
    key/value arrays, flattened to a canonicalizer-safe string. NULL
    state (no row passed the -If filter) → empty string, matching
    sumMap's empty map."""
    return F.coalesce(
        F.array_join(
            F.transform(
                _resum_entries(c, "k"), lambda s: F.concat_ws(":", s["k"], s["c"])
            ),
            "|",
        ),
        F.lit(""),
    )


def _join_on_dims(base, states, dims):
    """``base`` left-joined with the state columns of ``states`` on
    ``dims``. NULL-safe: dims added by with_dimension are NULL for older
    rows, and such a key must still find its states."""
    keyed = states.select(
        *[F.col(d).alias(f"_k_{d}") for d in dims],
        *[c for c in states.columns if c not in dims],
    )
    cond = functools.reduce(
        operator.and_, [base[d].eqNullSafe(keyed[f"_k_{d}"]) for d in dims]
    )
    return base.join(keyed, cond, "left").drop(*[f"_k_{d}" for d in dims])


def _entry(types: dict, field: str | None = None, v: Column | None = None,
           w: Column | None = None) -> Column:
    """One row of the long frame: value ``v`` in the value field
    ``field``, a typed NULL in every other field of ``types`` (field →
    type), and weight ``_w``. With no field it is the all-NULL row,
    which keeps its dims key in the frame and adds no entry."""
    return F.struct(
        *[(v if f == field else F.lit(None).cast(t)).alias(f) for f, t in types.items()],
        (F.lit(None).cast("long") if w is None else w).alias("_w"),
    )


def _counted_states(rows, dims, metrics, fields, base=None):
    """The value→count ``metrics``' states, one row per ``dims`` key of
    the long frame ``rows`` (``dims``, value fields, ``_w``): one
    ``groupBy(dims, fields…)`` sums the weights per value, and one
    ``groupBy(dims)`` builds every state from its field (``fields``:
    metric name → field). Joined once onto ``base``, the plain kinds'
    frame, when there is one."""
    counts = rows.groupBy(*dims, *dict.fromkeys(fields.values())).agg(
        F.sum("_w").alias("_c")
    )
    states = counts.groupBy(*dims).agg(
        *[m.state_from_counts(F.col(fields[m.name]), F.col("_c")) for m in metrics]
    )
    return states if base is None else _join_on_dims(base, states, dims)


def build_states(batch, dims, metrics):
    """Aggregate one batch of raw rows to one state row per ``dims`` key
    (the -State half of the combinator algebra) — the shared write path
    of MaterializedView.materialize_batch and the state-building
    queries.

    Plain kinds aggregate in ONE groupBy (one shuffle, map-side
    partials). Value→count kinds (``MetricSpec.PRECOUNT_KINDS``) take
    the pre-count pass over the same batch: every row becomes one long
    row per distinct (value, weight) source, whose value is NULL where
    the row fails the -If condition, so every dims key of the batch
    survives and a key with no entry gets a NULL state. The states are
    built by :func:`_counted_states` and joined to the plain frame
    once. Keeping them out of the main groupBy also keeps it codegen:
    one collect_* in an aggregate forces ObjectHashAggregate and evicts
    every sibling expression from whole-stage codegen."""
    plain = [m for m in metrics if m.kind not in MetricSpec.PRECOUNT_KINDS]
    counted = [m for m in metrics if m.kind in MetricSpec.PRECOUNT_KINDS]
    out = batch.groupBy(*dims).agg(*[m.partial() for m in plain]) if plain else None
    if counted:
        # one field per (value, weight) source: p50 and p90 of one
        # column read the same rows
        sources, leads, fields = {}, {}, {}
        for m in counted:
            key = (str(m.precount_value()), str(m.precount_weight()))
            fields[m.name] = sources.setdefault(key, f"_v{len(sources)}")
            leads.setdefault(fields[m.name], m)
        types = {f.name: f.dataType for f in batch.select(
            *[m.precount_value().alias(f) for f, m in leads.items()]).schema}
        rows = batch.select(*dims, F.inline(F.array(*[
            _entry(types, f, m.precount_value(), m.precount_weight())
            for f, m in leads.items()
        ])))
        out = _counted_states(rows, dims, counted, fields, out)
    # preserve declared metric order for a stable storage schema
    return out.select(*dims, *[m.name for m in metrics])


def resum_states(states, base, dims, metrics):
    """The value→count ``metrics`` of ``states`` merged per ``dims`` key,
    joined onto ``base`` (one row per key, or None): every entry of
    every such state becomes one long row, field per metric, with one
    all-NULL row per stored row to keep its key, and
    :func:`_counted_states` re-sums them to one entry per value, as
    :func:`build_states` builds them (``topk`` re-truncates to its
    reserve). The stored frame is read once, whatever the number of
    metrics. A key with no entry gets ``[]``, as merging its empty or
    NULL states does."""
    types = dict(states.dtypes)
    fields = {m.name: f"_v{i}" for i, m in enumerate(metrics)}
    values = {
        fields[m.name]: states.schema[m.name].dataType.elementType[m.entry_key].dataType
        for m in metrics
    }
    keep = F.array(_entry(values))
    rows = states.select(*dims, F.inline(F.concat(keep, *[
        F.coalesce(F.transform(m.name, lambda e: _entry(
            values, fields[m.name], e[m.entry_key], e["c"])), keep)
        for m in metrics
    ])))
    return _counted_states(rows, dims, metrics, fields, base).withColumns(
        {m.name: F.coalesce(m.name, F.array().cast(types[m.name])) for m in metrics}
    )


# -- bitmap set algebra (the reference's bitmapAnd / bitmapOr / cardinality,
#    /root/reference/scripts/sql/dwm.mainpage_stat_mv_dis.sql:280-290) --------

def theta_and(a: Column, b: Column) -> Column:
    """Approximate set intersection over ``uniq_theta`` states — the
    sketch counterpart of bitmapAnd for cardinalities where exact id
    sets (even roaring) are too big."""
    return F.theta_intersection(a, b)


def theta_cardinality(a: Column) -> Column:
    return F.coalesce(F.round(F.theta_sketch_estimate(a)).cast("long"), F.lit(0))


def bitmap_and(a: Column, b: Column) -> Column:
    return F.array_intersect(a, b)


def bitmap_or(a: Column, b: Column) -> Column:
    return F.array_union(a, b)


def bitmap_and_cardinality(a: Column, b: Column) -> Column:
    return F.size(F.array_intersect(a, b))


def bitmap_cardinality(a: Column) -> Column:
    return F.size(a)
