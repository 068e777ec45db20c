"""ClickHouse DDL translation: reference CREATE statements → engine objects.

Completes the dialect shim (functions/dialect.py) on the DDL side: a
user can paste the reference's ``create table`` / ``create materialized
view`` statements (e.g. /root/reference/scripts/sql/ods.action_001_dis.sql)
and get working engine objects:

- :func:`parse_create_table` → :class:`TableSpec` (typed schema,
  partition key, sort key, TTL, per-column default expressions);
- :meth:`TableSpec.table` → a :class:`~clickhouse_learning_spark.tables.Table`
  with the same partitioning / sort-key / retention behavior;
- :meth:`TableSpec.apply_defaults` → the insert path's server-side
  default materialization (``day Date default toDate(second)`` becomes a
  ``withColumn`` derivation, SURVEY P7) with columns cast to the mapped
  Spark types;
- :func:`parse_create_mv` → the MV's target table + its SELECT already
  translated to Spark SQL (combinators → state expressions), ready for
  ``spark.sql`` over a registered batch view or a ``foreachBatch`` body.

Engine clauses (Replicated*/Distributed/ZK paths/SETTINGS) are parsed
and recorded but intentionally have no Spark-side effect: a DataFrame is
already distributed, replication belongs to the storage layer
(SURVEY §1.1), and ``index_granularity`` maps to parquet row-group
sizing, not a per-table knob.

Type mapping follows SURVEY §1.2; aggregate-state columns map to the
same state encodings MetricSpec writes (HLL → binary, sums → plain
longs, medianExact → array<bigint>, groupBitmap → array<bigint>).
"""

from __future__ import annotations

import datetime as dt
import re
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_learning_spark.functions.dialect import _split_args, translate
from clickhouse_learning_spark.streaming.epochs import commit_epoch
from clickhouse_learning_spark.tables import Table

_SIMPLE_TYPES: dict[str, T.DataType] = {
    "Date": T.DateType(),
    "DateTime": T.TimestampType(),
    "String": T.StringType(),
    "UInt64": T.LongType(),  # ≥2^63 unsupported; reference stays ≤2e8 (SURVEY §1.2)
    "UInt32": T.LongType(),
    "Int64": T.LongType(),
    "Int32": T.IntegerType(),
    "UInt16": T.IntegerType(),
    "Int16": T.ShortType(),
    "UInt8": T.ShortType(),
    "Int8": T.ShortType(),
    "Float64": T.DoubleType(),
    "Float32": T.FloatType(),
    "Bool": T.BooleanType(),
    "Date32": T.DateType(),
    "UUID": T.StringType(),  # canonical 36-char form
    "IPv4": T.StringType(),
    "IPv6": T.StringType(),
    "Int128": T.DecimalType(38, 0),
    "UInt128": T.DecimalType(38, 0),
    "JSON": T.StringType(),  # query via get_json_object/from_json
}

_STATE_TYPES: dict[str, T.DataType] = {
    "uniqCombined": T.BinaryType(),  # Datasketches HLL bytes
    "uniq": T.BinaryType(),
    "medianExact": T.ArrayType(T.LongType()),
    "quantileExact": T.ArrayType(T.LongType()),
    "groupBitmap": T.ArrayType(T.LongType()),  # sorted exact id-set
    "sum": T.LongType(),  # plain-value sum state (docs/…md:510-551)
}


def _map_type(ch_type: str) -> T.DataType:
    """Full ClickHouse type system → Spark (SURVEY §1.2 plus the
    wrappers/containers a real pasted DDL uses).

    Nullability: Spark columns are nullable throughout (the engine's
    StructFields are created nullable), so ``Nullable(T)`` maps to T
    and non-Nullable adds no constraint — ClickHouse's NOT-NULL-with-
    type-default semantics is reproduced on the insert path by
    apply_defaults, not by the schema. ``LowCardinality`` is a
    dictionary-encoding hint; parquet dictionary-encodes on its own.
    """
    ch_type = ch_type.strip()
    m = re.match(r"(Simple)?AggregateFunction\s*\((.*)\)$", ch_type)
    if m:
        parts = _split_args(m.group(2))
        fn = parts[0].strip()
        args = [p.strip() for p in parts[1:]]
        if fn in _STATE_TYPES:
            return _STATE_TYPES[fn]
        # parametric state encodings follow MetricSpec.partial's shapes
        if fn in ("min", "max", "any", "anyLast") and args:
            return _map_type(args[0])  # state == value
        if fn == "count":
            return T.LongType()
        if fn == "avg" and args:
            return T.StructType(  # (sum, count), metrics.py:321
                [
                    T.StructField("s", _map_type(args[0]), True),
                    T.StructField("c", T.LongType(), True),
                ]
            )
        if fn in ("argMax", "argMin") and len(args) == 2:
            return T.StructType(  # (order, value), metrics.py:376
                [
                    T.StructField("o", _map_type(args[1]), True),
                    T.StructField("v", _map_type(args[0]), True),
                ]
            )
        if fn in ("quantileExactWeighted", "topK") and args:
            return T.ArrayType(  # value→count pairs, metrics.py:283
                T.StructType(
                    [
                        T.StructField("v", _map_type(args[0]), True),
                        T.StructField("c", T.LongType(), True),
                    ]
                )
            )
        if fn == "sumMap" and len(args) == 2:
            return T.MapType(_map_type(args[0]), _map_type(args[1]))
        if fn in ("groupArray", "groupUniqArray") and args:
            return T.ArrayType(_map_type(args[0]))
        if fn == "uniqTheta":
            return T.BinaryType()
        raise ValueError(f"unmapped aggregate state type: {ch_type!r}")
    for wrapper in ("Nullable", "LowCardinality"):
        m = re.match(rf"{wrapper}\s*\((.*)\)$", ch_type)
        if m:
            return _map_type(m.group(1))
    m = re.match(r"Array\s*\((.*)\)$", ch_type)
    if m:
        return T.ArrayType(_map_type(m.group(1)))
    m = re.match(r"Map\s*\((.*)\)$", ch_type)
    if m:
        k, v = _split_args(m.group(1))
        return T.MapType(_map_type(k), _map_type(v))
    m = re.match(r"Tuple\s*\((.*)\)$", ch_type)
    if m:
        fields = []
        for i, el in enumerate(_split_args(m.group(1))):
            # named-tuple form `Tuple(a UInt32, b String)`
            nm = re.match(r"([A-Za-z_]\w*)\s+(.+)$", el)
            if nm and not re.match(r"[A-Z]\w*\s*\(", el):
                fields.append(T.StructField(nm.group(1), _map_type(nm.group(2)), True))
            else:
                # unnamed → col1… (matches the dialect's tuple() → struct())
                fields.append(T.StructField(f"col{i + 1}", _map_type(el), True))
        return T.StructType(fields)
    m = re.match(r"Nested\s*\((.*)\)$", ch_type)
    if m:
        # ClickHouse Nested = parallel arrays; the natural Spark shape
        # is array<struct<…>> (explode ≡ ARRAY JOIN of the nested cols)
        inner = [
            T.StructField(
                (p := el.split(None, 1))[0], _map_type(p[1]), True
            )
            for el in _split_args(m.group(1))
        ]
        return T.ArrayType(T.StructType(inner))
    m = re.match(r"Decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$", ch_type)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    m = re.match(r"Decimal(32|64|128)\s*\(\s*(\d+)\s*\)$", ch_type)
    if m:
        precision = {"32": 9, "64": 18, "128": 38}[m.group(1)]
        return T.DecimalType(precision, int(m.group(2)))
    m = re.match(r"DateTime64\s*\(", ch_type)
    if m:
        return T.TimestampNTZType()
    if re.match(r"Enum(8|16)\s*\(", ch_type):
        # enums compare/serialize as their string names in SELECTs
        return T.StringType()
    if re.match(r"FixedString\s*\(\s*\d+\s*\)$", ch_type):
        return T.StringType()
    if ch_type in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[ch_type]
    raise ValueError(f"unmapped ClickHouse type: {ch_type!r}")


@dataclass
class ColumnSpec:
    name: str
    ch_type: str
    spark_type: T.DataType
    default: str | None = None  # translated Spark SQL expression
    comment: str | None = None
    codec: str | None = None  # lz4/zstd family from a CODEC(...) clause


@dataclass
class TableSpec:
    database: str
    name: str
    columns: list[ColumnSpec] = field(default_factory=list)
    partition_by: tuple[str, ...] = ()
    # expression partition keys (`PARTITION BY toYYYYMM(day)`): derived
    # column name → translated Spark SQL expression. The derived column
    # is materialized by apply_defaults and listed in partition_by.
    partition_exprs: dict[str, str] = field(default_factory=dict)
    # columns under a declared skip index (INDEX … TYPE bloom_filter /
    # tokenbf_v1 / set) — mapped to parquet bloom filters
    bloom_index_cols: tuple[str, ...] = ()
    order_by: tuple[str, ...] = ()
    primary_key: tuple[str, ...] = ()
    ttl: dt.timedelta | None = None
    ttl_column: str | None = None
    # table-wide parquet codec lifted from the column CODEC clauses when
    # they unanimously name one LZ4/ZSTD family (None → session zstd)
    codec: str | None = None
    engine: str | None = None
    engine_args: tuple[str, ...] = ()  # e.g. ReplacingMergeTree(ver)
    replacing_version: str | None = None  # → merge_policies.replacing_read
    distributed_over: str | None = None  # set for ENGINE=Distributed proxies

    @property
    def qualified(self) -> str:
        return f"{self.database}.{self.name}" if self.database else self.name

    def schema(self) -> T.StructType:
        return T.StructType(
            [T.StructField(c.name, c.spark_type, True) for c in self.columns]
        )

    def table(self, base_path: str) -> Table:
        """The physical table: PARTITION BY → directory partitioning,
        ORDER BY → sortWithinPartitions clustering (row-group min/max ≈
        sparse PK index)."""
        if self.distributed_over:
            raise ValueError(
                f"{self.qualified} is a Distributed proxy over "
                f"{self.distributed_over}; a DataFrame is already distributed — "
                "instantiate the underlying local table instead"
            )
        return Table(
            path=f"{base_path.rstrip('/')}/{self.database}/{self.name}",
            partition_by=self.partition_by,
            sort_key=self.order_by,
            # a derived partition column's type isn't declared in the
            # DDL — leave the schema unpinned and let reads infer it from
            # the directory layout
            schema=None if self.partition_exprs else self.schema(),
            bloom_filter_cols=self.bloom_index_cols,
            codec=self.codec,
        )

    def apply_defaults(self, df: DataFrame) -> DataFrame:
        """Insert-path default materialization: add each declared column
        missing from ``df`` via its (translated) default expression, and
        cast everything to the mapped Spark type — the server-side half
        of the reference's INSERT (ods.action_001_dis.sql:3-6)."""
        out = df
        for c in self.columns:
            if c.name not in out.columns:
                expr = c.default if c.default is not None else "NULL"
                out = out.withColumn(c.name, F.expr(expr))
        out = out.select(
            *[F.col(c.name).cast(c.spark_type).alias(c.name) for c in self.columns]
        )
        for name, expr in self.partition_exprs.items():
            out = out.withColumn(name, F.expr(expr))
        return out


@dataclass(frozen=True)
class MutationSpec:
    """A parsed ``ALTER TABLE`` mutation — the two MergeTree mutations
    the engine supports natively (tables.py):

    - ``DROP PARTITION <value>`` → :meth:`Table.drop_partitions`
      (metadata-only directory drop);
    - ``DELETE WHERE <cond>`` → :meth:`Table.delete_where`
      (rewrites only partitions containing matches);
    - ``UPDATE c = e, … WHERE <cond>`` → :meth:`Table.update_where`
      (same partition-scoped rewrite; simultaneous old-row assignment).

    ``condition``/``partition`` are kept in both ClickHouse and
    translated-Spark form; :meth:`apply` executes against an
    instantiated :class:`Table`.
    """

    database: str
    name: str
    kind: str  # "drop_partition" | "delete" | "update"
    partition: str | None = None  # literal partition value (drop_partition)
    condition: str | None = None  # translated Spark SQL predicate
    assignments: dict | None = None  # update: column -> translated expr

    @property
    def qualified(self) -> str:
        return f"{self.database}.{self.name}"

    def apply(self, table: Table, spark) -> int:
        if self.kind == "drop_partition":
            return table.drop_partitions(spark, [self.partition])
        if self.kind == "update":
            return table.update_where(spark, self.assignments, self.condition)
        return table.delete_where(spark, self.condition)


def parse_optimize(sql: str) -> tuple[str, str | None]:
    """Parse ``OPTIMIZE TABLE [db.]t [PARTITION 'v'] [FINAL]`` (the
    reference's manual merge trigger, docs/物化视图的实战经验分享.md:954).
    Returns ``(qualified_table, partition_or_None)``; execute with
    ``MaterializedView.compact(spark, partitions=[p] if p else None)``
    (or ``Table.compact``, as ``Deployment.execute`` does). Both rewrite
    only the named partition, through ``Table.rewrite``; PARTITION-
    scoped is the 100 TB form — the whole-table FINAL is for small
    tables."""
    s = _strip_comments(sql).strip().rstrip(";")
    m = re.match(
        r"optimize\s+table\s+([\w.]+)(?:\s+on\s+cluster\s+\S+)?"
        r"(?:\s+partition\s+('[^']*'|\S+))?(?:\s+final)?\s*$",
        s,
        re.I,
    )
    if not m:
        raise ValueError(f"not an OPTIMIZE TABLE statement: {sql[:80]!r}")
    db, name = _qualify(m.group(1))
    part = m.group(2).strip("'\"") if m.group(2) else None
    return (f"{db}.{name}" if db else name), part


def parse_mutation(sql: str) -> MutationSpec:
    """Parse ``ALTER TABLE [db.]t DROP PARTITION 'v'`` /
    ``ALTER TABLE [db.]t DELETE WHERE cond`` (ClickHouse mutation
    syntax; the ON CLUSTER clause is accepted and ignored — Spark owns
    placement)."""
    s = _strip_comments(sql).strip().rstrip(";")
    m = re.match(
        r"alter\s+table\s+([\w.]+)(?:\s+on\s+cluster\s+\S+)?\s+(.*)",
        s,
        re.I | re.S,
    )
    if not m:
        raise ValueError(f"not an ALTER TABLE statement: {sql[:80]!r}")
    db, name = _qualify(m.group(1))
    rest = m.group(2).strip()
    dp = re.match(r"drop\s+partition\s+(.+)$", rest, re.I | re.S)
    if dp:
        part = dp.group(1).strip().strip("'\"")
        return MutationSpec(db, name, "drop_partition", partition=part)
    dl = re.match(r"delete\s+where\s+(.+)$", rest, re.I | re.S)
    if dl:
        return MutationSpec(
            db, name, "delete", condition=translate(dl.group(1).strip())
        )
    up = re.match(r"update\s+(.+?)\s+where\s+(.+)$", rest, re.I | re.S)
    if up:
        assignments: dict[str, str] = {}
        for part in _split_args(up.group(1)):
            am = re.match(r"([A-Za-z_]\w*)\s*=\s*(.+)$", part.strip(), re.S)
            if not am:
                raise ValueError(f"unparseable UPDATE assignment {part!r}")
            assignments[am.group(1)] = translate(am.group(2).strip())
        return MutationSpec(
            db,
            name,
            "update",
            condition=translate(up.group(2).strip()),
            assignments=assignments,
        )
    raise ValueError(
        f"unsupported ALTER mutation {rest[:60]!r}: only DROP PARTITION, "
        "DELETE WHERE and UPDATE … WHERE map onto the engine's "
        "partition-pruned mutations; "
        "ADD/MODIFY COLUMN are schema evolution — use "
        "MaterializedView.with_metric / with_dimension (D5/D6)"
    )


_COMMENT_RE = re.compile(r"--[^\n]*")


def _strip_comments(sql: str) -> str:
    return _COMMENT_RE.sub("", sql)


_PARTITION_BY_RE = re.compile(r"\bpartition\s+by\s+", re.I)
_KEY_CLAUSE_END_RE = re.compile(
    r"\b(order\s+by|primary\s+key|ttl|settings|sample\s+by)\b", re.I
)


def _parse_partition_by(
    tail: str,
) -> tuple[tuple[str, ...] | None, dict[str, str]]:
    """``PARTITION BY`` with expression keys (``toYYYYMM(day)``,
    reference-style month partitioning): each non-identifier element
    becomes a derived column — name ``p_<sanitized-expr>``, value the
    dialect-translated Spark expression — materialized on the insert
    path by :meth:`TableSpec.apply_defaults`. Plain column tuples come
    back with no derived entries, exactly as before."""
    km = _PARTITION_BY_RE.search(tail)
    if km is None:
        return None, {}
    start = km.end()
    if tail[start : start + 1] == "(":
        from clickhouse_learning_spark.functions.dialect import _matching_paren

        end = _matching_paren(tail, start)
        body = tail[start + 1 : end]
    else:
        em = _KEY_CLAUSE_END_RE.search(tail, start)
        body = tail[start : em.start() if em else len(tail)]
    names: list[str] = []
    exprs: dict[str, str] = {}
    for el in _split_args(body):
        if re.fullmatch(r"[A-Za-z_]\w*", el):
            names.append(el)
        else:
            name = "p_" + re.sub(r"\W+", "_", el).strip("_").lower()
            exprs[name] = translate(el)
            names.append(name)
    return tuple(names), exprs


def _key_tuple(expr: str) -> tuple[str, ...]:
    expr = expr.strip()
    if expr.startswith("("):
        expr = expr[1:-1]
    return tuple(p.strip() for p in expr.split(",") if p.strip())


def _parse_ttl(expr: str) -> tuple[str | None, dt.timedelta]:
    """``day + toIntervalDay(10) + toIntervalHour(4)`` → ('day', 10d4h).
    A trailing ``GROUP BY k… SET v = …`` (age-based rollup — ClickHouse
    TTL GROUP BY) is recognized and stripped; execute it with
    mv.engine.rollup_ttl(mv, spark, keep, coarse_dims)."""
    gm = re.search(r"group\s+by", expr, re.I)
    if gm:
        expr = expr[: gm.start()]
    col = None
    delta = dt.timedelta()
    for part in expr.split("+"):
        part = part.strip()
        m = re.match(r"toInterval(Day|Hour|Minute|Second)\s*\(\s*(\d+)\s*\)", part)
        if m:
            unit, n = m.group(1).lower(), int(m.group(2))
            delta += dt.timedelta(**{unit + "s": n})
        elif part and col is None:
            col = part
    return col, delta


def _parse_column(defn: str) -> ColumnSpec:
    defn = defn.strip()
    m = re.match(r"(\w+)\s+(.*)$", defn, re.S)
    if not m:
        raise ValueError(f"unparseable column definition: {defn!r}")
    name, rest = m.group(1), m.group(2).strip()
    # per-column CODEC(ZSTD/LZ4/Delta…): parquet compression is per
    # table write, not per column, so the LZ4/ZSTD family (if any) is
    # recorded on the ColumnSpec — parse_create_table lifts a unanimous
    # family to Table.codec — and the clause itself is dropped (Delta/
    # DoubleDelta/Gorilla transforms are subsumed by parquet encodings)
    codec = None
    cm0 = re.search(
        r"\scodec\s*\(((?:[^()]|\([^()]*\))*)\)", rest, re.I
    )
    if cm0:
        fam = re.search(r"\b(lz4|zstd)\b", cm0.group(1), re.I)
        if fam:
            codec = fam.group(1).lower()
    rest = re.sub(r"\s*codec\s*\((?:[^()]|\([^()]*\))*\)", "", rest, flags=re.I)
    comment = None
    cm = re.search(r"\bcomment\s+'((?:[^']|'')*)'\s*$", rest, re.I)
    if cm:
        comment = cm.group(1)
        rest = rest[: cm.start()].strip()
    default = None
    dm = re.search(r"\bdefault\b", rest, re.I)
    if dm:
        default = translate(rest[dm.end() :].strip())
        rest = rest[: dm.start()].strip()
    return ColumnSpec(
        name=name,
        ch_type=rest,
        spark_type=_map_type(rest),
        default=default,
        comment=comment,
        codec=codec,
    )


def _qualify(name: str) -> tuple[str, str]:
    if "." in name:
        db, tbl = name.split(".", 1)
        return db, tbl
    return "", name


def parse_create_table(sql: str) -> TableSpec:
    """Parse one ``create table`` statement (the reference's MergeTree /
    AggregatingMergeTree / Distributed shapes)."""
    s = _strip_comments(sql).strip().rstrip(";").strip()
    m = re.match(
        r"create\s+table\s+([\w.]+)\s*(?:on\s+cluster\s+\w+\s*)?", s, re.I
    )
    if not m:
        raise ValueError("not a CREATE TABLE statement")
    db, name = _qualify(m.group(1))
    spec = TableSpec(database=db, name=name)
    rest = s[m.end() :].lstrip()

    # Distributed proxy: create table X as Y engine=Distributed(...)
    am = re.match(r"as\s+([\w.]+)\s*engine\s*=\s*Distributed", rest, re.I)
    if am:
        spec.distributed_over = am.group(1)
        spec.engine = "Distributed"
        return spec

    if not rest.startswith("("):
        raise ValueError(f"expected column list after table name in {name!r}")
    depth, i = 0, 0
    while i < len(rest):
        if rest[i] == "(":
            depth += 1
        elif rest[i] == ")":
            depth -= 1
            if depth == 0:
                break
        i += 1
    body, tail = rest[1:i], rest[i + 1 :]
    # ClickHouse skip indexes live inside the column list:
    # `INDEX name expr TYPE bloom_filter[(fpp)] GRANULARITY g` →
    # parquet bloom filters on the indexed column (Table.bloom_filter_cols);
    # minmax indexes are subsumed by the sort-key row-group stats.
    elements = _split_args(body)
    for el in elements:
        im = re.match(
            r"index\s+\w+\s+(\w+)\s+type\s+(\w+)", el.strip(), re.I
        )
        if im and im.group(2).lower() in ("bloom_filter", "tokenbf_v1", "set"):
            spec.bloom_index_cols += (im.group(1),)
    spec.columns = [
        _parse_column(c)
        for c in elements
        if not re.match(r"index\s", c.strip(), re.I)
    ]
    fams = {c.codec for c in spec.columns if c.codec}
    if len(fams) == 1:
        spec.codec = fams.pop()

    em = re.search(r"engine\s*=\s*(\w+)\s*(?:\(([^)]*)\))?", tail, re.I)
    if em:
        spec.engine = em.group(1)
        if em.group(2):
            spec.engine_args = tuple(
                x.strip() for x in em.group(2).split(",") if x.strip()
            )
        # Replacing/Summing merges map to merge_policies.py; record the
        # version column so callers can wire replacing_read directly
        if re.search(r"ReplacingMergeTree", em.group(1), re.I) and spec.engine_args:
            spec.replacing_version = spec.engine_args[-1]

    def _key_clause(pattern: str, label: str) -> tuple[str, ...] | None:
        km = re.search(pattern + r"\s+(\([^)]*\)|[\w]+)", tail, re.I)
        if not km:
            return None
        key = km.group(1)
        # A bare word followed by '(' is an expression key like
        # `ORDER BY cityHash64(uid)` — refuse loudly rather than
        # silently truncating to the function name. (PARTITION BY
        # expressions ARE supported — parsed separately below.)
        if (not key.startswith("(") and tail[km.end() : km.end() + 1] == "(") or (
            key.startswith("(") and "(" in key[1:]
        ):
            raise ValueError(
                f"expression {label} key near {key!r} unsupported — "
                "declare the derived column (e.g. a default expression) and "
                "key on it instead"
            )
        return _key_tuple(key)

    pk, pexprs = _parse_partition_by(tail)
    if pk is not None:
        spec.partition_by = pk
        spec.partition_exprs = pexprs
    kk = _key_clause(r"primary\s+key", "PRIMARY KEY")
    if kk is not None:
        spec.primary_key = kk
    ok = _key_clause(r"order\s+by", "ORDER BY")
    if ok is not None:
        spec.order_by = ok
    tm = re.search(r"\bttl\s+(.*?)(?:settings\b|$)", tail, re.I | re.S)
    if tm:
        spec.ttl_column, spec.ttl = _parse_ttl(tm.group(1).strip())
    return spec


@dataclass
class MaterializedViewSpec:
    database: str
    name: str
    target: str  # qualified target table (the TO clause)
    select_ch: str  # original ClickHouse SELECT
    select_spark: str | None  # translated Spark SQL (None if a dictGet
    # needs a dictionaries mapping — call spark_sql(dictionaries))
    columns: tuple[str, ...] = ()  # declared MV column list, in order —
    # ClickHouse maps the SELECT onto it positionally (the reference's
    # first MV aliases `show_cnt` into the `shown_cnt` slot this way)

    @property
    def qualified(self) -> str:
        return f"{self.database}.{self.name}" if self.database else self.name

    def spark_sql(self, dictionaries: dict[str, tuple[str, str]] | None = None) -> str:
        return translate(self.select_ch, dictionaries)


def parse_create_mv(
    sql: str, dictionaries: dict[str, tuple[str, str]] | None = None
) -> MaterializedViewSpec:
    """Parse ``create materialized view <n> to <target> (...) AS SELECT
    ...`` — the reference's insert-trigger MV (dwm…sql:28-57). The
    SELECT comes back translated: run it per batch over a registered
    view of the inserted rows (StreamingMV/foreachBatch), appending to
    the target's Table — exactly the T1 semantics."""
    s = _strip_comments(sql).strip().rstrip(";").strip()
    m = re.match(
        r"create\s+materialized\s+view\s+([\w.]+)\s*(?:on\s+cluster\s+\w+\s*)?"
        r"to\s+([\w.]+)\s*",
        s,
        re.I,
    )
    if not m:
        raise ValueError("not a CREATE MATERIALIZED VIEW ... TO statement")
    db, name = _qualify(m.group(1))
    rest = s[m.end() :].lstrip()
    columns: tuple[str, ...] = ()
    if rest.startswith("("):  # optional declared column list
        depth, i = 0, 0
        while i < len(rest):
            if rest[i] == "(":
                depth += 1
            elif rest[i] == ")":
                depth -= 1
                if depth == 0:
                    break
            i += 1
        columns = tuple(
            _parse_column(c).name for c in _split_args(rest[1:i])
        )
        rest = rest[i + 1 :].lstrip()
    am = re.match(r"as\s+", rest, re.I)
    if not am:
        raise ValueError("materialized view missing AS SELECT body")
    select_ch = rest[am.end() :].strip()
    # the reference's scripts leave ad-hoc demo queries / ALTERs after an
    # unterminated MV statement (no ';'); a blank line followed by a
    # fresh top-level statement keyword marks that boundary
    select_ch = re.split(
        r"\n\s*\n\s*(?:SELECT|ALTER|DROP|INSERT|OPTIMIZE)\b", select_ch, flags=re.I
    )[0].strip()
    try:
        select_spark = translate(select_ch, dictionaries)
    except ValueError:
        select_spark = None  # dictGet without a mapping — use spark_sql()
    return MaterializedViewSpec(
        database=db,
        name=name,
        target=m.group(2),
        select_ch=select_ch,
        select_spark=select_spark,
        columns=columns,
    )


def parse_script(
    sql: str, dictionaries: dict[str, tuple[str, str]] | None = None
) -> list[TableSpec | MaterializedViewSpec]:
    """Parse every CREATE statement in a .sql script. The reference's
    scripts terminate statements inconsistently, so boundaries are BOTH
    top-level ';' and the next top-level ``create`` keyword; non-CREATE
    statements (ALTERs, ad-hoc demo queries) are skipped."""
    out: list[TableSpec | MaterializedViewSpec] = []
    for stmt in _split_statements(_strip_comments(sql)):
        st = stmt.strip()
        if re.match(r"create\s+materialized\s+view", st, re.I):
            out.append(parse_create_mv(st, dictionaries))
        elif re.match(r"create\s+table", st, re.I):
            out.append(parse_create_table(st))
    return out


def _split_statements(sql: str) -> list[str]:
    cuts = [0]
    depth, i, n = 0, 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":
            i += 1
            while i < n and sql[i] != "'":
                i += 2 if sql[i] == "\\" else 1
            i += 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == ";" and depth == 0:
            cuts.append(i + 1)
        elif (
            depth == 0
            and sql[i : i + 6].lower() == "create"
            and (i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] == "_"))
            and i > (cuts[-1] if cuts else 0)
        ):
            # a new CREATE at top level starts a statement even without a
            # preceding ';' (the reference's files rely on this)
            if sql[cuts[-1] : i].strip():
                cuts.append(i)
        i += 1
    cuts.append(n)
    parts = [sql[a:b].strip().rstrip(";") for a, b in zip(cuts, cuts[1:])]
    return [p for p in parts if p]


@dataclass
class Deployment:
    """A whole reference deployment instantiated from its .sql script —
    tables on disk plus the MV insert-trigger wiring (the one-call form
    of what tests/test_ddl.py::test_ddl_full_deployment_roundtrip does
    by hand).

    - ``tables``: qualified name → physical :class:`Table` (Distributed
      proxies resolve to their underlying local table, matching how the
      reference's writes land).
    - ``ingest(spark, source, batch)``: the ClickHouse INSERT path —
      materialize the source table's default columns, append the batch,
      then fire every MV whose FROM clause reads the source
      (insert-trigger semantics, T1): each MV's translated SELECT runs
      over JUST this batch and its states append to the MV's target
      table with the declared column list applied positionally.

    Scale: each ingest shuffles only the batch (per-MV groupBy); the
    target state tables stay partitioned/merge-on-read as always.
    """

    specs: dict[str, "TableSpec"]
    tables: dict[str, Table]
    mvs: list["MaterializedViewSpec"]
    dictionaries: dict | None = None

    def _resolve(self, name: str) -> str:
        """Distributed proxy → underlying local table name."""
        spec = self.specs.get(name)
        if spec is not None and spec.distributed_over:
            return spec.distributed_over
        return name

    def ingest(
        self, spark, source: str, batch: DataFrame, count: bool = True
    ) -> dict[str, int]:
        """Insert ``batch`` into ``source`` and fire its MVs. Returns
        appended row counts per table (source + MV targets);
        ``count=False`` skips the counting jobs (the steady-state
        streaming path — two extra Spark jobs per micro-batch
        otherwise)."""
        return self._ingest(
            spark, source, batch, count, lambda t, df: self.tables[t].append(df)
        )

    def _ingest(self, spark, source: str, batch: DataFrame, count: bool, append):
        """:meth:`ingest` with every table write going through
        ``append(table_name, df)``."""
        source = self._resolve(source)
        spec = self.specs[source]
        full = spec.apply_defaults(batch)
        append(source, full)
        counts = {source: full.count()} if count else {}

        # inside foreachBatch the batch belongs to the micro-batch
        # session — resolve the view through ITS session, not the outer
        spark = full.sparkSession
        # ClickHouse cascades chained MVs: an MV reading another MV's
        # target fires on that target's inserts (ADVICE r2). Walk the
        # insert graph breadth-first; ``fired`` stops MV cycles (each MV
        # fires at most once per ingest, matching CH's per-insert-block
        # trigger).
        pending = [(source, full)]
        fired: set[int] = set()
        depth = 0
        while pending:
            tbl, tbl_batch = pending.pop(0)
            view = f"__ch_ingest_batch_{depth}"
            depth += 1
            tbl_batch.createOrReplaceTempView(view)
            for i, mv in enumerate(self.mvs):
                if i in fired:
                    continue
                mv_src = self._resolve(_from_table(mv.select_ch))
                if mv_src != tbl:
                    continue
                fired.add(i)
                sql = mv.select_spark or mv.spark_sql(self.dictionaries)
                # the MV SELECT names its source table; point it at the batch
                sql = re.sub(
                    rf"\bfrom\s+{re.escape(_from_table(mv.select_ch))}\b",
                    f"FROM {view}",
                    sql,
                    flags=re.I,
                )
                states = spark.sql(sql)
                if mv.columns:
                    states = states.toDF(*mv.columns)
                target = self._resolve(mv.target)
                append(target, states)
                if count:
                    counts[target] = counts.get(target, 0) + states.count()
                pending.append((target, states))
        return counts


    def maintain(self, spark, now=None) -> dict[str, dict]:
        """One maintenance sweep straight from the DDL: every deployed
        table with a declared TTL drops its expired partitions
        (metadata-only when the TTL column is the partition column —
        the reference's layout), then the partitions the directory
        listing shows with more than one file coalesce; single-file
        partitions are neither read nor rewritten. Returns a per-table
        report. The MV-state analog with
        re-merging lives in maintenance.Maintainer; this is the
        raw/dim-table sweep."""
        report: dict[str, dict] = {}
        for name, spec in self.specs.items():
            if spec.distributed_over:
                continue
            table = self.tables[name]
            entry: dict = {}
            if spec.ttl is not None:
                col = spec.ttl_column or (
                    spec.partition_by[0] if spec.partition_by else "day"
                )
                entry["ttl_partitions_kept"] = table.apply_ttl(
                    spark, keep=spec.ttl, now=now, day_col=col
                )
            if spec.partition_by:
                need = [p for p, fs in table.files().items() if len(fs) > 1]
                table.compact(spark, partitions=need)
                entry["partitions_coalesced"] = len(need)
            report[name] = entry
        return report

    def read(self, spark, name: str) -> DataFrame:
        """Read a deployed table with ClickHouse's lazy-default
        semantics: rows written BEFORE an ``ADD COLUMN … DEFAULT e``
        mutation surface the declared default, not NULL (in ClickHouse
        the default materializes lazily at merge time; here it stays a
        read-time coalesce — no part is ever rewritten for schema
        evolution). Declared non-Nullable columns cannot hold real
        NULLs in ClickHouse, so the coalesce is unambiguous; a
        ``Nullable(T) DEFAULT e`` column CAN hold an explicitly
        inserted NULL, so it is exempt from the coalesce (ADVICE r3).
        A column missing from the files entirely (ADD COLUMN on an
        unpinned-schema table before any new insert) still surfaces
        its default/NULL."""
        name = self._resolve(name)
        spec = self.specs[name]
        df = self.tables[name].read(spark)
        for c in spec.columns:
            if c.name not in df.columns:
                expr = c.default if c.default is not None else "NULL"
                df = df.withColumn(c.name, F.expr(expr).cast(c.spark_type))
            elif c.default is not None and not c.ch_type.strip().startswith(
                "Nullable"
            ):
                df = df.withColumn(
                    c.name,
                    F.coalesce(
                        F.col(c.name), F.expr(c.default).cast(c.spark_type)
                    ),
                )
        declared = [c.name for c in spec.columns]
        # project away DROPped columns that old files still carry, keep
        # derived partition columns (not in the declared list)
        extra = [
            c for c in df.columns
            if c not in declared and c in spec.partition_by
        ]
        return df.select(*declared, *extra)

    def final_read(self, spark, name: str) -> DataFrame:
        """``SELECT … FROM t FINAL`` semantics for a deployed table:
        engine-appropriate merge-on-read — ReplacingMergeTree(ver)
        collapses to the latest version per sort key
        (merge_policies.replacing_read), SummingMergeTree sums the
        numeric non-key columns, anything else reads as-is (the
        AggregatingMergeTree state tables are merged by their MV's
        merge_query, not here)."""
        from clickhouse_learning_spark import merge_policies as MP

        name = self._resolve(name)
        spec, table = self.specs[name], self.tables[name]
        keys = list(spec.order_by or spec.primary_key)
        if spec.replacing_version:
            return MP.replacing_read(table, spark, keys, spec.replacing_version)
        if spec.engine and re.search(r"ReplacingMergeTree", spec.engine, re.I):
            # versionless ReplacingMergeTree(): FINAL must still collapse
            # to one row per sort key — deterministic-survivor rule with
            # no version column (ADVICE r2)
            return MP.replacing_read(table, spark, keys, None)
        if spec.engine and re.search(r"SummingMergeTree", spec.engine, re.I):
            num = {
                c.name
                for c in spec.columns
                if c.spark_type.simpleString() in ("bigint", "int", "double", "float", "smallint")
                and c.name not in keys
            }
            return MP.summing_read(table, spark, keys, sorted(num))
        return table.read(spark)

    def query(self, spark, sql: str) -> DataFrame:
        """Run a pasted ClickHouse SELECT against the deployment —
        dialect translation plus the clauses that need engine context:
        ``FROM t FINAL`` dispatches to :meth:`final_read`,
        ``ORDER BY … WITH FILL`` to the schema-aware fill operator,
        ``dictGet`` to the deployment's dictionaries. Deployed tables
        must be registered as views by the caller (or referenced
        through FINAL, which self-registers)."""
        from clickhouse_learning_spark.functions.dialect import run

        return run(spark, sql, self.dictionaries, deployment=self)

    def _refresh_schema_pin(self, spark, name: str) -> None:
        """Re-pin the physical table's read schema after an ALTER
        ADD/DROP COLUMN. Tables with derived partition expressions
        (``PARTITION BY toYYYYMM(day)``) are created unpinned
        (schema=None → footer-schema reads), which made column mutations
        silently ineffective on them (ADVICE r3): a dropped column kept
        surfacing from old files, an added column's lazy default never
        appeared. Rebuild the pin from the declared spec plus the
        derived partition columns, whose types are inferred once from
        the existing directory layout; an empty table stays unpinned
        (nothing stale to mis-surface, and Deployment.read projects to
        the declared columns anyway)."""
        spec, t = self.specs[name], self.tables[name]
        base = spec.schema()
        if t.schema is not None or not spec.partition_exprs:
            t.schema = base
            return
        declared = {f.name for f in base.fields}
        extra = [c for c in spec.partition_by if c not in declared]
        try:
            inferred = {f.name: f.dataType for f in t.read(spark).schema.fields}
        except Exception:
            return  # no files yet — keep unpinned
        if any(c not in inferred for c in extra):
            return
        t.schema = T.StructType(
            list(base.fields)
            + [T.StructField(c, inferred[c], True) for c in extra]
        )

    def execute(self, spark, stmt: str):
        """Run one ClickHouse console statement against the deployment —
        the reference docs' tutorial transcripts (INSERT … SELECT with
        ARRAY JOIN literals, ALTER mutations, OPTIMIZE) replay verbatim.

        - ``INSERT INTO t [(cols)] SELECT …`` / ``VALUES …`` →
          translate the source, apply the column list positionally,
          then :meth:`ingest` (so MVs fire, exactly like ClickHouse's
          insert trigger);
        - ``ALTER TABLE … DROP PARTITION / DELETE WHERE`` →
          :func:`parse_mutation` applied to the physical table;
        - ``OPTIMIZE TABLE … [PARTITION p]`` → file compaction of the
          named table (state-table re-merge belongs to
          MaterializedView.compact — reads are merge-on-read either
          way).
        """
        s = _strip_comments(stmt).strip().rstrip(";")
        im = re.match(
            r"insert\s+into\s+([\w.]+)\s*(\(([^)]*)\))?\s*(select\b.*|values\b.*)$",
            s,
            re.I | re.S,
        )
        if im:
            cols = [c.strip() for c in im.group(3).split(",")] if im.group(3) else None
            body = im.group(4)
            if re.match(r"values\b", body, re.I):
                body = "SELECT * FROM " + body
            df = spark.sql(translate(body, self.dictionaries))
            # ClickHouse maps the inserted columns POSITIONALLY — onto
            # the explicit (cols) list, else onto the table's declared
            # column order (SELECT aliases don't matter)
            target_spec = self.specs[self._resolve(im.group(1))]
            names = cols or [c.name for c in target_spec.columns][: len(df.columns)]
            df = df.toDF(*names)
            return self.ingest(spark, im.group(1), df)
        rm = re.match(
            r"rename\s+table\s+([\w.]+)\s+to\s+([\w.]+)$", s, re.I
        )
        if rm:
            # metadata + directory rename; MVs referencing the OLD name
            # stop firing (their FROM no longer matches any table), the
            # same outcome ClickHouse's name-based MV wiring produces
            import pathlib

            old = self._resolve(rm.group(1))
            new = rm.group(2)
            if new in self.specs:
                raise ValueError(f"RENAME target {new!r} already exists")
            spec, table = self.specs.pop(old), self.tables.pop(old)
            old_depth = 2 if spec.database else 1
            db, name = _qualify(new)
            spec.database, spec.name = db, name
            base = table.path.rstrip("/").rsplit("/", old_depth)[0]
            new_path = "/".join([base] + [p for p in (db, name) if p])
            pathlib.Path(new_path).parent.mkdir(parents=True, exist_ok=True)
            if pathlib.Path(table.path).exists():
                pathlib.Path(table.path).rename(new_path)
            table.path = new_path
            self.specs[new], self.tables[new] = spec, table
            return 1
        dm = re.match(r"describe\s+(?:table\s+)?([\w.]+)$", s, re.I)
        if dm:
            spec = self.specs[self._resolve(dm.group(1))]
            return spark.createDataFrame(
                [
                    (c.name, c.ch_type, c.spark_type.simpleString(),
                     c.default or "")
                    for c in spec.columns
                ],
                "name string, ch_type string, spark_type string, default string",
            )
        tm2 = re.match(
            r"alter\s+table\s+([\w.]+)(?:\s+on\s+cluster\s+\S+)?\s+"
            r"modify\s+ttl\s+(.+)$",
            s,
            re.I | re.S,
        )
        if tm2:
            spec = self.specs[self._resolve(tm2.group(1))]
            col, delta = _parse_ttl(tm2.group(2).strip())
            spec.ttl, spec.ttl_column = delta, col
            return 1
        dc = re.match(
            r"alter\s+table\s+([\w.]+)(?:\s+on\s+cluster\s+\S+)?\s+"
            r"drop\s+column\s+(?:if\s+exists\s+)?(\w+)$",
            s,
            re.I,
        )
        if dc:
            # metadata-only like ADD COLUMN: the pinned read schema stops
            # projecting the column; old files keep the bytes untouched
            name = self._resolve(dc.group(1))
            spec, col = self.specs[name], dc.group(2)
            if col in set(spec.partition_by) | set(spec.order_by):
                raise ValueError(
                    f"cannot DROP key column {col!r} (partition/sort key)"
                )
            before = len(spec.columns)
            spec.columns = [c for c in spec.columns if c.name != col]
            self._refresh_schema_pin(spark, name)
            return before - len(spec.columns)
        am = re.match(
            r"alter\s+table\s+([\w.]+)(?:\s+on\s+cluster\s+\S+)?\s+"
            r"add\s+column\s+(?:if\s+not\s+exists\s+)?(.+?)"
            r"(\s+after\s+\w+|\s+first)?$",
            s,
            re.I | re.S,
        )
        if am:
            # ClickHouse ADD COLUMN is a metadata-only mutation: no part
            # is rewritten; old parts surface the column's DEFAULT at
            # read time and new inserts materialize it. Same here: the
            # spec gains the column (so apply_defaults materializes it
            # for future inserts), the physical table's schema pin is
            # refreshed (so pinned reads surface the column as NULL for
            # old files), and Deployment.read applies the read-time
            # default. AFTER x / FIRST is ordering metadata — honored in
            # the spec's column order.
            name = self._resolve(am.group(1))
            spec = self.specs[name]
            col = _parse_column(am.group(2).strip())
            if any(c.name == col.name for c in spec.columns):
                return 0
            pos = len(spec.columns)
            posm = am.group(3)
            if posm:
                p = posm.strip()
                if p.lower() == "first":
                    pos = 0
                else:
                    after = p.split()[-1]
                    pos = next(
                        (
                            i + 1
                            for i, c in enumerate(spec.columns)
                            if c.name == after
                        ),
                        pos,
                    )
            spec.columns.insert(pos, col)
            self._refresh_schema_pin(spark, name)
            return 1
        if re.match(r"alter\s+table", s, re.I):
            mu = parse_mutation(s)
            return mu.apply(self.tables[self._resolve(mu.qualified)], spark)
        if re.match(r"optimize\s+table", s, re.I):
            name, part = parse_optimize(s)
            table = self.tables[self._resolve(name)]
            return len(table.compact(spark, None if part is None else [part]))
        tm = re.match(
            r"truncate\s+table\s+(?:if\s+exists\s+)?([\w.]+)", s, re.I
        )
        if tm:
            return self.tables[self._resolve(tm.group(1))].truncate()
        raise ValueError(
            f"unsupported console statement {s[:60]!r}: INSERT INTO / "
            "ALTER TABLE mutations / OPTIMIZE TABLE / TRUNCATE TABLE are "
            "supported, plus RENAME/DESCRIBE TABLE and ALTER ADD/DROP COLUMN/"
            "MODIFY TTL; CREATEs belong in the deploy() script"
        )

    def attach_stream(
        self,
        spark,
        source: str,
        stream: DataFrame,
        checkpoint: str,
        trigger: dict | None = None,
    ):
        """The streaming form of :meth:`ingest` (reference T1: MVs are
        insert triggers and the micro-batch IS the insert batch): each
        micro-batch runs the same defaults → source append → MV fan-out
        path, and every table it writes commits through
        :func:`streaming.epochs.commit_epoch`, so a restart on the same
        checkpoint appends a replayed micro-batch exactly once."""
        trigger = trigger or {"processingTime": "5 seconds"}
        return (
            stream.writeStream.outputMode("update")
            .foreachBatch(partial(self._stream_batch, spark, source, checkpoint))
            .option("checkpointLocation", checkpoint)
            .queryName(f"deploy_{self._resolve(source).replace('.', '_')}")
            .trigger(**trigger)
            .start()
        )

    def _stream_batch(
        self, spark, source: str, checkpoint: str, batch: DataFrame, epoch: int
    ) -> None:
        """One epoch of :meth:`attach_stream` (its ``foreachBatch`` body)."""
        commit_epoch(
            checkpoint, epoch, batch,
            lambda b, stage: self._ingest(
                spark, source, b, False,
                lambda t, df: stage.append(self.tables[t], df),
            ),
            merged=[t.path for t in self.tables.values()],
        )


def _from_table(select_sql: str) -> str:
    m = re.search(r"\bfrom\s+([\w.]+)", select_sql, re.I)
    if not m:
        raise ValueError("MV SELECT has no FROM table")
    return m.group(1)


def deploy(
    spark,
    script: str,
    base_path: str,
    dictionaries: dict[str, tuple] | None = None,
) -> Deployment:
    """Parse a reference .sql script and instantiate every table under
    ``base_path`` (CREATE TABLE IF NOT EXISTS semantics: existing
    parquet directories are simply reused).

    Statements replay IN ORDER, honoring ``DROP TABLE``: the
    reference's scripts carry their own evolution history (create MV →
    drop → recreate under a new name, dwm…sql:87-196), so the deployed
    end-state is the script's final state — e.g. the wide table's two
    surviving writer MVs, not every definition that ever existed."""
    specs: dict[str, TableSpec] = {}
    mv_by_name: dict[str, MaterializedViewSpec] = {}
    for stmt in _split_statements(_strip_comments(script)):
        st = stmt.strip()
        if re.match(r"create\s+materialized\s+view", st, re.I):
            mv = parse_create_mv(st, dictionaries)
            mv_by_name[mv.qualified] = mv
        elif re.match(r"create\s+table", st, re.I):
            s = parse_create_table(st)
            specs[s.qualified] = s
        else:
            dm = re.match(r"drop\s+table\s+(?:if\s+exists\s+)?([\w.]+)", st, re.I)
            if dm:
                db, name = _qualify(dm.group(1))
                q = f"{db}.{name}" if db else name
                mv_by_name.pop(q, None)
                specs.pop(q, None)
    tables = {
        name: spec.table(base_path)
        for name, spec in specs.items()
        if not spec.distributed_over
    }
    return Deployment(
        specs=specs,
        tables=tables,
        mvs=list(mv_by_name.values()),
        dictionaries=dictionaries,
    )
