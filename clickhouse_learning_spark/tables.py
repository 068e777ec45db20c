"""Partitioned columnar table management (the reference's MergeTree layer).

Maps MergeTree physical-layout knobs (SURVEY.md §1.3) to Spark/Parquet:

- ``PARTITION BY day`` (ods.action_001_dis.sql:18) → Hive-style
  ``partitionBy("day")`` directory partitioning → Catalyst partition
  pruning on ``WHERE day = ...``.
- ``ORDER BY (day,hour,platform,item_id)`` sort key + sparse PK index
  (ods.action_001_dis.sql:19-22) → ``sortWithinPartitions`` before every
  write so Parquet row-group min/max statistics give the same
  data-skipping effect; row-group size plays the role of
  ``index_granularity``.
- ``TTL day + toIntervalDay(10)`` (ods.action_001_dis.sql:21) →
  :meth:`Table.apply_ttl` retention job.
- ``DROP PARTITION`` + reinsert idempotent loads
  (make_user_dim_info_toch.py:40-63) → dynamic partition overwrite.
- Part rewrites — background merges, ``OPTIMIZE … PARTITION``,
  ``ALTER … DELETE/UPDATE`` mutations, ``TTL … GROUP BY`` rollups →
  :meth:`Table.rewrite`, the one path that reads stored partitions,
  transforms them and writes them back.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import operator
import os
import shutil
from dataclasses import dataclass, field
from pathlib import Path
from urllib.parse import unquote

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Hive's directory name for a NULL (or empty-string) partition value
_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"
# the footer key under which Spark stores the schema of the rows it wrote
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
# the nullability flags of Spark's type JSON: of a field, an array
# element and a map value
_NULLABLE = ("nullable", "containsNull", "valueContainsNull")
# the characters Spark percent-escapes in partition directory names
# (ExternalCatalogUtils.escapePathName)
_ESCAPED = frozenset('"#%\'*/:=?\\\x7f{[]^') | {chr(i) for i in range(1, 32)}


def _as_date(v) -> dt.date:
    """Partition value → date (listed values are ISO strings; a
    timestamp partition lists as ``YYYY-MM-DD hh:mm:ss``)."""
    if isinstance(v, dt.datetime):
        return v.date()
    if isinstance(v, dt.date):
        return v
    return dt.datetime.fromisoformat(str(v)).date()


def expired(v, cutoff: dt.date) -> bool:
    """Whether TTL partition value ``v`` lies before ``cutoff``; a NULL
    day never expires."""
    return v is not None and _as_date(v) < cutoff


def partition_key(p) -> tuple:
    """A partition given as a tuple (or a scalar for a 1-column key),
    e.g. a collected row → the listing's key: each value as the string
    Spark names its directory with, NULL as None."""
    t = p if isinstance(p, (tuple, list)) else (p,)
    return tuple(
        None if v is None else str(v).lower() if isinstance(v, bool) else str(v)
        for v in t
    )


def _escape(v) -> str:
    if v is None or v == "":
        return _DEFAULT_PARTITION
    return "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in str(v))


def _unescape(v: str) -> str | None:
    return None if v == _DEFAULT_PARTITION else unquote(v)


def data_files(root: str) -> dict[str, int]:
    """Data file → size in bytes under ``root``. Names starting with
    ``_`` or ``.`` are skipped, as Spark's file index skips them: staging
    dirs, ``_SUCCESS``, ``.crc`` sidecars, Spark's own ``.spark-staging``."""
    out = {}
    for d, dirs, names in os.walk(root):
        dirs[:] = [n for n in dirs if not n.startswith(("_", "."))]
        for n in names:
            if not n.startswith(("_", ".")):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def _nullable(t):
    """Spark type JSON with every field, array element and map value
    nullable: Spark reads every file column as nullable
    (``HadoopFsRelation`` applies ``asNullable``)."""
    if isinstance(t, list):
        return [_nullable(x) for x in t]
    if isinstance(t, dict):
        return {k: True if k in _NULLABLE else v if k == "metadata" else _nullable(v)
                for k, v in t.items()}
    return t


@functools.lru_cache(maxsize=4096)
def _file_schema(path: str, size: int, mtime_ns: int) -> str | None:
    """The schema Spark wrote into parquet file ``path``, as nullable
    type JSON; None when the file has no Spark key (another writer) or
    is not parquet. ``size`` and ``mtime_ns`` key the memo, so a file
    rewritten in place is read again."""
    try:
        meta = pq.read_metadata(path).metadata or {}
    except (OSError, pa.ArrowInvalid):
        return None
    if _SPARK_SCHEMA_KEY not in meta:
        return None
    return json.dumps(_nullable(json.loads(meta[_SPARK_SCHEMA_KEY])))


def footer_schema(files) -> T.StructType | None:
    """The one read schema that the Spark footers of ``files`` agree on,
    or None: no files, a file without the key, or footers that differ
    (a column added by ALTER or by ``with_metric`` in later files)."""
    got = set()
    for f in files:
        st = os.stat(f)
        got.add(_file_schema(f, st.st_size, st.st_mtime_ns))
    if len(got) != 1 or None in got:
        return None
    return T.StructType.fromJson(json.loads(got.pop()))


@dataclass
class Table:
    """One partitioned parquet table with a declared sort key."""

    path: str
    partition_by: tuple[str, ...] = ("day",)
    sort_key: tuple[str, ...] = ()
    # optional StructType pin for reads; unset, reads take the schema
    # from the files' footers (see :meth:`read`)
    schema: object | None = None
    # ClickHouse skip-index analog (`INDEX x TYPE bloom_filter`): write
    # parquet bloom filters for these columns. Point-lookup filters on
    # them then skip whole row groups whose bloom excludes the value —
    # complementing the sort-key min/max stats, which only help for
    # range-correlated columns. Costs ~1 MB/row-group/column at the
    # default FPP; enable for high-cardinality equality-probed columns
    # (uid, item_id), not for low-cardinality dims.
    bloom_filter_cols: tuple[str, ...] = ()
    # expected distinct values per bloom column (sizes the filter; the
    # parquet writer default underestimates high-cardinality columns)
    bloom_filter_ndv: dict[str, int] = field(default_factory=dict)
    # parquet codec for THIS table's writes (None → the session default,
    # zstd). ClickHouse's CODEC clause analog at table granularity:
    # MergeTree defaults to LZ4 for raw logs — lz4 reads ~2-3× faster on
    # CPU-bound scans at ~3-4× the bytes, the right trade for hot
    # high-churn fact tables; long-lived state/dim tables keep zstd.
    codec: str | None = None

    # -- read ------------------------------------------------------------------
    def read(self, spark: SparkSession, partitions: list | None = None) -> DataFrame:
        """The table, or only ``partitions`` (existing ones; tuples, or
        scalars for a 1-column key): then Spark lists just their
        directories, so the read's fixed cost does not grow with the
        rest of the table.

        Unpinned (``schema`` None), the read schema comes from the
        schema Spark wrote into each file's footer (memoized per file),
        so planning the read runs no Spark job; partition columns are
        still inferred from the directory names. When the footers
        disagree — files written before an ALTER ADD COLUMN or a
        ``with_metric`` lack the new column — or a file has no Spark
        footer key, the read falls back to ``mergeSchema``, one job
        that merges every file's footer and surfaces a missing column
        as NULL (= neutral state, SURVEY D5/D6)."""
        schema = self.schema
        if schema is None:
            schema = footer_schema(f for fs in self.files(partitions).values() for f in fs)
        if schema is None:
            reader = spark.read.option("mergeSchema", "true")
        else:
            reader = spark.read.schema(schema)
        if partitions is None:
            return reader.parquet(self.path)
        return reader.option("basePath", self.path).parquet(
            *map(self.partition_dir, partitions)
        )

    def partition_dir(self, p) -> str:
        """The directory of partition ``p`` (Hive-escaped values)."""
        return os.path.join(self.path, *(
            f"{c}={_escape(v)}" for c, v in zip(self.partition_by, partition_key(p))
        ))

    # -- write -----------------------------------------------------------------
    def _sorted(self, df: DataFrame) -> DataFrame:
        """Co-locate each output partition's rows — one file per
        partition per write, the MergeTree "one part per insert" analog
        (without it every task writes into every partition dir: 32
        shuffle partitions × 30 days ≈ 960 KB-sized files per append,
        measured 2-3× slower to write and to read) — then cluster by
        sort key for row-group min/max skipping."""
        if self.partition_by:
            df = df.repartition(*self.partition_by)
        if self.sort_key:
            return df.sortWithinPartitions(*self.sort_key)
        return df

    def _write(self, df: DataFrame):
        w = self._sorted(df).write
        if self.codec:
            w = w.option("compression", self.codec)
        for c in self.bloom_filter_cols:
            w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
            if c in self.bloom_filter_ndv:
                w = w.option(
                    f"parquet.bloom.filter.expected.ndv#{c}",
                    str(self.bloom_filter_ndv[c]),
                )
        return w

    def append(self, df: DataFrame) -> None:
        """Append a batch (one MergeTree "part" per task file)."""
        (
            self._write(df)
            .mode("append")
            .partitionBy(*self.partition_by)
            .parquet(self.path)
        )

    def overwrite_partitions(self, df: DataFrame) -> None:
        """Dynamic partition overwrite — only partitions present in ``df``
        are replaced (the reference's DROP PARTITION + insert idempotent
        load, make_user_dim_info_toch.py:40-63)."""
        (
            self._write(df)
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*self.partition_by)
            .parquet(self.path)
        )

    # -- maintenance -------------------------------------------------------------
    def rewrite(self, spark: SparkSession, partitions: list | None, fn) -> list[tuple]:
        """Rewrite stored partitions: the one path by which stored data
        changes, as ClickHouse rewrites the parts of the affected
        partitions for a merge, ``OPTIMIZE … PARTITION``, a mutation
        or a ``TTL … GROUP BY`` rollup alike.

        Reads only ``partitions`` (tuples, or scalars for a 1-column
        key; absent ones are skipped; ``None`` = every partition in
        :meth:`files`), writes ``fn(rows)`` by dynamic partition
        overwrite, then drops each named partition whose file set the
        write left unchanged: ``fn`` kept none of its rows, and dynamic
        overwrite cannot express an empty partition. ``fn`` sees every
        named partition in one frame and must keep each row in its
        partition. Other partitions are neither read nor touched, and
        the table never disappears mid-rewrite.

        An unpartitioned table is written to a staging dir and swapped
        in, as Spark cannot overwrite a path it is reading. Returns the
        partitions read, keyed as in :meth:`files`."""
        before = self.files(partitions)
        if not before:
            return []
        rows = fn(self.read(spark, list(before)))
        if self.partition_by:
            # read alone, the NULL partition types its column as VOID,
            # which Spark cannot write; a NULL string names the same dir
            self.overwrite_partitions(rows.withColumns({
                c: F.col(c).cast("string") for c, t in rows.dtypes
                if c in self.partition_by and t == "void"
            }))
            self.drop_partitions(spark, [
                p for p, fs in before.items()
                if data_files(self.partition_dir(p)).keys() == fs.keys()
            ])
        else:
            staging, old = (self.path.rstrip("/") + x for x in ("__staging", "__old"))
            self._write(rows).mode("overwrite").parquet(staging)
            Path(self.path).rename(old)
            Path(staging).rename(self.path)
            shutil.rmtree(old)
        return list(before)

    def files(self, partitions: list | None = None) -> dict[tuple, dict[str, int]]:
        """The ``system.parts`` listing: partition → {data file: bytes},
        from the directory tree alone — no Spark job, no file opened.
        Keys are :func:`partition_key` tuples over every level of
        ``partition_by`` (Hive escapes undone, the default partition as
        None); an unpartitioned table lists under ``()``. ``partitions``
        lists only those partitions' directories; absent or empty ones
        are left out."""
        if partitions is not None:
            return {k: fs for k in map(partition_key, partitions)
                    if (fs := data_files(self.partition_dir(k)))}
        out: dict[tuple, dict[str, int]] = {}
        for p, size in data_files(self.path).items():
            dirs = os.path.relpath(p, self.path).split(os.sep)[:-1]
            key = tuple(_unescape(d.partition("=")[2]) for d in dirs)
            out.setdefault(key, {})[p] = size
        return out

    def where_partition(self, p) -> Column:
        """Filter selecting the rows of partition ``p`` (a tuple, or a
        scalar for a 1-column key)."""
        return functools.reduce(operator.and_, [
            F.col(c).eqNullSafe(v) for c, v in zip(self.partition_by, partition_key(p))
        ], F.lit(True))

    def drop_partitions(self, spark: SparkSession, values: list) -> int:
        """``ALTER TABLE ... DROP PARTITION`` — remove whole partition
        directories. Metadata/filesystem-only: no data is read or
        rewritten, exactly like MergeTree's partition drop (and a
        Delta/Iceberg drop-partition metadata commit). ``values``:
        partition-key tuples (or scalars for a 1-column key). Returns
        the number of directories removed."""
        dropped = 0
        for v in values:
            p = Path(self.partition_dir(v))
            if p.exists():
                shutil.rmtree(p)
                dropped += 1
        return dropped

    def _mutate(self, spark: SparkSession, cond, change) -> int:
        """A mutation: :meth:`rewrite` with ``change(rows, cond)`` only
        the partitions holding a row that matches ``cond`` — at 100 TB
        a one-day mutation touches one day's files, never the table.
        One Spark job finds them. Returns their number."""
        cond = F.expr(cond) if isinstance(cond, str) else cond
        hit = self.read(spark).filter(cond).select(*self.partition_by).distinct()
        parts = [partition_key(tuple(r)) for r in hit.collect()]
        return len(self.rewrite(spark, parts, lambda df: change(df, cond)))

    def delete_where(self, spark: SparkSession, cond) -> int:
        """Row-level DELETE (``ALTER TABLE … DELETE WHERE cond``): a
        :meth:`_mutate` that keeps the other rows of the partitions
        holding a match (a row whose ``cond`` is NULL is kept, as in
        ClickHouse); a partition left empty is dropped. Returns the
        number of partitions rewritten or dropped."""
        return self._mutate(
            spark, cond, lambda df, c: df.filter(~F.coalesce(c, F.lit(False)))
        )

    def truncate(self) -> int:
        """``TRUNCATE TABLE`` — filesystem-only removal of every data
        file; the table definition (this object) survives and the next
        append recreates the directory. Returns 1 if data existed."""
        existed = Path(self.path).exists()
        shutil.rmtree(self.path, ignore_errors=True)
        return int(existed)

    def update_where(
        self, spark: SparkSession, assignments: dict[str, str], cond
    ) -> int:
        """Row-level UPDATE (``ALTER TABLE … UPDATE c = e WHERE cond``):
        a :meth:`_mutate`, scoped like :meth:`delete_where`. All
        assignment expressions read the OLD row (ClickHouse mutation
        semantics: simultaneous assignment), enforced by building every
        new column from one projection of the input frame. Key columns
        (partition or sort key) cannot be updated — ClickHouse forbids
        it, and here it would silently move rows across partitions /
        break the sort-key row-group stats."""
        bad = set(assignments) & (set(self.partition_by) | set(self.sort_key))
        if bad:
            raise ValueError(
                f"cannot UPDATE key column(s) {sorted(bad)} — partition and "
                "sort-key columns are immutable (re-insert instead)"
            )
        return self._mutate(spark, cond, lambda df, c: df.withColumns({
            col: F.when(c, F.expr(e)).otherwise(F.col(col))
            for col, e in assignments.items()
        }))

    def apply_ttl(
        self,
        spark: SparkSession,
        keep: dt.timedelta,
        now: dt.date | None = None,
        day_col: str = "day",
    ) -> int:
        """TTL retention (ods.action_001_dis.sql:21): drop whole
        partitions older than ``now - keep``. When the TTL column IS the
        (leading) partition column — the reference's layout — this is a
        pure metadata operation: expired partition values come from
        :meth:`files` and their directories are dropped; surviving data
        is never read or rewritten. Falls back to a partition-pruned
        row-level delete when the table is not partitioned by the TTL
        column. Returns the number of distinct ``day_col`` values kept —
        from the listing when ``day_col`` is a partition column."""
        cutoff = (now or dt.date.today()) - keep
        if self.partition_by and self.partition_by[0] == day_col:
            self.drop_partitions(
                spark, [p for p in self.files() if expired(p[0], cutoff)]
            )
        else:
            self.delete_where(spark, F.col(day_col) < F.lit(cutoff))
        if day_col in self.partition_by:
            i = self.partition_by.index(day_col)
            return len({p[i] for p in self.files()})
        return self.read(spark).select(day_col).distinct().count()

    def stats(self, partitions: list) -> dict[tuple, dict]:
        """system.parts-style introspection (SURVEY S8;
        data_rebalance.py:116-205): partition → ``{"rows", "files",
        "bytes"}`` — the reconciliation invariant the reference's
        rebalancer checks before/after moving parts
        (data_rebalance.py:192-198). Metadata only, like
        ``system.parts``: the listing of ``partitions`` only (tuples,
        or scalars for a 1-column key; absent ones report zeros) plus
        each file's parquet footer row count; no Spark job, no data page
        read."""
        out = {}
        for k in map(partition_key, partitions):
            fs = data_files(self.partition_dir(k))
            out[k] = {"rows": sum(pq.read_metadata(f).num_rows for f in fs),
                      "files": len(fs), "bytes": sum(fs.values())}
        return out

    def compact(self, spark: SparkSession, partitions: list | None = None) -> list[tuple]:
        """Background-merge analog (``OPTIMIZE TABLE … [PARTITION p]
        FINAL``, docs/物化视图的实战经验分享.md:954): :meth:`rewrite`
        ``partitions`` (``None`` = all) to one file each in sort-key
        order; an unpartitioned table becomes one file. Correctness
        never depends on this — all readers merge-on-read. Returns the
        partitions rewritten."""
        return self.rewrite(
            spark, partitions, lambda df: df.repartition(1, *self.partition_by)
        )
