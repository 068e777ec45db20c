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
"""

from __future__ import annotations

import datetime as dt
import functools
import operator
import os
import shutil
from dataclasses import dataclass, field
from pathlib import Path
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Hive's directory name for a NULL (or empty-string) partition value
_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"
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
    """A partition given as a tuple (or a scalar for a 1-column key) →
    the listing's key: each value as its string, NULL as None."""
    t = p if isinstance(p, (tuple, list)) else (p,)
    return tuple(None if v is None else str(v) for v in t)


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


@dataclass
class Table:
    """One partitioned parquet table with a declared sort key."""

    path: str
    partition_by: tuple[str, ...] = ("day",)
    sort_key: tuple[str, ...] = ()
    schema: object | None = None  # optional StructType pin for reads
    # max files per partition directory per write. Default 1 = the
    # MergeTree "one part per insert" analog: without this, every write
    # fans each upstream task across every partition dir (32 shuffle
    # partitions × 30 days ≈ 960 KB-sized files per append — measured
    # 2-3× slower on both the write and every later read). Raise for
    # huge raw-log appends where one task per partition value would
    # bottleneck the write: rows then spread over a deterministic
    # row-hash salt (NOT rand() — nondeterministic partitioning
    # duplicates/drops rows on stage retry).
    files_per_partition: int = 1
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
        directories and merges just their files' schemas, so the read's
        fixed cost does not grow with the rest of the table."""
        # mergeSchema: files written before an ALTER ADD COLUMN lack the
        # new column; merged reads surface it as NULL (= neutral state,
        # SURVEY D5/D6). Footer-merge cost is per-file metadata only.
        reader = spark.read.option("mergeSchema", "true")
        if self.schema is not None:
            reader = reader.schema(self.schema)
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
        """Co-locate each output partition's rows (file-count control),
        then cluster by sort key for row-group min/max skipping."""
        keys = [F.col(c) for c in self.partition_by]
        if self.files_per_partition > 1:
            rest = [c for c in df.columns if c not in self.partition_by]
            salt = F.pmod(
                F.xxhash64(*[F.col(c) for c in rest]),
                F.lit(self.files_per_partition),
            )
            keys.append(salt)
        if keys:
            df = df.repartition(*keys)
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

    def overwrite(self, df: DataFrame) -> None:
        (
            self._write(df)
            .mode("overwrite")
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
    def _rewrite(self, df: DataFrame) -> None:
        """Full rewrite via staging dir + atomic swap (Spark cannot overwrite
        a path it is lazily reading). On HDFS/S3-committers this is the
        same write-then-rename pattern; with a real table format it would
        be a metadata-only commit."""
        staging = self.path.rstrip("/") + "__staging"
        (
            self._write(df)
            .mode("overwrite")
            .partitionBy(*self.partition_by)
            .parquet(staging)
        )
        shutil.rmtree(self.path, ignore_errors=True)
        Path(staging).rename(self.path)

    def files(self) -> dict[tuple, dict[str, int]]:
        """The ``system.parts`` listing: partition → {data file: bytes},
        from the directory tree alone — no Spark job, no file opened.
        Keys are :func:`partition_key` tuples over every level of
        ``partition_by`` (Hive escapes undone, the default partition as
        None); an unpartitioned table lists under ``()``."""
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

    def delete_where(self, spark: SparkSession, cond) -> int:
        """Row-level DELETE (the reference's mutation analog) that
        rewrites ONLY partitions containing matching rows: at 100 TB a
        one-day delete touches one day's files, never the table. The
        surviving rows of affected partitions are re-written via dynamic
        partition overwrite; partitions left empty are dropped
        (dynamic overwrite cannot express an empty partition). Returns
        the number of partitions rewritten or dropped."""
        cond = F.expr(cond) if isinstance(cond, str) else cond
        df = self.read(spark)
        if not self.partition_by:
            # unpartitioned table: the only shape is a full rewrite
            if df.filter(cond).isEmpty():
                return 0
            self._rewrite(df.filter(~cond))
            return 1
        affected = [
            tuple(r)
            for r in df.filter(cond).select(*self.partition_by).distinct().collect()
        ]
        if not affected:
            return 0
        spark_vals = spark.createDataFrame(affected, list(self.partition_by))
        in_affected = df.join(F.broadcast(spark_vals), list(self.partition_by), "left_semi")
        survivors = in_affected.filter(~cond)
        kept_parts = {
            tuple(r)
            for r in survivors.select(*self.partition_by).distinct().collect()
        }
        if kept_parts:
            self.overwrite_partitions(survivors)
        emptied = [v for v in affected if v not in kept_parts]
        self.drop_partitions(spark, emptied)
        return len(affected)

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
        """Row-level UPDATE (``ALTER TABLE … UPDATE c = e WHERE cond``)
        that rewrites ONLY partitions containing matching rows — the
        same 100 TB-scoped shape as :meth:`delete_where`. All
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
        cond = F.expr(cond) if isinstance(cond, str) else cond
        df = self.read(spark)
        new_cols = {
            c: F.when(cond, F.expr(e)).otherwise(F.col(c))
            for c, e in assignments.items()
        }
        if not self.partition_by:
            if df.filter(cond).isEmpty():
                return 0
            self._rewrite(df.withColumns(new_cols))
            return 1
        affected = [
            tuple(r)
            for r in df.filter(cond).select(*self.partition_by).distinct().collect()
        ]
        if not affected:
            return 0
        vals = spark.createDataFrame(affected, list(self.partition_by))
        in_affected = df.join(
            F.broadcast(vals), list(self.partition_by), "left_semi"
        )
        self.overwrite_partitions(in_affected.withColumns(new_cols))
        return len(affected)

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

    def compact(
        self,
        spark: SparkSession,
        target_files_per_partition: int = 1,
        partitions: list | None = None,
    ) -> None:
        """Background-merge analog (OPTIMIZE TABLE FINAL,
        docs/物化视图的实战经验分享.md:954): coalesce small files per
        partition and restore the sort key. ``partitions`` rewrites only
        those partitions (dynamic partition overwrite); ``None`` rewrites
        the whole table. Correctness never depends on this — all readers
        merge-on-read."""
        if partitions is not None and not partitions:
            return
        df = self.read(spark, partitions).repartition(
            target_files_per_partition, *self.partition_by
        )
        if partitions is not None:
            self.overwrite_partitions(df)
        else:
            self._rewrite(df)
