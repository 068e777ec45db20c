"""MergeTree-family merge policies beyond AggregatingMergeTree.

The reference uses AggregatingMergeTree (mv/engine.py is that, in
full); the other MergeTree merge semantics every ClickHouse
deployment leans on map onto the same append-only /
merge-on-read design:

- **ReplacingMergeTree(ver)** — background merges keep ONE row per
  sort key (the max ``ver`` wins). :func:`replacing_read` is the
  merge-on-read form (correct at any compaction state);
  :func:`compact_replacing` persists the collapse, exactly like
  ``OPTIMIZE FINAL``. In ClickHouse, reads *without* FINAL may see
  duplicates until a merge happens — merge-on-read here is therefore
  the FINAL-correct semantics, always.
- **SummingMergeTree** — merges sum the numeric columns per sort key.
  :func:`summing_read` / :func:`compact_summing`.
- **CollapsingMergeTree(sign)** — merges cancel +1/−1 row pairs per
  sort key. :func:`collapsing_read` / :func:`compact_collapsing`.

Each policy is one frame function (:func:`replacing`, :func:`summing`,
:func:`collapsing`), a hash shuffle on the sort key. ``*_read`` applies
it to the table; ``compact_*`` hands it to :meth:`Table.rewrite`, which
writes the result back partition by partition and drops the partitions
it empties — the same path the MV engine's compact takes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clickhouse_learning_spark.tables import Table


def replacing(df: DataFrame, key_cols: Sequence[str], version_col: str | None) -> DataFrame:
    """ReplacingMergeTree(ver) FINAL semantics: latest version per sort
    key, ties broken deterministically (ClickHouse keeps the last
    physical row of the merge — nondeterministic; here the max-version
    row with the largest remaining column tuple, so two engines
    agree). ``version_col=None`` is the versionless
    ``ReplacingMergeTree()`` form: no declared version, so the
    deterministic-survivor rule alone picks one row per sort key (the
    largest remaining-column tuple)."""
    others = [c for c in df.columns if c not in key_cols and c != version_col]
    lead = [F.col(version_col).desc()] if version_col is not None else []
    order = [*lead, *[F.col(c).desc() for c in others]]
    if not order:
        # every column is a sort-key column: duplicates are identical
        # rows, any survivor is THE row
        order = [F.lit(1)]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def replacing_read(
    table: Table,
    spark: SparkSession,
    key_cols: Sequence[str],
    version_col: str | None,
) -> DataFrame:
    """:func:`replacing` over the whole table (merge-on-read)."""
    return replacing(table.read(spark), key_cols, version_col)


def compact_replacing(
    table: Table,
    spark: SparkSession,
    key_cols: Sequence[str],
    version_col: str,
) -> None:
    """Persist the replacing collapse (OPTIMIZE FINAL analog)."""
    table.rewrite(spark, None, lambda df: replacing(df, key_cols, version_col))


def summing(df: DataFrame, key_cols: Sequence[str], sum_cols: Sequence[str]) -> DataFrame:
    """SummingMergeTree semantics: numeric columns summed per sort key.
    Columns outside ``key_cols``/``sum_cols`` take ClickHouse's rule
    ("an arbitrary value from the merged rows") — deterministically the
    max, so results are engine-stable."""
    others = [c for c in df.columns if c not in key_cols and c not in sum_cols]
    aggs = [F.sum(c).alias(c) for c in sum_cols] + [
        F.max(c).alias(c) for c in others
    ]
    return df.groupBy(*key_cols).agg(*aggs).select(*df.columns)


def summing_read(
    table: Table,
    spark: SparkSession,
    key_cols: Sequence[str],
    sum_cols: Sequence[str],
) -> DataFrame:
    """:func:`summing` over the whole table (merge-on-read)."""
    return summing(table.read(spark), key_cols, sum_cols)


def compact_summing(
    table: Table,
    spark: SparkSession,
    key_cols: Sequence[str],
    sum_cols: Sequence[str],
) -> None:
    table.rewrite(spark, None, lambda df: summing(df, key_cols, sum_cols))


def collapsing(df: DataFrame, key_cols: Sequence[str], sign_col: str = "sign") -> DataFrame:
    """CollapsingMergeTree semantics: +1 rows assert a state, −1 rows
    cancel the previously-asserted one; a key whose signs balance out
    disappears, otherwise the surviving state row remains. Without a
    version column ClickHouse's survivor is insert-order-dependent;
    here it is the maximum remaining-column tuple among the +1 rows
    (deterministic — use VersionedCollapsing/Replacing if you need
    explicit ordering)."""
    others = [c for c in df.columns if c not in key_cols and c != sign_col]
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in others])
    balance = Window.partitionBy(*key_cols)
    return (
        df.withColumn("_bal", F.sum(sign_col).over(balance))
        .filter((F.col("_bal") > 0) & (F.col(sign_col) == 1))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_bal", "_rn")
    )


def collapsing_read(
    table: Table,
    spark: SparkSession,
    key_cols: Sequence[str],
    sign_col: str = "sign",
) -> DataFrame:
    """:func:`collapsing` over the whole table (merge-on-read)."""
    return collapsing(table.read(spark), key_cols, sign_col)


def compact_collapsing(
    table: Table,
    spark: SparkSession,
    key_cols: Sequence[str],
    sign_col: str = "sign",
) -> None:
    table.rewrite(spark, None, lambda df: collapsing(df, key_cols, sign_col))
