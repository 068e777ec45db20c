"""Materialized-view engine: incremental pre-aggregation over mergeable states.

Reproduces the reference's MV pipeline
(/root/reference/scripts/sql/dwm.mainpage_stat_mv_dis.sql:28-57, semantics
at /root/reference/docs/物化视图的实战经验分享.md:298-316):

1. Every ingested batch is aggregated *by itself* into partial states
   (:meth:`MaterializedView.materialize_batch` ≈ the insert-trigger MV —
   it never recomputes history).
2. States append to a wide AggregatingMergeTree-style state table
   (:attr:`MaterializedView.storage`).
3. A background :meth:`compact` lazily re-merges equal-key state rows —
   a pure space optimization, exactly like ClickHouse background merges.
4. Queries ALWAYS re-merge + finalize (:meth:`merge_query`), so results
   are correct at any compaction state (the reference proves this
   invariant pre/post OPTIMIZE FINAL at docs/…md:934-996, and shows the
   negative case — reading states without -Merge is wrong — at
   docs/…md:327-415).

Scale design: ``materialize_batch`` is one shuffle (the groupBy) over
just the new batch; ``merge_query`` scans the (orders-of-magnitude
smaller) state table with partition pruning on ``day`` and does one
partial/final aggregation — the same two-level shard→initiator merge the
Distributed engine performs (docs/…md:272-294), handled natively by
Spark's partial/final hash aggregation. The state table is
day-partitioned so TTL and compaction are per-partition jobs that
parallelize across the cluster.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from clickhouse_learning_spark.functions.metrics import MetricSpec, resum_states
from clickhouse_learning_spark.streaming.epochs import observed
from clickhouse_learning_spark.tables import Table, expired


@dataclass
class MaterializedView:
    """``CREATE MATERIALIZED VIEW ... TO storage`` (compute/storage split,
    docs/物化视图的实战经验分享.md:199-207)."""

    name: str
    dims: tuple[str, ...]
    metrics: tuple[MetricSpec, ...]
    storage: Table
    # aggregate Columns per (MetricSpec method, metric names, JVM gateway):
    # building the mainpage view's 17 takes about 150 py4j calls, which
    # every query would otherwise pay. A Column is a handle into one JVM,
    # hence the gateway. Every new view (with_metric, replace…) starts
    # empty.
    _aggs: dict = field(default_factory=dict, init=False, compare=False, repr=False)

    def metric(self, name: str) -> MetricSpec:
        for m in self.metrics:
            if m.name == name:
                return m
        raise KeyError(f"{self.name}: no metric {name!r}")

    def _aggregates(self, method: str, names: tuple[str, ...]) -> list[Column]:
        """``MetricSpec.<method>()`` of the metrics ``names``, built once."""
        key = (method, names, SparkContext._gateway)
        if key not in self._aggs:
            self._aggs[key] = [getattr(self.metric(n), method)() for n in names]
        return self._aggs[key]

    # -- write path ------------------------------------------------------------
    def materialize_batch(self, batch: DataFrame) -> DataFrame:
        """Aggregate ONE insert batch to partial states (insert-trigger MV
        semantics: docs/…md:298-301). One shuffle, map-side partials;
        value→count state kinds (topk / quantile / quantile_sketch /
        summap) take the relational pre-count side path — see
        :func:`~clickhouse_learning_spark.functions.metrics.build_states`."""
        from clickhouse_learning_spark.functions.metrics import build_states

        return build_states(batch, self.dims, self.metrics)

    def append_batch(self, batch: DataFrame) -> None:
        self.storage.append(self.materialize_batch(batch))

    # -- read path ---------------------------------------------------------------
    def merge_query(
        self,
        spark: SparkSession,
        group_by: tuple[str, ...] | list[str],
        metric_names: list[str] | None = None,
        where: Column | str | None = None,
    ) -> DataFrame:
        """Query the state table: filter (partition-pruned on day) →
        re-merge states per requested grouping → finalize. Equivalent of
        ``SELECT dims, uniqCombinedMerge(uv), sum(cnt) FROM state GROUP BY
        dims`` (dwm.mainpage_stat_mv_dis.sql:60-70)."""
        names = tuple(metric_names or [m.name for m in self.metrics])
        df = self.storage.read(spark)
        if where is not None:
            df = df.filter(F.expr(where) if isinstance(where, str) else where)
        return df.groupBy(*group_by).agg(*self._aggregates("merged_finalized", names))

    def merge_states(self, df: DataFrame, group_by: list[str]) -> DataFrame:
        """Re-merge states WITHOUT finalizing (the -MergeState combinator,
        dwm.mainpage_stat_mv_dis.sql:282-287) — for funnel algebra over
        bitmap states or for compaction. A merged state is as compact as
        a freshly built one: value→count states (topk, quantile,
        quantile_sketch, summap) are re-summed to one entry per value,
        topk re-truncated to its reserve — see
        :func:`~clickhouse_learning_spark.functions.metrics.resum_states`."""
        names = tuple(m.name for m in self.metrics)
        plain = tuple(m.name for m in self.metrics
                      if m.kind not in MetricSpec.PRECOUNT_KINDS)
        if not plain:
            merged = df.select(*group_by).distinct()
        else:
            merged = df.groupBy(*group_by).agg(*self._aggregates("merge", plain))
        if plain == names:
            return merged
        counted = [m for m in self.metrics if m.name not in plain]
        return resum_states(df, merged, group_by, counted).select(*group_by, *names)

    # -- maintenance ---------------------------------------------------------------
    def compact(
        self, spark: SparkSession, partitions: list | None = None,
        group: list[str] | None = None,
    ) -> dict[tuple, tuple[dict, dict]]:
        """Re-merge equal-key rows in storage (background merge / OPTIMIZE
        FINAL): a :meth:`Table.rewrite` of ``partitions`` (tuples, or
        scalars for a 1-column key; ``None`` = every partition) —
        ClickHouse's ``OPTIMIZE TABLE … PARTITION p``. At 100 TB this is
        the only sane form: merges are per-partition (recent days churn,
        history is already merged), so it reads and rewrites ONLY the
        named partitions. Pick candidates with
        :meth:`partitions_needing_compaction`. The merge is
        :meth:`merge_states`, which also re-sums the value→count states
        (topk, quantile, quantile_sketch, summap) to one entry per value.

        ``group``: the dims to merge at (default: every dim), which must
        include the partition columns; the other dims are written as
        typed NULL. :func:`rollup_ttl` passes its coarse dims.

        Returns, per compacted partition (keyed as in
        :meth:`Table.files`), the totals seen entering the merge and
        leaving it for the write: ``rows`` and every additive metric
        (``sum``/``count`` states). Two ``Observation`` s collect them
        inside the rewrite's own job, so they cost no extra job;
        :meth:`Maintainer.run_once` reconciles them.

        Guard: refuses to run from a view definition older than the
        stored schema — compacting with a stale metric set would project
        away columns added by with_metric (data loss)."""
        parts = list(self.storage.files(partitions))
        seen = {}

        def merge(stored: DataFrame) -> DataFrame:
            known = set(self.dims) | {m.name for m in self.metrics}
            unknown = [c for c in stored.columns if c not in known]
            if unknown:
                raise ValueError(
                    f"{self.name}: storage has columns {unknown} not in this view "
                    "definition — compact with the newest (evolved) view to avoid "
                    "dropping them"
                )
            # files written before with_metric / with_dimension lack the
            # new column; the rewrite keeps lacking it, which readers see
            # as the NULL (neutral) state, as before
            view = replace(
                self,
                dims=tuple(d for d in self.dims if d in stored.columns),
                metrics=tuple(m for m in self.metrics if m.name in stored.columns),
            )
            keys = [d for d in (self.dims if group is None else group)
                    if d in stored.columns]
            stored, seen["in"] = view._observe_totals(stored, parts)
            merged = view.merge_states(stored, keys)
            types = dict(stored.dtypes)
            merged = merged.withColumns({
                d: F.lit(None).cast(types[d]) for d in view.dims if d not in keys
            }).select(*stored.columns)
            merged, seen["out"] = view._observe_totals(merged, parts)
            return merged

        if not self.storage.rewrite(spark, parts, merge):
            return {}
        got_in, got_out = seen["in"](), seen["out"]()
        return {p: (got_in[p], got_out[p]) for p in parts}

    def _observe_totals(self, df: DataFrame, parts: list[tuple]):
        """``df`` observed for, per partition in ``parts``, its row count
        and the total of each additive metric; returns ``(df, read)``,
        where ``read()`` (after ``df`` ran) gives partition → totals."""
        names = [m.name for m in self.metrics if m.kind in ("sum", "count")]
        exprs = []
        for i, p in enumerate(parts):
            inside = self.storage.where_partition(p)
            exprs.append(F.count(F.when(inside, 1)).alias(f"{i}/rows"))
            exprs += [F.sum(F.when(inside, F.col(n))).alias(f"{i}/{n}") for n in names]
        obs = Observation()

        def read() -> dict[tuple, dict]:
            got = observed(obs)
            return {
                p: {"rows": got.get(f"{i}/rows", 0),
                    **{n: got.get(f"{i}/{n}") for n in names}}
                for i, p in enumerate(parts)
            }

        return df.observe(obs, *exprs), read

    def partitions_needing_compaction(
        self, spark: SparkSession, max_files: int = 1
    ) -> list[tuple]:
        """Partition values (keyed as in :meth:`Table.files`) whose file
        count exceeds ``max_files`` — the MergeTree 'too many parts'
        trigger, from the directory listing alone: no Spark job, no
        file opened."""
        return sorted(
            (p for p, fs in self.storage.files().items() if len(fs) > max_files),
            key=str,
        )

    # -- schema evolution (D5/D6) ---------------------------------------------
    def with_metric(self, spec: MetricSpec) -> "MaterializedView":
        """ALTER TABLE ... ADD COLUMN for an aggregate metric
        (dwm.mainpage_stat_mv_dis.sql:83-85,128-153): returns a view with
        the extra metric. Existing state files simply lack the column; their
        footers then disagree with the new files', so reads merge the file
        schemas (:meth:`Table.read`) and surface it as NULL, which is every
        kind's neutral state: history needs no rewrite (neutral backfill)."""
        return MaterializedView(
            self.name, self.dims, (*self.metrics, spec), self.storage
        )

    def with_dimension(self, dim: str) -> "MaterializedView":
        """ALTER ... ADD COLUMN dimension + MODIFY ORDER BY
        (dwm…sql:76-79): new batches aggregate at the finer grain; old
        state rows lack the column — reads merge the disagreeing file
        schemas (:meth:`Table.read`) — and carry NULL for the new dim (a
        distinct 'unknown' group, exactly like ClickHouse's default-value
        backfill)."""
        return MaterializedView(
            self.name, (*self.dims, dim), self.metrics, self.storage
        )

    # -- multi-writer wide tables -------------------------------------------------
    def union_merge(self, *state_dfs: DataFrame) -> DataFrame:
        """Union-merge state batches that fill disjoint metric columns
        (the reference's join-avoidance pattern: two MVs from two logs
        write one wide table, docs/…md:822-828,831-997). Missing columns
        are filled with the neutral state so rows merge away."""
        filled = []
        for df in state_dfs:
            cols = set(df.columns)
            missing = [m.neutral() for m in self.metrics if m.name not in cols]
            filled.append(df.select("*", *missing) if missing else df)
        out = filled[0]
        for df in filled[1:]:
            out = out.unionByName(df, allowMissingColumns=False)
        return out


def rollup_ttl(
    mv: "MaterializedView",
    spark: SparkSession,
    keep,
    coarse_dims: list[str],
    now=None,
    day_col: str = "day",
) -> int:
    """ClickHouse's ``TTL … GROUP BY k SET v = …`` — age-based ROLLUP
    instead of deletion: the state partitions older than ``now − keep``
    are compacted at ``coarse_dims`` (``mv.compact(…, group=…)``),
    dropping the finer dimensions' detail, so history keeps its
    aggregate truth at a fraction of the rows. Only the expired
    partitions are read and rewritten; recent ones are untouched.

    The dropped fine dimensions are retained as columns with NULL (the
    schema stays stable for readers; NULL = the 'rolled-up' marker,
    exactly like with_dimension's backfill convention).

    ``day_col`` must be a storage partition column: the expired
    partitions come from the directory listing, not from a data scan.
    Returns the number of partitions rolled up.
    """
    import datetime as _dt

    cutoff = (now or _dt.date.today()) - keep
    i = mv.storage.partition_by.index(day_col)
    parts = [p for p in mv.storage.files() if expired(p[i], cutoff)]
    group = coarse_dims if day_col in coarse_dims else [day_col, *coarse_dims]
    return len(mv.compact(spark, parts, group=group))
