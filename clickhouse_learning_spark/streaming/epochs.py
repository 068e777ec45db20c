"""One epoch-commit protocol for every ``foreachBatch`` sink.

Spark replays the last micro-batch whose offsets are logged but whose
``commits/<N>`` entry is not — exactly what a crash between a sink's
write and Spark's commit log leaves behind. The reference's MVs get
exactly-once from ClickHouse's insert dedup plus the rebalancer's
before/after reconciliation; here every sink commits epoch ``N`` through
:func:`commit_epoch`, in four steps:

1. **stage** — the sink writes every output under ``<root>/_stage-<key>-<N>``
   inside each destination root. Spark's file index skips ``_``-prefixed
   names that hold no ``=``, so neither readers nor the sink's own probes
   see staged rows.
2. **manifest** — ``<checkpoint>/epochs/<N>.manifest`` lists every staged
   data file with its published path, plus the epoch's counts; it is
   written atomically (temp file + rename).
3. **publish** — each listed file is renamed into the unchanged reader
   layout: a *merged* root keeps the staged layout (a ``Table``'s
   ``day=`` files land beside the existing parts); a *keyed* root gets one
   ``epoch=<N>`` directory, which afterwards holds exactly the epoch's
   files (anything else there — a run under another checkpoint — is
   removed). The staging dirs are then deleted.
4. **marker** — the manifest is renamed to ``<checkpoint>/epochs/<N>``:
   the stream's per-epoch ledger of counts and published files.

On replay an epoch with a marker is a no-op; an epoch with a manifest
rolls forward — files still staged are moved, nothing is recomputed, so
no sink re-probes or re-appends its own output; any other epoch is
staged again from scratch. Markers live under the stream's checkpoint
because epoch ids restart at 0 for each checkpoint, and ``<key>`` hashes
the checkpoint path, so two streams feeding one table (a wide MV table
with two writers) never share a staging dir.

The counts are ``Observation`` metrics — rows in (the micro-batch) and
rows written (every frame the sink passes through :meth:`Stage.written`;
whatever else it writes must derive from those frames) — collected by
the sink's own write jobs, so they cost no extra job. An epoch that
wrote no rows publishes nothing (an empty unpartitioned parquet write
still leaves a schema-only file behind), which replaces the
``isEmpty()`` probe each sink used to run as an extra job.

Staging sits next to the data on purpose: the publish is a same-
filesystem rename. It is not an ``_epoch=<N>`` level under ``day=``:
Spark treats a ``_``-name holding ``=`` as a partition directory.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections.abc import Callable, Sequence
from dataclasses import replace

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from clickhouse_learning_spark.tables import data_files


def _counter(df: DataFrame) -> tuple[DataFrame, Observation]:
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def observed(obs: Observation) -> dict:
    """``obs``'s metrics by name, once the observed frame has run.

    AQE replaces a stage whose input proved empty at run time, observed
    node included; the observation then holds an empty row, which
    ``Observation.get`` cannot convert. Empty means no rows were seen,
    and gives ``{}``."""
    return obs.get if obs._jo.getRow().length() else {}


def _rows(obs: Observation) -> int:
    return observed(obs).get("n", 0)


class Stage:
    """Where one epoch's sink writes, and what it wrote."""

    def __init__(self, name: str):
        self._name = name
        self._written: list[Observation] = []

    def dir(self, root: str) -> str:
        """The staging dir of destination ``root``."""
        return os.path.join(root, self._name)

    def written(self, df: DataFrame) -> DataFrame:
        """``df``, counted into the epoch's rows-written total."""
        df, obs = _counter(df)
        self._written.append(obs)
        return df

    def append(self, table, df: DataFrame) -> None:
        """Stage a ``Table.append`` of ``df`` (same writer, staged path)."""
        replace(table, path=self.dir(table.path)).append(self.written(df))


def _publish(plan: dict) -> None:
    """Make every keyed dir hold only the epoch's files, move the files
    still staged, drop the staging dirs. Idempotent, so a roll-forward
    just repeats it."""
    for d in plan["keyed"]:
        ours = {os.path.relpath(dst, d).split(os.sep)[0]
                for _, dst in plan["files"] if dst.startswith(d + os.sep)}
        for n in set(os.listdir(d) if os.path.isdir(d) else ()) - ours:
            p = os.path.join(d, n)
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)
    for src, dst in plan["files"]:
        if os.path.exists(src):
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(src, dst)
        elif not os.path.exists(dst):
            raise FileNotFoundError(f"staged file {src} vanished before publish")
    for d in plan["stages"]:
        shutil.rmtree(d, ignore_errors=True)


def commit_epoch(
    checkpoint: str,
    epoch: int,
    batch: DataFrame,
    write: Callable[[DataFrame, Stage], None],
    *,
    merged: Sequence[str] = (),
    keyed: Sequence[str] = (),
) -> dict:
    """Commit epoch ``epoch`` of the stream checkpointed at
    ``checkpoint``: ``write(batch, stage)`` writes the sink's outputs
    under ``stage.dir(root)`` for roots in ``merged`` (published into the
    root's own layout) and ``keyed`` (published as ``root/epoch=<N>``).
    Returns the epoch's counts ``{"rows_in", "rows_written"}``."""
    ledger = os.path.join(checkpoint, "epochs")
    marker = os.path.join(ledger, str(epoch))
    manifest = marker + ".manifest"
    if not os.path.exists(marker):
        if not os.path.exists(manifest):
            _stage(manifest, checkpoint, epoch, batch, write, merged, keyed)
        with open(manifest) as f:
            _publish(json.load(f))
        os.replace(manifest, marker)
    with open(marker) as f:
        return json.load(f)["counts"]


def _stage(manifest, checkpoint, epoch, batch, write, merged, keyed) -> None:
    key = hashlib.sha1(os.path.abspath(checkpoint).encode()).hexdigest()[:12]
    stage = Stage(f"_stage-{key}-{epoch}")
    dest = {r: r for r in merged} | {r: os.path.join(r, f"epoch={epoch}") for r in keyed}
    for r in dest:
        shutil.rmtree(stage.dir(r), ignore_errors=True)
    counted, rows_in = _counter(batch)
    write(counted, stage)
    counts = {"rows_in": _rows(rows_in),
              "rows_written": sum(_rows(o) for o in stage._written)}
    files = [
        [src, os.path.join(dest[r], os.path.relpath(src, stage.dir(r)))]
        for r in dest if counts["rows_written"]
        for src in sorted(data_files(stage.dir(r)))
    ]
    os.makedirs(os.path.dirname(manifest), exist_ok=True)
    with open(manifest + ".tmp", "w") as f:
        json.dump({"counts": counts, "files": files,
                   "keyed": [dest[r] for r in keyed],
                   "stages": [stage.dir(r) for r in dest]}, f)
    os.replace(manifest + ".tmp", manifest)
