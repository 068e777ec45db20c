"""Seeded event generator and the exact answers the engine must reproduce.

The shape follows the reference generator (make_user_action_001.py:50-75):
skewed uids with a ``uid % 13 == 0`` clicker cohort, the four funnel event
types of ``mv/mainpage.py`` and a small fixed share of late events that
land in the previous day. The engine only ever sees the parquet files
written here; the answers are recomputed from the same arrays with pandas.
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
STAGES = ("view", "click", "signup", "purchase")
# stage probabilities outside / inside the clicker cohort
STAGE_P = (0.62, 0.25, 0.09, 0.04)
COHORT_STAGE_P = (0.35, 0.40, 0.15, 0.10)
N_USERS = 20_000
LATE_SHARE = 0.02
US_PER_HOUR = 3_600_000_000
US_PER_DAY = 24 * US_PER_HOUR
# simulated time starts here (µs since the Unix epoch, UTC)
T0_US = int(np.datetime64("2026-01-01T00:00:00", "us").astype(np.int64))
UNKNOWN_SEGMENT = "UNKNOWN"
# HyperLogLog UV: 3 standard errors of a 2^12-register sketch
HLL_REL_BOUND = 3 * 1.04 / 2**6

EVENT_SCHEMA = pa.schema(
    [
        ("uid", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("second", pa.timestamp("us", tz="UTC")),
    ]
)


class CheckFailed(Exception):
    """An engine answer differs from the exact recomputation."""


class EventGen:
    """All random draws of one run come from one seeded generator, in a
    fixed order, so a seed always yields the same files."""

    def __init__(self, seed: int, n_users: int = N_USERS) -> None:
        self.rng = np.random.default_rng(seed)
        self.n_users = n_users
        self.frames: list[pd.DataFrame] = []

    def dim(self) -> pa.Table:
        """The user dictionary: uid → segment. Every 41st user is missing
        so lookups exercise the dictionary's declared default."""
        uid = np.arange(self.n_users, dtype=np.int64)
        seg = self.rng.integers(0, len(SEGMENTS), self.n_users)
        keep = uid % 41 != 7
        self.segment_of = np.full(self.n_users, UNKNOWN_SEGMENT, dtype=object)
        self.segment_of[keep] = np.array(SEGMENTS, dtype=object)[seg[keep]]
        return pa.table(
            {"uid": uid[keep], "segment": np.array(SEGMENTS)[seg[keep]]}
        )

    def events(self, n: int, start_us: int, span_us: int) -> pa.Table:
        """``n`` events with timestamps in [start, start+span); late events
        are moved back one day unless that would precede T0."""
        rng = self.rng
        uid = (self.n_users * rng.random(n) ** 3).astype(np.int64)
        cohort = uid % 13 == 0
        u = rng.random(n)
        cut = np.where(
            cohort[:, None],
            np.cumsum(COHORT_STAGE_P)[None, :],
            np.cumsum(STAGE_P)[None, :],
        )
        stage = np.minimum((u[:, None] > cut).sum(axis=1), len(STAGES) - 1)
        value = rng.integers(1, 60_000, n) / 1000.0
        ts = start_us + rng.integers(0, span_us, n)
        late = (rng.random(n) < LATE_SHARE) & (ts - US_PER_DAY >= T0_US)
        ts = np.where(late, ts - US_PER_DAY, ts)
        etype = np.array(STAGES, dtype=object)[stage]
        self.frames.append(
            pd.DataFrame({"uid": uid, "event_type": etype, "value": value, "ts": ts})
        )
        return pa.table(
            {
                "uid": uid,
                "event_type": pa.array(etype, pa.string()),
                "value": value,
                "second": pa.array(ts, pa.timestamp("us", tz="UTC")),
            },
            schema=EVENT_SCHEMA,
        )

    def log(self, upto: int | None = None) -> pd.DataFrame:
        """Events of the first ``upto`` batches (default: all generated so
        far), with the columns the view derives:
        day, hour, segment (dictionary lookup with default) and the
        integer milli-value the state table stores."""
        df = pd.concat(self.frames[:upto], ignore_index=True)
        ts = pd.to_datetime(df["ts"], unit="us")
        df["day"] = ts.dt.date
        df["hour"] = ts.dt.floor("h")
        df["segment"] = self.segment_of[df["uid"].to_numpy()]
        # CAST(value * 1000 AS BIGINT): same IEEE product, truncated
        df["milli"] = (df["value"].to_numpy() * 1000.0).astype(np.int64)
        return df


def write_parquet(table: pa.Table, path: str | Path) -> int:
    """Write atomically (temp name + rename); returns bytes written."""
    path = Path(path)
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_name("." + path.name + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return path.stat().st_size


def write_day_partitioned(table: pa.Table, root: str | Path, name: str) -> None:
    """Write the raw log hive-style under ``root/day=YYYY-MM-DD/``."""
    df = table.to_pandas()
    days = (df["second"].astype("int64") // US_PER_DAY).to_numpy()
    for d in np.unique(days):
        part = table.filter(pa.array(days == d))
        day = np.datetime64(int(d), "D")
        write_parquet(part, Path(root) / f"day={day}" / f"{name}.parquet")


# -- exact answers ----------------------------------------------------------------
def _key(key) -> tuple:
    key = key if isinstance(key, tuple) else (key,)
    return tuple(k.to_pydatetime() if isinstance(k, pd.Timestamp) else k for k in key)


def metric_rows(log: pd.DataFrame, by: list[str]) -> dict[tuple, dict]:
    """Finalized mainpage metrics per group, computed exactly. ``*_uv`` is
    the exact distinct count the HLL sketch must approximate."""
    out: dict[tuple, dict] = {}
    for key, g in log.groupby(by, sort=True):
        key = _key(key)
        row: dict = {}
        for t in STAGES:
            s = g[g["event_type"] == t]
            n_uid = int(s["uid"].nunique())
            row[f"{t}_uv"] = n_uid
            row[f"{t}_cnt"] = len(s)
            row[f"{t}_bm"] = n_uid
        row["value_sum"] = int(g["milli"].sum())
        row["value_median"] = float(np.median(g["milli"].to_numpy()))
        row["event_cnt"] = len(g)
        out[key] = row
    return out


def funnel_rows(log: pd.DataFrame) -> dict[tuple, dict]:
    """Per day: users who viewed; viewed and clicked; … all four stages."""
    out = {}
    for day, g in log.groupby("day", sort=True):
        sets = [set(g.loc[g["event_type"] == t, "uid"]) for t in STAGES]
        acc = sets[0]
        row = {"f1": len(acc)}
        for i, s in enumerate(sets[1:], start=2):
            acc = acc & s
            row[f"f{i}"] = len(acc)
        out[(day,)] = row
    return out


def dict_uv_rows(log: pd.DataFrame, day) -> dict[tuple, dict]:
    g = log[log["day"] == day]
    return {
        (seg,): {"uv": int(s["uid"].nunique())}
        for seg, s in g.groupby("segment", sort=True)
    }


def compare(name: str, got: dict[tuple, dict], want: dict[tuple, dict]) -> None:
    """Raise naming the op and the first difference. ``*_uv`` columns of
    the view are HLL estimates and must fall within HLL_REL_BOUND."""
    if set(got) != set(want):
        missing = sorted(set(want) - set(got), key=str)[:3]
        extra = sorted(set(got) - set(want), key=str)[:3]
        raise CheckFailed(f"{name}: groups differ: missing {missing} extra {extra}")
    for key, w in want.items():
        g = got[key]
        for col, wv in w.items():
            gv = g[col]
            if col.endswith("_uv") and col != "uv":
                ok = abs(gv - wv) <= max(HLL_REL_BOUND * wv, 1)
            else:
                ok = gv == wv
            if not ok:
                raise CheckFailed(f"{name}: {key} {col} = {gv}, expected {wv}")


def answer_hash(rows: dict[tuple, dict]) -> str:
    h = hashlib.sha1()
    for key in sorted(rows, key=repr):
        h.update(repr((key, sorted(rows[key].items()))).encode())
    return h.hexdigest()
