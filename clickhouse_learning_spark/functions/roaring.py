"""Roaring-compressed bitmap states (the reference's ``groupBitmap``
state representation).

The reference stores funnel uid-sets as compressed roaring bitmaps
(``AggregateFunction(groupBitmap, UInt32)`` —
/root/reference/scripts/sql/dwm.mainpage_stat_mv_dis.sql:134-139). The
default ``bitmap`` kind in this repo keeps a sorted ``array<long>``
id-set: exact, fully JVM-side/codegen, and faster at the reference's
own cardinalities (≤15k uids/group). At 100 TB funnel cardinalities
(10⁸ uids/day/group) an uncompressed long array costs ~8 B/uid in every
state row; roaring costs ~2 B/uid for sparse sets and ~1-2 *bits*/uid
for dense ranges. This module is that escape hatch:
``MetricSpec(kind="bitmap", representation="roaring")`` stores the state
as ``BinaryType`` roaring bytes.

Design:

- The *hot* per-row path stays JVM-side: partial states still build with
  a codegen ``collect_set``; only the per-*group* conversion to bytes and
  the per-group set algebra (union / intersect / cardinality) run in
  Python — Arrow-batched scalar pandas UDFs over O(groups) rows, never
  O(rows).
- The codec is pure numpy (no roaring library in this container) and
  implements the actual roaring container scheme (Chambi et al. 2016,
  "Better bitmap performance with Roaring bitmaps"): values are 32-bit;
  the high 16 bits select a container; a container with ≤4096 values is
  a sorted ``uint16`` array (≤2 B/value), a denser one is a 65536-bit
  bitset (fixed 8 KiB — ≤1 bit/value at full density). This is the same
  representation ClickHouse's ``groupBitmap`` uses internally.
- The stored form is an internal format (magic ``RB1``) whose header
  carries the cardinality for O(1) ``bitmapCardinality``;
  ``to_portable`` / ``from_portable`` (round 3) convert to/from the
  published CRoaring portable format (RoaringFormatSpec) so state
  tables interoperate with external roaring consumers — export with
  ``roaring_to_portable``, import with ``roaring_from_portable``.

Set algebra deserializes to sorted uint32 arrays and uses numpy set ops;
per-container galloping would shave constants but the arrays are
per-group states, off the hot path by construction.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, LongType

_MAGIC = b"RB1\x00"
_HDR = len(_MAGIC) + 4 + 8  # magic + uint32 n_containers + uint64 cardinality
_ARRAY_CUTOFF = 4096  # roaring's array→bitmap container threshold
_BITSET_BYTES = 65536 // 8


def serialize(values) -> bytes:
    """Sorted-unique uint32 set → roaring bytes.

    Accepts any int sequence; values are deduplicated. Raises on values
    outside [0, 2³²) — roaring is a 32-bit structure, same as ClickHouse
    ``groupBitmap(UInt32)``. Hash-derived 64-bit ids (``uniq_tuple``)
    must keep the default array representation.
    """
    v = np.asarray(values, dtype=np.int64)
    if v.size:
        if v.min() < 0 or v.max() > 0xFFFFFFFF:
            raise ValueError(
                "roaring bitmap values must be in [0, 2^32); use "
                'representation="array" for 64-bit / hashed ids'
            )
    v = np.unique(v).astype(np.uint32)
    high = (v >> np.uint32(16)).astype(np.uint16)
    low = (v & np.uint32(0xFFFF)).astype(np.uint16)
    keys, starts = np.unique(high, return_index=True)
    bounds = np.append(starts, v.size)
    parts = [
        _MAGIC,
        np.uint32(len(keys)).tobytes(),
        np.uint64(v.size).tobytes(),
    ]
    for i, k in enumerate(keys):
        lows = low[bounds[i] : bounds[i + 1]]
        n = lows.size
        if n <= _ARRAY_CUTOFF:
            parts.append(
                np.uint16(k).tobytes()
                + b"\x00"
                + np.uint32(n).tobytes()
                + lows.tobytes()
            )
        else:
            bm = np.zeros(65536, dtype=bool)
            bm[lows] = True
            parts.append(
                np.uint16(k).tobytes()
                + b"\x01"
                + np.uint32(n).tobytes()
                + np.packbits(bm, bitorder="little").tobytes()
            )
    return b"".join(parts)


def deserialize(b: bytes) -> np.ndarray:
    """Roaring bytes → sorted uint32 numpy array."""
    if b[: len(_MAGIC)] != _MAGIC:
        raise ValueError("not a roaring state (bad magic)")
    n_containers = int(np.frombuffer(b, dtype=np.uint32, count=1, offset=len(_MAGIC))[0])
    out = []
    off = _HDR
    for _ in range(n_containers):
        k = int(np.frombuffer(b, dtype=np.uint16, count=1, offset=off)[0])
        ctype = b[off + 2]
        n = int(np.frombuffer(b, dtype=np.uint32, count=1, offset=off + 3)[0])
        off += 7
        if ctype == 0:
            lows = np.frombuffer(b, dtype=np.uint16, count=n, offset=off)
            off += 2 * n
        else:
            bits = np.frombuffer(b, dtype=np.uint8, count=_BITSET_BYTES, offset=off)
            lows = np.nonzero(np.unpackbits(bits, bitorder="little"))[0].astype(np.uint16)
            off += _BITSET_BYTES
        out.append((np.uint32(k) << np.uint32(16)) | lows.astype(np.uint32))
    if not out:
        return np.empty(0, dtype=np.uint32)
    return np.concatenate(out)


def cardinality(b: bytes) -> int:
    """O(1) — read from the header."""
    return int(np.frombuffer(b, dtype=np.uint64, count=1, offset=len(_MAGIC) + 4)[0])


# -- CRoaring portable format (RoaringFormatSpec) -----------------------------
#
# The interchange format every mainstream roaring implementation
# (CRoaring, RoaringBitmap/Java, pyroaring, ClickHouse's
# bitmapSerialize for large sets) reads and writes — published at
# github.com/RoaringBitmap/RoaringFormatSpec. Layout (little-endian):
#
#   no-run form:  uint32 cookie=12346 | uint32 n_containers |
#                 n × (uint16 key, uint16 card-1)   descriptive header
#                 n × uint32 offset                 offset header
#                 container data (array: sorted uint16[]; bitmap: 8 KiB)
#   run form:     uint16 cookie=12347, uint16 n-1 | ceil(n/8) run-flag
#                 bytes | descriptive header | offset header only when
#                 n >= 4 | data (run: uint16 n_runs, then n_runs ×
#                 (uint16 start, uint16 len-1))
#
# ``to_portable`` always emits the no-run form (runs are an encoder
# choice — readers must accept both); ``from_portable`` reads both.

_COOKIE_NO_RUN = 12346
_COOKIE_RUN = 12347


def to_portable(b: bytes) -> bytes:
    """Internal ``RB1`` state → CRoaring portable bytes (no-run form) —
    the output loads in any roaring library (`pyroaring
    BitMap.deserialize`, Java `RoaringBitmap.deserialize`,
    `croaring portable_deserialize`)."""
    v = deserialize(b)
    high = (v >> np.uint32(16)).astype(np.uint16)
    low = (v & np.uint32(0xFFFF)).astype(np.uint16)
    keys, starts = np.unique(high, return_index=True)
    bounds = np.append(starts, v.size)
    size = len(keys)
    desc, data = [], []
    for i, k in enumerate(keys):
        lows = low[bounds[i] : bounds[i + 1]]
        n = lows.size
        desc.append(np.uint16(k).tobytes() + np.uint16(n - 1).tobytes())
        if n > _ARRAY_CUTOFF:
            bm = np.zeros(65536, dtype=bool)
            bm[lows] = True
            data.append(np.packbits(bm, bitorder="little").tobytes())
        else:
            data.append(lows.astype("<u2").tobytes())
    head = np.uint32(_COOKIE_NO_RUN).tobytes() + np.uint32(size).tobytes()
    data_start = 8 + 4 * size + 4 * size
    offsets, pos = [], data_start
    for d in data:
        offsets.append(np.uint32(pos).tobytes())
        pos += len(d)
    return head + b"".join(desc) + b"".join(offsets) + b"".join(data)


def from_portable(data: bytes) -> bytes:
    """CRoaring portable bytes (either cookie form, run containers
    included) → internal ``RB1`` state."""
    cookie32 = int(np.frombuffer(data, dtype=np.uint32, count=1, offset=0)[0])
    if cookie32 == _COOKIE_NO_RUN:
        size = int(np.frombuffer(data, dtype=np.uint32, count=1, offset=4)[0])
        run_flags = np.zeros(size, dtype=bool)
        off = 8
    elif (cookie32 & 0xFFFF) == _COOKIE_RUN:
        size = (cookie32 >> 16) + 1
        nbytes = (size + 7) // 8
        run_flags = np.unpackbits(
            np.frombuffer(data, dtype=np.uint8, count=nbytes, offset=4),
            bitorder="little",
        )[:size].astype(bool)
        off = 4 + nbytes
    else:
        raise ValueError("not a portable roaring bitmap (bad cookie)")
    keys = np.frombuffer(data, dtype="<u2", count=2 * size, offset=off)[0::2]
    cards = (
        np.frombuffer(data, dtype="<u2", count=2 * size, offset=off)[1::2].astype(
            np.int64
        )
        + 1
    )
    off += 4 * size
    if cookie32 == _COOKIE_NO_RUN or size >= 4:
        off += 4 * size  # offset header (recomputable; skip)
    out = []
    for i in range(size):
        k = np.uint32(keys[i]) << np.uint32(16)
        if run_flags[i]:
            n_runs = int(np.frombuffer(data, dtype="<u2", count=1, offset=off)[0])
            runs = np.frombuffer(
                data, dtype="<u2", count=2 * n_runs, offset=off + 2
            ).astype(np.uint32)
            off += 2 + 4 * n_runs
            lows = np.concatenate(
                [
                    np.arange(runs[2 * j], runs[2 * j] + runs[2 * j + 1] + 1)
                    for j in range(n_runs)
                ]
            ).astype(np.uint32) if n_runs else np.empty(0, dtype=np.uint32)
        elif cards[i] > _ARRAY_CUTOFF:
            bits = np.frombuffer(data, dtype=np.uint8, count=_BITSET_BYTES, offset=off)
            lows = np.nonzero(np.unpackbits(bits, bitorder="little"))[0].astype(
                np.uint32
            )
            off += _BITSET_BYTES
        else:
            lows = np.frombuffer(
                data, dtype="<u2", count=int(cards[i]), offset=off
            ).astype(np.uint32)
            off += 2 * int(cards[i])
        out.append(k | lows)
    values = np.concatenate(out) if out else np.empty(0, dtype=np.uint32)
    return serialize(values)


def union_bytes(parts) -> bytes | None:
    """Union many roaring states (None elements are neutral)."""
    arrs = [deserialize(p) for p in parts if p is not None]
    if not arrs:
        return None
    if len(arrs) == 1:
        return serialize(arrs[0])
    return serialize(np.unique(np.concatenate(arrs)))


# -- Arrow-batched column functions -------------------------------------------


@pandas_udf(BinaryType())
def roaring_from_array(s: pd.Series) -> pd.Series:
    """array<long> id-set column → roaring bytes (NULL-preserving)."""
    return s.map(lambda a: None if a is None else serialize(a))


@pandas_udf(BinaryType())
def roaring_to_portable(s: pd.Series) -> pd.Series:
    """Internal roaring state column → CRoaring portable bytes — the
    export step for state tables consumed by external roaring readers
    (pyroaring/Java/CRoaring/ClickHouse)."""
    return s.map(lambda b: None if b is None else to_portable(b))


@pandas_udf(BinaryType())
def roaring_from_portable(s: pd.Series) -> pd.Series:
    """CRoaring portable bytes column → internal roaring state — the
    import step for bitmap states produced by external systems."""
    return s.map(lambda b: None if b is None else from_portable(b))


@pandas_udf(BinaryType())
def roaring_union_many(s: pd.Series) -> pd.Series:
    """array<binary> of roaring states → single unioned roaring state
    (the -MergeState step; apply to ``collect_list(state)``)."""
    return s.map(lambda parts: None if parts is None else union_bytes(parts))


@pandas_udf(BinaryType())
def _roaring_and(a: pd.Series, b: pd.Series) -> pd.Series:
    out = []
    for x, y in zip(a, b):
        if x is None or y is None:
            out.append(None)
        else:
            out.append(serialize(np.intersect1d(deserialize(x), deserialize(y))))
    return pd.Series(out)


@pandas_udf(BinaryType())
def _roaring_or(a: pd.Series, b: pd.Series) -> pd.Series:
    out = []
    for x, y in zip(a, b):
        if x is None:
            out.append(y)
        elif y is None:
            out.append(x)
        else:
            out.append(serialize(np.union1d(deserialize(x), deserialize(y))))
    return pd.Series(out)


@pandas_udf(LongType())
def _roaring_cardinality(s: pd.Series) -> pd.Series:
    return s.map(lambda b: None if b is None else cardinality(b))


# ClickHouse bitmap function analogs over roaring BinaryType columns
# (dwm.mainpage_stat_mv_dis.sql:280-290) — same call shapes as the
# array-representation versions in functions.metrics.

def bitmap_and(a: Column, b: Column) -> Column:
    return _roaring_and(a, b)


def bitmap_or(a: Column, b: Column) -> Column:
    return _roaring_or(a, b)


def bitmap_cardinality(a: Column) -> Column:
    return _roaring_cardinality(a)


def bitmap_and_cardinality(a: Column, b: Column) -> Column:
    return _roaring_cardinality(_roaring_and(a, b))


def partial_state(x: Column) -> Column:
    """Per-group partial: codegen ``collect_set`` (JVM) → one Arrow
    conversion per group. Use under ``groupBy(dims)``."""
    return roaring_from_array(F.sort_array(F.collect_set(x)))


def merge_state(c: Column) -> Column:
    """Merge stored states: ``collect_list`` (JVM) → one Arrow union per
    group."""
    return roaring_union_many(F.collect_list(c))


def finalize_cardinality(c: Column) -> Column:
    return F.coalesce(_roaring_cardinality(c), F.lit(0))
