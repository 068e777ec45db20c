"""ClickHouse RowBinary / RowBinaryWithNamesAndTypes source + sink.

The practical migration path off a ClickHouse deployment is
``SELECT ... INTO OUTFILE '...' FORMAT RowBinaryWithNamesAndTypes``
per shard — this module reads those exports straight into DataFrames
(and writes them back, for feeding results to a CH consumer during a
phased migration).

Format (ClickHouse docs, Formats → RowBinary): rows back-to-back, no
delimiters. Values: fixed-width little-endian ints/floats; String =
unsigned-LEB128 length + UTF-8 bytes; FixedString(N) = N raw bytes;
Date = UInt16 days since 1970; Date32 = Int32 days; DateTime = UInt32
unix seconds; DateTime64(p) = Int64 ticks of 10^-p s; Nullable(T) = a
flag byte (1 = NULL, nothing follows; 0 = value follows); Array(T) =
LEB128 count + elements; Enum8/16 = the numeric value (rendered to its
name using the mapping in the type string); LowCardinality(T) is
serialized as plain T in row formats (the dictionary encoding is
Native-format-only). The WithNamesAndTypes header is LEB128 column
count, then the names as Strings, then the type names as Strings.

Decimal(P<=38, S) decodes as the scaled little-endian integer the
format specifies (4/8/16 bytes by precision) into DecimalType.
UUID is the two-LE-UInt64-halves layout of the public
clickhouse-driver, rendered canonical; IPv6 = 16 network-order
bytes, IPv4 = LE UInt32, Map = LEB128 count + key/value pairs,
Tuple = the element sequence (col1..colN struct). Unsupported types
(Decimal256,
AggregateFunction
states) raise with the type name — a wrong byte-walk would corrupt
every following value in the file, so the gate is load-bearing.

Scale shape: one export file = one sequential byte-walk = one task;
parallelism comes from the file count (CH exports are per-shard /
per-chunk in practice), exactly like the binaryFile pattern in
sources/binary.py. UInt64 values >= 2^63 wrap to negative LongType —
the repo-wide documented stand-in for CH's unsigned top half.
"""

from __future__ import annotations

import os
import re
import struct
import ipaddress as _ip
import uuid as _uuid
from datetime import date, datetime, timedelta, timezone
from decimal import Context as _DecContext, Decimal as _Dec

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_EPOCH = date(1970, 1, 1)
_EPOCH_DT = datetime(1970, 1, 1, tzinfo=timezone.utc)
_DEC_CTX = _DecContext(prec=60)

_SCALARS = {
    "UInt8": ("<B", 1), "Int8": ("<b", 1),
    "UInt16": ("<H", 2), "Int16": ("<h", 2),
    "UInt32": ("<I", 4), "Int32": ("<i", 4),
    "UInt64": ("<Q", 8), "Int64": ("<q", 8),
    "Float32": ("<f", 4), "Float64": ("<d", 8),
}

_SPARK_TYPES = {
    "UInt8": T.IntegerType(), "Int8": T.IntegerType(),
    "UInt16": T.IntegerType(), "Int16": T.IntegerType(),
    "UInt32": T.LongType(), "Int32": T.IntegerType(),
    "UInt64": T.LongType(), "Int64": T.LongType(),
    "Float32": T.FloatType(), "Float64": T.DoubleType(),
    "String": T.StringType(), "Date": T.DateType(),
    "Date32": T.DateType(), "DateTime": T.TimestampType(),
}


def _read_leb128(buf: bytes, pos: int) -> tuple[int, int]:
    out = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7


def _write_leb128(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _split_types(s: str, n: int | None = 2) -> list[str]:
    """Split a CH type argument list at depth 0 (commas inside nested
    parentheses/quotes belong to inner types)."""
    parts, depth, cur, i = [], 0, [], 0
    while i < len(s):
        c = s[i]
        if c == "'":
            j = i + 1
            while j < len(s) and s[j] != "'":
                j += 2 if s[j] == "\\" else 1
            cur.append(s[i:j + 1])
            i = j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
        i += 1
    parts.append("".join(cur).strip())
    if n is not None and len(parts) != n:
        raise ValueError(f"expected {n} type arguments in {s!r}")
    return parts


class _TypeCodec:
    """decode(buf, pos) -> (value, pos); encode(value) -> bytes."""

    def __init__(self, ch_type: str):
        self.ch_type = ch_type
        t = ch_type.strip()
        low = re.fullmatch(r"LowCardinality\((.*)\)", t)
        if low:  # row formats serialize the inner type directly
            t = low.group(1).strip()
        self.nullable = False
        nul = re.fullmatch(r"Nullable\((.*)\)", t)
        if nul:
            self.nullable = True
            t = nul.group(1).strip()
        self.array_of: _TypeCodec | None = None
        arr = re.fullmatch(r"Array\((.*)\)", t)
        if arr:
            self.array_of = _TypeCodec(arr.group(1).strip())
            self.kind = "Array"
            return
        fixed = re.fullmatch(r"FixedString\((\d+)\)", t)
        if fixed:
            self.kind = "FixedString"
            self.fixed_n = int(fixed.group(1))
            return
        dt64 = re.fullmatch(r"DateTime64\((\d+)(?:\s*,.*)?\)", t)
        if dt64:
            self.kind = "DateTime64"
            self.scale = 10 ** int(dt64.group(1))
            return
        dec = re.fullmatch(
            r"Decimal\((\d+)\s*,\s*(\d+)\)|Decimal(32|64|128)\((\d+)\)", t
        )
        if dec:
            if dec.group(3):
                width_bits = int(dec.group(3))
                prec = {32: 9, 64: 18, 128: 38}[width_bits]
                scale = int(dec.group(4))
            else:
                prec, scale = int(dec.group(1)), int(dec.group(2))
            if prec > 38:
                raise ValueError(
                    "Decimal256 exceeds Spark's 38-digit DecimalType"
                )
            self.kind = "Decimal"
            self.dec_prec, self.dec_scale = prec, scale
            self.dec_width = 4 if prec <= 9 else 8 if prec <= 18 else 16
            return
        enum = re.fullmatch(r"Enum(8|16)\((.*)\)", t)
        if enum:
            self.kind = "Enum"
            self.enum_fmt = "<b" if enum.group(1) == "8" else "<h"
            self.enum_width = 1 if enum.group(1) == "8" else 2
            self.enum_map = {}
            for m in re.finditer(r"'((?:[^'\\]|\\.)*)'\s*=\s*(-?\d+)",
                                 enum.group(2)):
                self.enum_map[int(m.group(2))] = m.group(1)
            self.enum_rev = {v: k for k, v in self.enum_map.items()}
            return
        if t == "UUID":
            self.kind = "UUID"
            return
        if t == "IPv6":
            self.kind = "IPv6"
            return
        if t == "IPv4":
            self.kind = "IPv4"
            return
        mp = re.fullmatch(r"Map\((.*)\)", t)
        if mp:
            kt, vt = _split_types(mp.group(1))
            self.kind = "Map"
            self.map_k = _TypeCodec(kt)
            self.map_v = _TypeCodec(vt)
            return
        tup = re.fullmatch(r"Tuple\((.*)\)", t)
        if tup:
            self.kind = "Tuple"
            self.tuple_of = [_TypeCodec(x)
                             for x in _split_types(tup.group(1), n=None)]
            return
        if re.fullmatch(r"DateTime(\(.*\))?", t):
            self.kind = "DateTime"
            return
        if t in _SCALARS or t in ("String", "Date", "Date32"):
            self.kind = t
            return
        raise ValueError(
            f"RowBinary type {ch_type!r} is not supported here "
            "(aggregate states would desync the "
            "byte-walk); re-export those columns as String/Float64"
        )

    # -- spark schema ---------------------------------------------------
    def spark_type(self) -> T.DataType:
        if self.kind == "Array":
            return T.ArrayType(self.array_of.spark_type(),
                               self.array_of.nullable)
        if self.kind in ("FixedString", "Enum", "UUID", "IPv6",
                         "IPv4"):
            return T.StringType()
        if self.kind == "Map":
            return T.MapType(self.map_k.spark_type(),
                             self.map_v.spark_type(),
                             self.map_v.nullable)
        if self.kind == "Tuple":
            return T.StructType([
                T.StructField(f"col{i + 1}", c.spark_type(),
                              c.nullable)
                for i, c in enumerate(self.tuple_of)
            ])
        if self.kind == "DateTime64":
            return T.TimestampType()
        if self.kind == "Decimal":
            return T.DecimalType(self.dec_prec, self.dec_scale)
        return _SPARK_TYPES[self.kind]

    # -- decode ----------------------------------------------------------
    def decode(self, buf: bytes, pos: int):
        if self.nullable:
            flag = buf[pos]
            pos += 1
            if flag:
                return None, pos
        k = self.kind
        if k == "Array":
            n, pos = _read_leb128(buf, pos)
            if n > len(buf) - pos:  # every element costs >= 1 byte —
                # a crafted count would otherwise loop forever
                raise ValueError("Array count exceeds remaining bytes")
            out = []
            for _ in range(n):
                v, pos = self.array_of.decode(buf, pos)
                out.append(v)
            return out, pos
        if k == "String":
            n, pos = _read_leb128(buf, pos)
            return buf[pos:pos + n].decode("utf-8", "replace"), pos + n
        if k == "FixedString":
            n = self.fixed_n
            return (buf[pos:pos + n].rstrip(b"\x00")
                    .decode("utf-8", "replace"), pos + n)
        if k == "Date":
            (d,) = struct.unpack_from("<H", buf, pos)
            return _EPOCH + timedelta(days=d), pos + 2
        if k == "Date32":
            (d,) = struct.unpack_from("<i", buf, pos)
            return _EPOCH + timedelta(days=d), pos + 4
        if k == "DateTime":
            (s,) = struct.unpack_from("<I", buf, pos)
            return datetime.fromtimestamp(s, tz=timezone.utc) \
                .replace(tzinfo=None), pos + 4
        if k == "DateTime64":
            (ticks,) = struct.unpack_from("<q", buf, pos)
            whole, frac = divmod(ticks, self.scale)
            micros = frac * 1_000_000 // self.scale
            return (datetime.fromtimestamp(whole, tz=timezone.utc)
                    .replace(tzinfo=None)
                    + timedelta(microseconds=micros)), pos + 8
        if k == "Decimal":
            w = self.dec_width
            if pos + w > len(buf):
                raise ValueError("RowBinary stream ended mid-row")
            raw = int.from_bytes(buf[pos:pos + w], "little", signed=True)
            # default Decimal context rounds at 28 digits — Decimal128
            # carries up to 38, so scale in an explicit wide context
            return _Dec(raw).scaleb(-self.dec_scale, _DEC_CTX), pos + w
        if k == "UUID":
            # CH writes the UInt128 as two little-endian UInt64 words,
            # high half first (public clickhouse-driver layout)
            hi, lo = struct.unpack_from("<QQ", buf, pos)
            return str(_uuid.UUID(int=(hi << 64) | lo)), pos + 16
        if k == "IPv6":  # 16 network-order bytes
            if pos + 16 > len(buf):
                raise ValueError("RowBinary stream ended mid-row")
            return str(_ip.IPv6Address(buf[pos:pos + 16])), pos + 16
        if k == "IPv4":  # UInt32 little-endian
            (v,) = struct.unpack_from("<I", buf, pos)
            return str(_ip.IPv4Address(v)), pos + 4
        if k == "Map":
            n, pos = _read_leb128(buf, pos)
            if n > len(buf) - pos:
                raise ValueError("Map count exceeds remaining bytes")
            out = {}
            for _ in range(n):
                kk, pos = self.map_k.decode(buf, pos)
                vv, pos = self.map_v.decode(buf, pos)
                out[kk] = vv
            return out, pos
        if k == "Tuple":
            vals = []
            for c in self.tuple_of:
                v, pos = c.decode(buf, pos)
                vals.append(v)
            return tuple(vals), pos
        if k == "Enum":
            (v,) = struct.unpack_from(self.enum_fmt, buf, pos)
            return self.enum_map.get(v, str(v)), pos + self.enum_width
        fmt, width = _SCALARS[k]
        (v,) = struct.unpack_from(fmt, buf, pos)
        if k == "UInt64" and v >= 1 << 63:  # LongType two's-complement
            v -= 1 << 64
        if k == "UInt32":
            v = int(v)
        return v, pos + width

    # -- encode ----------------------------------------------------------
    def encode(self, v) -> bytes:
        if self.nullable:
            if v is None:
                return b"\x01"
            return b"\x00" + self._encode_value(v)
        if v is None:
            raise ValueError(
                f"NULL in non-Nullable RowBinary column ({self.ch_type})"
            )
        return self._encode_value(v)

    def _encode_value(self, v) -> bytes:
        k = self.kind
        if k == "Array":
            return _write_leb128(len(v)) + b"".join(
                self.array_of.encode(x) for x in v
            )
        if k == "String":
            b = v.encode("utf-8")
            return _write_leb128(len(b)) + b
        if k == "FixedString":
            b = v.encode("utf-8")
            if len(b) > self.fixed_n:
                raise ValueError("FixedString overflow")
            return b.ljust(self.fixed_n, b"\x00")
        if k == "Date":
            return struct.pack("<H", (v - _EPOCH).days)
        if k == "Date32":
            return struct.pack("<i", (v - _EPOCH).days)
        if k == "DateTime":
            return struct.pack(
                "<I", int(v.replace(tzinfo=timezone.utc).timestamp())
            )
        if k == "DateTime64":
            # total integer microseconds since epoch, floor-divided to
            # ticks: int(timestamp())*scale truncates toward zero, so
            # pre-epoch sub-second values (e.g. 1969-12-31 23:59:59.5)
            # would encode the fractional part with the wrong sign and
            # break the decode roundtrip (ADVICE r5)
            micros = (
                v.replace(tzinfo=timezone.utc)
                - _EPOCH_DT
            ) // timedelta(microseconds=1)
            return struct.pack("<q", micros * self.scale // 1_000_000)
        if k == "Decimal":
            raw = int(_Dec(v).scaleb(self.dec_scale, _DEC_CTX))
            return raw.to_bytes(self.dec_width, "little", signed=True)
        if k == "UUID":
            n = _uuid.UUID(str(v)).int
            return struct.pack("<QQ", (n >> 64) & (2**64 - 1),
                               n & (2**64 - 1))
        if k == "IPv6":
            return _ip.IPv6Address(v).packed
        if k == "IPv4":
            return struct.pack("<I", int(_ip.IPv4Address(v)))
        if k == "Map":
            items = v.items() if isinstance(v, dict) else list(v)
            out = [_write_leb128(len(v))]
            for kk, vv in items:
                out.append(self.map_k.encode(kk))
                out.append(self.map_v.encode(vv))
            return b"".join(out)
        if k == "Tuple":
            return b"".join(c.encode(x)
                            for c, x in zip(self.tuple_of, v))
        if k == "Enum":
            return struct.pack(self.enum_fmt, self.enum_rev[v])
        fmt, _ = _SCALARS[k]
        if k == "UInt64" and v < 0:
            v += 1 << 64
        return struct.pack(fmt, v)


def parse_header(buf: bytes) -> tuple[list[str], list[str], int]:
    """(names, ch_types, body_offset) of a WithNamesAndTypes stream."""
    ncols, pos = _read_leb128(buf, 0)
    names, types = [], []
    for target in (names, types):
        for _ in range(ncols):
            n, pos = _read_leb128(buf, pos)
            target.append(buf[pos:pos + n].decode("utf-8"))
            pos += n
    return names, types, pos


def parse_rowbinary(
    buf: bytes,
    ch_types: list[str] | None = None,
) -> tuple[list[str] | None, list[str], list[tuple]]:
    """Decode one stream. With ``ch_types`` given, the stream is
    headerless plain RowBinary; otherwise the WithNamesAndTypes
    header supplies names and types. Returns (names, types, rows)."""
    names = None
    pos = 0
    if ch_types is None:
        names, ch_types, pos = parse_header(buf)
    codecs = [_TypeCodec(t) for t in ch_types]
    rows = []
    end = len(buf)
    while pos < end:
        row = []
        try:
            for c in codecs:
                v, pos = c.decode(buf, pos)
                row.append(v)
        except (struct.error, IndexError):
            raise ValueError("RowBinary stream ended mid-row") from None
        rows.append(tuple(row))
    if pos != end:
        raise ValueError("RowBinary stream ended mid-row")
    return names, ch_types, rows


def spark_schema(names: list[str], ch_types: list[str]) -> T.StructType:
    fields = []
    for n, t in zip(names, ch_types):
        c = _TypeCodec(t)
        fields.append(T.StructField(n, c.spark_type(), True))
    return T.StructType(fields)


def read_rowbinary(
    spark: SparkSession,
    path: str,
    ch_types: list[str] | None = None,
    names: list[str] | None = None,
) -> DataFrame:
    """Read a directory/glob of RowBinaryWithNamesAndTypes files (or
    headerless RowBinary when ``ch_types`` + ``names`` are given).
    Schema comes from the first file's header on the driver; every
    file then decodes in its own task via mapInPandas over
    binaryFile rows — parallelism = file count, the shape CH
    per-shard exports actually have."""
    import pandas as pd

    if (ch_types is None) != (names is None):
        raise ValueError("pass both names and ch_types, or neither")
    binf = spark.read.format("binaryFile").load(path)
    expect_header = ch_types is None
    if expect_header:
        head = binf.select("content").head()
        if head is None:
            raise ValueError(f"no RowBinary files under {path}")
        names, ch_types, _ = parse_header(bytes(head["content"]))
    schema = spark_schema(names, ch_types)
    types_bc = list(ch_types)
    names_bc = list(names)

    def gen(batches):
        for pdf in batches:
            out_rows = []
            for blob in pdf["content"]:
                buf = bytes(blob)
                if expect_header:
                    _, ts, rows = parse_rowbinary(buf, None)
                    if ts != types_bc:
                        raise ValueError(
                            f"file types {ts} != expected {types_bc}"
                        )
                else:
                    _, _, rows = parse_rowbinary(buf, types_bc)
                out_rows.extend(rows)
            yield pd.DataFrame(out_rows, columns=names_bc)

    return binf.select("content").mapInPandas(gen, schema=schema)


def write_rowbinary(
    df: DataFrame,
    out_dir: str,
    ch_types: list[str],
    *,
    with_header: bool = True,
) -> int:
    """Write each partition as one ``part-*.rowbinary`` file under
    ``out_dir`` (local filesystem — the test/CI sink; at scale point
    this at a fuse mount or swap the open() for a hadoop stream).
    Returns the number of files written."""
    names = df.columns
    if len(ch_types) != len(names):
        raise ValueError("ch_types must match df.columns")
    os.makedirs(out_dir, exist_ok=True)
    header = b""
    if with_header:
        header = _write_leb128(len(names))
        for n in names:
            nb = n.encode("utf-8")
            header += _write_leb128(len(nb)) + nb
        for t in ch_types:
            tb = t.encode("utf-8")
            header += _write_leb128(len(tb)) + tb

    types_local = list(ch_types)

    def write_part(it):
        codecs = [_TypeCodec(t) for t in types_local]
        chunks = [header]
        n = 0
        for row in it:
            for c, v in zip(codecs, row):
                chunks.append(c.encode(v))
            n += 1
        if n == 0:
            return iter(())
        fname = os.path.join(
            out_dir, f"part-{_uuid.uuid4().hex}.rowbinary"
        )
        with open(fname, "wb") as f:
            f.write(b"".join(chunks))
        return iter((fname,))

    files = df.rdd.mapPartitions(write_part).collect()
    return len(files)
