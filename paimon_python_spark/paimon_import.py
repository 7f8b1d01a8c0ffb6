"""Import a REAL Apache Paimon warehouse table into this engine.

The reference SDK reads genuine Paimon tables by delegating metadata
planning to a JVM (reference
pypaimon/py4j/java_implementation.py:154-205 — TableScan.plan runs in
Java over avro manifest lists, and partition values cross the bridge as
serialized BinaryRows decoded by
paimon-python-java-bridge/.../ParallelBytesReader.java). This engine
defines its own JSON metadata (metadata.py), so a user with an existing
Flink/Spark-written Paimon lake needs a bridge. This module is that
bridge, built from the PUBLISHED format spec
(https://paimon.apache.org/docs/master/concepts/spec/) with no JVM:

- ``schema/schema-<i>``   JSON table schema (typed field list, partition
  keys, primary keys, options);
- ``snapshot/snapshot-<i>`` + ``snapshot/LATEST`` hint — JSON snapshots
  pointing at base/delta manifest LISTS;
- ``manifest/manifest-list-*`` and ``manifest/*`` — avro files of
  nested records (read with the engine codec's generic reader);
- BinaryRow-encoded partition values / stats (8-byte-aligned null
  bitset with header byte, 8-byte fixed slots, offset+length or
  inline-compact var-length fields — Flink's BinaryRowData layout that
  Paimon inherits), length-prefixed with the 4-byte arity the
  ``SerializationUtils.serializeBinaryRow`` wire form uses.

``plan_paimon_files`` folds the manifest chain into the live file set
(driver-side metadata walk, same cost shape as the engine's own
planner). ``import_paimon_table`` materializes the table through this
engine's commit protocol: append tables copy data files verbatim
(parquet/orc are already the engine's formats) and commit them with
harvested stats; primary-key tables read the key-value files (columns
``_KEY_<k>``, ``_SEQUENCE_NUMBER``, ``_VALUE_KIND``, values) through a
distributed Spark scan, resolve the merge, and commit the merged state
— state-identical to what the JVM readers produce, with history
flattened to one snapshot (documented trade).

Container caveat, stated plainly: no Paimon JVM exists in this
environment, so the test fixture is BUILT TO THE SPEC by
``tests/test_paimon_import.py`` rather than written by Flink itself.
Byte-level conventions asserted there (bitset width, inline-string
compaction, arity prefix endianness) are exactly the documented
BinaryRow layout; validating against a Flink-written lake is the first
thing to run where one exists.
"""

from __future__ import annotations

import json
import os
import re
import struct
from dataclasses import dataclass, field
from typing import Any, List, Optional

from pyspark.sql import types as T

from paimon_python_spark._localdf import local_df

# ---- type strings ----

_SIMPLE_TYPES = {
    "BOOLEAN": T.BooleanType(),
    "TINYINT": T.ByteType(),
    "SMALLINT": T.ShortType(),
    "INT": T.IntegerType(),
    "INTEGER": T.IntegerType(),
    "BIGINT": T.LongType(),
    "FLOAT": T.FloatType(),
    "DOUBLE": T.DoubleType(),
    "STRING": T.StringType(),
    "BYTES": T.BinaryType(),
    "DATE": T.DateType(),
}


def _split_type_args(s: str) -> list:
    """Split 'K, V' / row-field lists on top-level commas (angle
    brackets and parens nest; backquoted names may contain commas)."""
    parts, depth, buf, i = [], 0, [], 0
    while i < len(s):
        ch = s[i]
        if ch == "`":
            j = s.index("`", i + 1)
            buf.append(s[i : j + 1])
            i = j + 1
            continue
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
        i += 1
    if buf:
        parts.append("".join(buf).strip())
    return parts


def parse_paimon_type(s) -> tuple[T.DataType, bool]:
    """Parse a Paimon schema-file type into a Spark type + nullability.

    Accepts BOTH spec serializations: the string form ('INT NOT NULL',
    'VARCHAR(10)', 'DECIMAL(10, 2)', nested 'ARRAY<INT>' /
    'MAP<INT, STRING>' / 'ROW<`a` INT, `b` STRING>') and the JSON
    object form real Paimon's DataTypeJsonParser writes for nested
    types ({"type": "ARRAY", "element": ...}, {"type": "MAP", "key":
    ..., "value": ...}, {"type": "ROW", "fields": [...]}, with
    'ARRAY NOT NULL'-style container nullability)."""
    if isinstance(s, dict):
        t = str(s["type"]).strip()
        nullable = True
        if t.upper().endswith("NOT NULL"):
            nullable = False
            t = t[: -len("NOT NULL")].strip()
        tu = t.upper()
        if tu == "ARRAY":
            et, en = parse_paimon_type(s["element"])
            return T.ArrayType(et, containsNull=en), nullable
        if tu == "MAP":
            kt, _kn = parse_paimon_type(s["key"])
            vt, vn = parse_paimon_type(s["value"])
            return T.MapType(kt, vt, valueContainsNull=vn), nullable
        if tu == "ROW":
            fields = []
            for fd in s["fields"]:
                ft, fn = parse_paimon_type(fd["type"])
                fields.append(T.StructField(fd["name"], ft, fn))
            return T.StructType(fields), nullable
        return parse_paimon_type(t if nullable else f"{t} NOT NULL")
    s = s.strip()
    nullable = True
    if s.upper().endswith("NOT NULL"):
        nullable = False
        s = s[: -len("NOT NULL")].strip()
    m = re.fullmatch(r"(?is)ARRAY\s*<(.*)>", s)
    if m:
        et, en = parse_paimon_type(m.group(1))
        return T.ArrayType(et, containsNull=en), nullable
    m = re.fullmatch(r"(?is)MAP\s*<(.*)>", s)
    if m:
        args = _split_type_args(m.group(1))
        if len(args) != 2:
            raise ValueError(f"paimon_import: bad MAP type string {s!r}")
        kt, _kn = parse_paimon_type(args[0])
        vt, vn = parse_paimon_type(args[1])
        return T.MapType(kt, vt, valueContainsNull=vn), nullable
    m = re.fullmatch(r"(?is)ROW\s*<(.*)>", s)
    if m:
        fields = []
        for part in _split_type_args(m.group(1)):
            fm = re.match(r"\s*(?:`([^`]+)`|(\w+))\s+(.*)", part, re.DOTALL)
            if not fm:
                raise ValueError(f"paimon_import: bad ROW field {part!r}")
            fname = fm.group(1) or fm.group(2)
            ft, fn = parse_paimon_type(fm.group(3))
            fields.append(T.StructField(fname, ft, fn))
        return T.StructType(fields), nullable
    u = s.upper()
    if u in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[u], nullable
    m = re.fullmatch(r"(VARCHAR|CHAR)\((\d+)\)", u)
    if m:
        return T.StringType(), nullable
    m = re.fullmatch(r"(VARBINARY|BINARY)\((\d+)\)", u)
    if m:
        return T.BinaryType(), nullable
    m = re.fullmatch(r"DECIMAL\((\d+)\s*,\s*(\d+)\)", u)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2))), nullable
    m = re.fullmatch(r"TIMESTAMP(?:\((\d+)\))?", u)
    if m:
        return T.TimestampNTZType(), nullable
    m = re.fullmatch(r"TIMESTAMP(?:\((\d+)\))? WITH LOCAL TIME ZONE", u)
    if m:
        return T.TimestampType(), nullable
    raise ValueError(f"paimon_import: unsupported Paimon type string {s!r}")


# ---- schema / snapshot files ----


@dataclass
class PaimonSchemaInfo:
    id: int
    spark_schema: T.StructType
    partition_keys: List[str]
    primary_keys: List[str]
    options: dict = field(default_factory=dict)
    #: Paimon field ids parallel to ``spark_schema.fields`` — the
    #: stable identity rename/reorder evolution maps by (reference
    #: data_file_record_reader.py:86-98 builds the same index mapping)
    field_ids: List[int] = field(default_factory=list)


def read_paimon_schema(table_path: str, schema_id: Optional[int] = None) -> PaimonSchemaInfo:
    sdir = os.path.join(table_path, "schema")
    if schema_id is None:
        ids = [
            int(n.split("-")[1])
            for n in os.listdir(sdir)
            if n.startswith("schema-")
        ]
        schema_id = max(ids)
    with open(os.path.join(sdir, f"schema-{schema_id}")) as f:
        d = json.load(f)
    fields = []
    fids = []
    for i, fld in enumerate(d["fields"]):
        dt, nullable = parse_paimon_type(fld["type"])
        fields.append(T.StructField(fld["name"], dt, nullable))
        fids.append(int(fld.get("id", i)))
    return PaimonSchemaInfo(
        id=int(d.get("id", schema_id)),
        spark_schema=T.StructType(fields),
        partition_keys=list(d.get("partitionKeys", [])),
        primary_keys=list(d.get("primaryKeys", [])),
        options=dict(d.get("options", {})),
        field_ids=fids,
    )


def latest_paimon_snapshot_id(table_path: str) -> int:
    # the LATEST hint is best-effort, exactly as in real Paimon: a
    # concurrent committer may be mid-rewrite (empty/partial read) or
    # the file may vanish between exists() and open() — any failure
    # falls back to listing the snapshot dir, never raises
    hint = os.path.join(table_path, "snapshot", "LATEST")
    try:
        with open(hint) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError, OSError):
        pass
    ids = [
        int(n.split("-")[1])
        for n in os.listdir(os.path.join(table_path, "snapshot"))
        if n.startswith("snapshot-") and n.split("-")[1].isdigit()
    ]
    if not ids:
        raise FileNotFoundError(f"no snapshots in {table_path}")
    return max(ids)


def write_hint_atomic(path: str, value) -> None:
    """Write a snapshot-dir hint (LATEST/EARLIEST) atomically: plain
    open(.., "w") truncates first, so a concurrent reader can observe an
    EMPTY hint mid-rewrite (seen in practice under streaming commits).
    Real Paimon's hints are rename-published too; readers additionally
    treat them as best-effort (latest_paimon_snapshot_id falls back to
    listing)."""
    import tempfile as _tf

    d = os.path.dirname(path)
    fd, tmp = _tf.mkstemp(prefix=".hint-", dir=d)
    try:
        with os.fdopen(fd, "w") as f:
            f.write(str(value))
        # mkstemp creates 0600 — a shared-filesystem lake written by
        # one user must stay readable by others (plain open honored
        # the umask); restore umask-relative world-readable perms
        cur = os.umask(0)
        os.umask(cur)
        os.chmod(tmp, 0o666 & ~cur)
        os.replace(tmp, path)
    except BaseException:
        try:
            os.remove(tmp)
        except OSError:
            pass
        raise


def read_paimon_snapshot(table_path: str, snapshot_id: Optional[int] = None) -> dict:
    if snapshot_id is None:
        snapshot_id = latest_paimon_snapshot_id(table_path)
    with open(os.path.join(table_path, "snapshot", f"snapshot-{snapshot_id}")) as f:
        return json.load(f)


# ---- BinaryRow ----
#
# Layout (Flink BinaryRowData, inherited by Paimon's BinaryRow):
#   [ null bitset: ((arity + 64 + 7) // 64) * 8 bytes, bit 0-7 = header
#     (row kind), bit (8+i) = field i null flag ]
#   [ arity × 8-byte slots ]  [ variable-length region ]
# Fixed-width values sit little-endian in their slot. Var-length values
# store (offset << 32 | length) where offset counts from the row start
# — unless the value is ≤ 7 bytes, which is stored INLINE: highest bit
# of the slot's 8th byte set, 7th byte's low bits = length, data in the
# slot's first bytes ("compact string" optimization).
# The manifest wire form prefixes the row bytes with a 4-byte arity
# (SerializationUtils.serializeBinaryRow), little-endian like the
# MemorySegment accessors that write it.

_INLINE_MARK = 0x80


def _bitset_bytes(arity: int) -> int:
    return ((arity + 63 + 8) // 64) * 8


def decode_binary_row(data: bytes, types: List[T.DataType]) -> List[Any]:
    if len(data) < 4:
        raise ValueError("truncated binary row: missing arity prefix")
    arity = struct.unpack("<i", data[:4])[0]
    if arity != len(types):
        raise ValueError(
            f"binary row arity {arity} != expected {len(types)} fields"
        )
    row = data[4:]
    nb = _bitset_bytes(arity)
    if len(row) < nb + arity * 8:
        raise ValueError(
            f"truncated binary row: {len(row)} bytes < fixed region "
            f"{nb + arity * 8} (bitset {nb} + {arity}×8 slots)"
        )
    out: List[Any] = []
    for i, dt in enumerate(types):
        bit = 8 + i
        if row[bit >> 3] & (1 << (bit & 7)):
            out.append(None)
            continue
        slot = nb + i * 8
        if isinstance(dt, (T.IntegerType, T.DateType)):
            out.append(struct.unpack_from("<i", row, slot)[0])
        elif isinstance(dt, T.LongType):
            out.append(struct.unpack_from("<q", row, slot)[0])
        elif isinstance(dt, T.ShortType):
            out.append(struct.unpack_from("<h", row, slot)[0])
        elif isinstance(dt, T.ByteType):
            out.append(struct.unpack_from("<b", row, slot)[0])
        elif isinstance(dt, T.BooleanType):
            out.append(row[slot] != 0)
        elif isinstance(dt, T.FloatType):
            out.append(struct.unpack_from("<f", row, slot)[0])
        elif isinstance(dt, T.DoubleType):
            out.append(struct.unpack_from("<d", row, slot)[0])
        elif isinstance(dt, (T.StringType, T.BinaryType)):
            if row[slot + 7] & _INLINE_MARK:
                ln = row[slot + 7] & 0x7F
                raw = row[slot : slot + ln]
            else:
                offset_len = struct.unpack_from("<q", row, slot)[0]
                ln = offset_len & 0xFFFFFFFF
                off = offset_len >> 32
                if off + ln > len(row):
                    raise ValueError(
                        f"truncated binary row: var-length field {i} points "
                        f"past the buffer ({off}+{ln} > {len(row)})"
                    )
                raw = row[off : off + ln]
            out.append(raw.decode() if isinstance(dt, T.StringType) else bytes(raw))
        else:
            raise ValueError(f"binary row: unsupported partition type {dt}")
    return out


# the field types encode_binary_row writes (and binary_row_hash_expr hashes)
_BINARY_ROW_TYPES = (
    T.LongType,
    T.IntegerType,
    T.ShortType,
    T.ByteType,
    T.BooleanType,
    T.DateType,
    T.FloatType,
    T.DoubleType,
    T.StringType,
    T.BinaryType,
)


def encode_binary_row(values: List[Any], types: List[T.DataType]) -> bytes:
    """Spec-conformant encoder — used by the fixture builder and kept
    next to the decoder so the two byte-level conventions cannot
    drift."""
    arity = len(types)
    nb = _bitset_bytes(arity)
    fixed = bytearray(nb + arity * 8)
    var = bytearray()
    for i, (v, dt) in enumerate(zip(values, types)):
        slot = nb + i * 8
        if v is None:
            bit = 8 + i
            fixed[bit >> 3] |= 1 << (bit & 7)
            continue
        if isinstance(dt, (T.IntegerType, T.DateType)):
            struct.pack_into("<i", fixed, slot, int(v))
        elif isinstance(dt, T.LongType):
            struct.pack_into("<q", fixed, slot, int(v))
        elif isinstance(dt, T.ShortType):
            struct.pack_into("<h", fixed, slot, int(v))
        elif isinstance(dt, T.ByteType):
            struct.pack_into("<b", fixed, slot, int(v))
        elif isinstance(dt, T.BooleanType):
            fixed[slot] = 1 if v else 0
        elif isinstance(dt, T.FloatType):
            struct.pack_into("<f", fixed, slot, float(v))
        elif isinstance(dt, T.DoubleType):
            struct.pack_into("<d", fixed, slot, float(v))
        elif isinstance(dt, (T.StringType, T.BinaryType)):
            raw = v.encode() if isinstance(v, str) else bytes(v)
            if len(raw) <= 7:
                fixed[slot : slot + len(raw)] = raw
                fixed[slot + 7] = _INLINE_MARK | len(raw)
            else:
                off = nb + arity * 8 + len(var)
                struct.pack_into("<q", fixed, slot, (off << 32) | len(raw))
                var += raw
                # real writers word-align every var-length region
                # (BinaryRowWriter.roundNumberOfBytesToNearestWord), so
                # sizeInBytes is always a multiple of 8 — required for
                # the word-wise hashCode the bucket extractor uses, and
                # byte-exact with what a JVM writer would emit
                if len(raw) % 8:
                    var += b"\x00" * (8 - len(raw) % 8)
        else:
            raise ValueError(f"binary row: unsupported partition type {dt}")
    return struct.pack("<i", arity) + bytes(fixed) + bytes(var)


def murmur_hash_words(data: bytes, seed: int = 42) -> int:
    """Murmur3-32 over little-endian 4-byte words, Paimon flavor: the
    public ``MurmurHashUtils.hashBytesByWords`` (seed 42, no tail
    handling — BinaryRow bytes are always word-aligned). Returns the
    SIGNED Java int, because ``BinaryRow.hashCode()`` is this value and
    the bucket math depends on its sign convention."""
    if len(data) % 4:
        raise ValueError(f"hashBytesByWords needs 4-byte alignment, got {len(data)}")
    h1 = seed
    for i in range(0, len(data), 4):
        k1 = int.from_bytes(data[i : i + 4], "little")
        k1 = (k1 * 0xCC9E2D51) & 0xFFFFFFFF
        k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
        k1 = (k1 * 0x1B873593) & 0xFFFFFFFF
        h1 ^= k1
        h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
        h1 = (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF
    h1 ^= len(data)
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - 0x100000000 if h1 >= 0x80000000 else h1


def logical_value(v, dt):
    """Pandas/Row value → the logical value ``encode_binary_row``
    expects: NULL and NaN as None, numpy scalars unboxed, DATE as epoch
    days, integral floats as ints."""
    import datetime

    import pandas as pd

    if v is None or (not isinstance(v, (bytes, str)) and pd.isna(v)):
        return None
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(dt, T.DateType):
        if isinstance(v, datetime.datetime):
            v = v.date()
        if isinstance(v, datetime.date):
            return (v - datetime.date(1970, 1, 1)).days
    if isinstance(dt, T.IntegralType) and isinstance(v, float):
        # a NULL-able integer column reaches pandas as float64
        return int(v)
    return v


def fixed_bucket(values: List[Any], types: List[T.DataType], num_buckets: int) -> int:
    """Paimon's fixed-bucket assignment for one row's bucket key:
    ``Math.abs(bucketKey.hashCode() % numBuckets)`` where the hashCode
    is the word-wise murmur over the bucket key's BinaryRow bytes
    (public ``FixedBucketRowKeyExtractor`` → ``KeyAndBucketExtractor
    .bucket(bucketKeyHashCode(...), numBuckets)``). The 4-byte arity
    prefix is our manifest wire envelope, not part of the row — it is
    excluded from the hash."""
    return abs(murmur_hash_words(encode_binary_row(values, types)[4:])) % num_buckets


# ---- JVM-native BinaryRow hash (plan-time expression) ----
#
# Spark's built-in ``hash()`` over a BinaryType column IS Paimon's
# ``MurmurHashUtils.hashBytesByWords`` for word-aligned input: both are
# Murmur3-32 with seed 42, identical block mixing, and the same
# ``h ^= length`` finalizer; BinaryRow bytes are always a multiple of 8
# so Spark's byte-tail loop never runs (verified value-equal over
# randomized word-aligned buffers AND encode_binary_row outputs in
# tests/test_bucketing.py). So the per-row Python hash UDF on the lake
# write path can be replaced by a pure-JVM expression that SYNTHESIZES
# the BinaryRow bytes (hex-string assembly -> unhex -> hash):
# every lake commit previously paid a Python-worker round trip in its
# pre-shuffle map stage (~100-140 ms profiled per commit at any batch
# size) just to route rows — with the expression the stage is
# whole-stage-codegen JVM and the boundary disappears (guide §4.1).

def _le_hex(value_sql: str, n_bytes: int) -> str:
    """SQL producing the little-endian ``n_bytes`` hex of a BIGINT-typed
    SQL expression (two's complement, like struct.pack('<q'/'<i'/...))."""
    width = 2 * n_bytes
    if n_bytes == 8:
        # hex(bigint) is already the full 16-char two's complement for
        # negatives; masking with 2^64-1 would parse as DECIMAL(20,0)
        h = f"lpad(hex({value_sql}), {width}, '0')"
    else:
        h = f"lpad(hex(({value_sql}) & {(1 << (8 * n_bytes)) - 1}L), {width}, '0')"
    parts = [f"substr({h}, {i}, 2)" for i in range(width - 1, 0, -2)]
    return "concat(" + ", ".join(parts) + ")" if len(parts) > 1 else parts[0]


def _ieee_bits_sql(col: str, double: bool) -> str:
    """BIGINT SQL for the raw IEEE-754 bits of a float/double column,
    like ``struct.pack('<f'/'<d')``: -0.0, ±inf and subnormals keep
    their own patterns. Parsed from Java's exact hex rendering
    (``format_string('%a', x)``: ``-0x1.8p3``, ``0x0.0000000000001p-1022``,
    ``Infinity``) because ``reflect(... floatToRawIntBits ...)`` is
    nondeterministic to Spark, which would mark the routing shuffle
    indeterminate. NULL and NaN parse as 0.0; callers mask them."""
    s = (
        f"replace(format_string('%a', coalesce(nanvl(cast({col} as double), 0D), 0D)), "
        f"'Infinity', '0x1.0p{1024 if double else 128}')"
    )
    # the double's 52 fraction bits, and its unbiased exponent
    frac = (
        f"cast(conv(rpad(regexp_extract({s}, '[.]([0-9a-f]+)p', 1), 13, '0'), "
        "16, 10) as bigint)"
    )
    exp = f"cast(regexp_extract({s}, 'p(-?[0-9]+)', 1) as int)"
    zero_or_sub = f"{s} LIKE '%0x0.%'"
    if double:
        sign = f"CASE WHEN {s} LIKE '-%' THEN shiftleft(1L, 63) ELSE 0L END"
        return (
            f"({sign} | shiftleft(CASE WHEN {zero_or_sub} THEN 0L "
            f"ELSE cast({exp} + 1023 as bigint) END, 52) | {frac})"
        )
    # a float widened to double is never subnormal: 0x0. means zero,
    # and an exponent below -126 is a float subnormal
    sign = f"CASE WHEN {s} LIKE '-%' THEN {1 << 31}L ELSE 0L END"
    return (
        f"({sign} | CASE WHEN {zero_or_sub} THEN 0L "
        f"WHEN {exp} >= -126 THEN shiftleft(cast({exp} + 127 as bigint), 23) "
        f"| shiftright({frac}, 29) "
        f"ELSE shiftright({frac} | shiftleft(1L, 52), -97 - {exp}) END)"
    )


def binary_row_hash_expr(col_names, types) -> str:
    """SQL expression (a string for ``F.expr``) computing
    ``murmur_hash_words(encode_binary_row(values)[4:])`` — the signed
    int32 BinaryRow hashCode Paimon's bucket routing is built on —
    entirely in JVM built-ins. Raises ``ValueError`` naming the column
    when a key type is outside the supported set (decimal, timestamp
    and nested keys) or the key has more than 55 columns; this is the
    one definition of a hashable bucket key.

    Byte layout reproduced (see encode_binary_row): 8-byte null bitset
    (bit 8+i marks field i null), one 8-byte little-endian slot per
    field (strings/binaries <= 7 bytes inline with a 0x80|len marker
    byte; longer ones an (offset << 32 | len) word pointing into the
    var region), then each var payload zero-padded to a word multiple.
    """
    arity = len(types)
    if arity == 0:
        raise ValueError("bucket key: no columns to hash")
    if arity > 55:  # bitset must fit one 8-byte word
        raise ValueError(
            f"bucket key: {arity} columns (from {col_names[55]!r} on) — "
            "at most 55 bucket-key columns are supported"
        )
    for c, dt in zip(col_names, types):
        if not isinstance(dt, _BINARY_ROW_TYPES):
            raise ValueError(
                f"bucket key column {c!r} has type {dt.simpleString()}, "
                "which lake bucket routing cannot hash (supported: "
                "integers, boolean, date, float, double, string, binary)"
            )

    nb = 8  # _bitset_bytes(arity) for arity <= 55
    q = [f"`{str(c).replace(chr(96), chr(96) * 2)}`" for c in col_names]
    # a float NaN routes like NULL, as the in-task vectorized router
    # (which reads pandas NaN as missing) has always routed it
    null_sql = [
        f"({q[i]} IS NULL OR isnan({q[i]}))"
        if isinstance(dt, (T.FloatType, T.DoubleType))
        else f"{q[i]} IS NULL"
        for i, dt in enumerate(types)
    ]

    # null bitset word (little-endian hex of the OR of per-field bits)
    bit_terms = [
        f"CASE WHEN {null_sql[i]} THEN {1 << (8 + i)}L ELSE 0L END"
        for i in range(arity)
    ]
    bitset_hex = _le_hex(" + ".join(bit_terms), 8)

    # var-length fields: byte length / raw hex / padded size (in bytes)
    raw_hex: dict = {}
    blen: dict = {}
    var_bytes_sql: dict = {}
    for i, dt in enumerate(types):
        if isinstance(dt, (T.StringType, T.BinaryType)):
            raw = (
                f"hex(encode({q[i]}, 'UTF-8'))"
                if isinstance(dt, T.StringType)
                else f"hex({q[i]})"
            )
            ln = (
                f"octet_length({q[i]})"
                if isinstance(dt, T.StringType)
                else f"length({q[i]})"
            )
            raw_hex[i] = raw
            blen[i] = ln
            # bytes this field occupies in the var region (0 when
            # null or inlined; else len rounded up to a word)
            var_bytes_sql[i] = (
                f"CASE WHEN {q[i]} IS NULL OR {ln} <= 7 THEN 0L "
                f"ELSE cast(ceil(({ln}) / 8.0) * 8 as bigint) END"
            )

    def var_offset_sql(i: int) -> str:
        """Byte offset of field i's var payload inside the row."""
        prior = [var_bytes_sql[j] for j in sorted(var_bytes_sql) if j < i]
        base = nb + arity * 8
        return f"({base}L + {' + '.join(prior)})" if prior else f"{base}L"

    slots = []
    var_parts = []
    for i, dt in enumerate(types):
        null_slot = "'0000000000000000'"
        if isinstance(dt, T.LongType):
            body = _le_hex(q[i], 8)
        elif isinstance(dt, (T.IntegerType,)):
            body = f"concat({_le_hex(f'cast({q[i]} as bigint)', 4)}, '00000000')"
        elif isinstance(dt, T.DateType):
            body = f"concat({_le_hex(f'cast(unix_date({q[i]}) as bigint)', 4)}, '00000000')"
        elif isinstance(dt, T.ShortType):
            body = f"concat({_le_hex(f'cast({q[i]} as bigint)', 2)}, '000000000000')"
        elif isinstance(dt, T.ByteType):
            body = f"concat({_le_hex(f'cast({q[i]} as bigint)', 1)}, '00000000000000')"
        elif isinstance(dt, T.BooleanType):
            body = f"concat(CASE WHEN {q[i]} THEN '01' ELSE '00' END, '00000000000000')"
        elif isinstance(dt, T.FloatType):
            body = f"concat({_le_hex(_ieee_bits_sql(q[i], False), 4)}, '00000000')"
        elif isinstance(dt, T.DoubleType):
            body = _le_hex(_ieee_bits_sql(q[i], True), 8)
        else:  # string/binary
            inline = (
                f"concat(rpad({raw_hex[i]}, 14, '0'), "
                f"lpad(hex(128 + {blen[i]}), 2, '0'))"
            )
            pointer = _le_hex(
                f"(cast({var_offset_sql(i)} as bigint) << 32) | cast({blen[i]} as bigint)",
                8,
            )
            body = f"CASE WHEN {blen[i]} <= 7 THEN {inline} ELSE {pointer} END"
            var_parts.append(
                f"CASE WHEN {q[i]} IS NULL OR {blen[i]} <= 7 THEN '' "
                f"ELSE rpad({raw_hex[i]}, cast(ceil(({blen[i]}) / 8.0) * 16 as int), '0') END"
            )
        slots.append(f"CASE WHEN {null_sql[i]} THEN {null_slot} ELSE {body} END")

    row_hex = "concat(" + ", ".join([bitset_hex, *slots, *var_parts]) + ")"
    return f"hash(unhex({row_hex}))"


def binary_row_bucket_expr(col_names, types, num_buckets: int) -> str:
    """SQL expression for Paimon's fixed-bucket routing
    (``abs(BinaryRow hashCode) % num_buckets``, Java abs semantics —
    the bigint cast makes abs(INT_MIN) exact). Raises like
    :func:`binary_row_hash_expr` on an unhashable key."""
    h = binary_row_hash_expr(col_names, types)
    return f"cast(abs(cast({h} as bigint)) % {num_buckets} as int)"


# ---- manifests ----


#: Paimon's directory name for a NULL partition value unless the table
#: sets ``partition.default-name`` (spec: partition.default-name option)
DEFAULT_PARTITION_NAME = "__DEFAULT_PARTITION__"


def format_partition_segment(value: Any, dt: T.DataType, default_name: str) -> str:
    """Render one partition value the way Paimon names its directories:
    NULL → the table's ``partition.default-name`` (default
    ``__DEFAULT_PARTITION__``); DATE → ISO ``yyyy-MM-dd`` (the decoded
    BinaryRow carries raw epoch-day ints); everything else via str()."""
    if value is None:
        return default_name
    if isinstance(dt, T.DateType) and isinstance(value, int):
        import datetime

        return (datetime.date(1970, 1, 1) + datetime.timedelta(days=value)).isoformat()
    if isinstance(value, bool):
        return "true" if value else "false"
    return str(value)


def logical_partition_values(info: "PaimonSchemaInfo", partition: dict) -> dict:
    """Decoded BinaryRow partition values → logical Python values.

    BinaryRow stores DATE as raw epoch-day ints (the repo's own fixture
    test asserts ``partition == {'dt': 19737}``); anything comparing or
    injecting partition values at the logical level (predicate pruning,
    hive-style column injection) must see ``datetime.date`` instead —
    the same rendering ``format_partition_segment`` uses for paths."""
    import datetime

    out = {}
    for k, v in partition.items():
        dt = info.spark_schema[k].dataType
        if isinstance(dt, T.DateType) and isinstance(v, int):
            v = datetime.date(1970, 1, 1) + datetime.timedelta(days=v)
        out[k] = v
    return out


@dataclass
class PaimonFileEntry:
    kind: int  # 0 = ADD, 1 = DELETE
    partition: dict
    bucket: int
    file_name: str
    file_size: int
    row_count: int
    level: int
    #: schema the data file was written under (manifest ``_SCHEMA_ID``)
    schema_id: int = 0
    #: raw ``_VALUE_STATS`` (min row bytes, max row bytes, null counts)
    #: — decoded lazily at prune time under the entry's own schema
    stats_raw: Optional[tuple] = None
    #: manifest ``_MAX_SEQUENCE_NUMBER`` — a PK-lake writer seeds its
    #: new commit's sequence range past every live file's max
    max_seq: int = 0
    #: manifest ``_EMBEDDED_FILE_INDEX`` bytes (this engine writes its
    #: own bloom payload there; see paimon_lake._decode_embedded_blooms)
    embedded_index: Optional[bytes] = None
    #: manifest ``_TOTAL_BUCKETS`` — the bucket-count geometry this
    #: entry was routed under; pre-rescale snapshots keep their old
    #: value, so bucket pruning must only fire on matching geometry
    total_buckets: Optional[int] = None
    #: manifest ``_EXTRA_FILES`` — JVM Paimon lists standalone
    #: ``*.index`` file-index files here (indexes above the
    #: in-manifest threshold); read at prune time
    extra_files: Optional[list] = None

    def rel_path(
        self,
        partition_keys: List[str],
        part_types: Optional[List[T.DataType]] = None,
        default_name: str = DEFAULT_PARTITION_NAME,
    ) -> str:
        parts = [
            format_partition_segment(
                self.partition[k],
                part_types[i] if part_types else T.StringType(),
                default_name,
            )
            for i, k in enumerate(partition_keys)
        ]
        parts = [f"{k}={p}" for k, p in zip(partition_keys, parts)]
        return os.path.join(*parts, f"bucket-{self.bucket}", self.file_name) if parts else os.path.join(f"bucket-{self.bucket}", self.file_name)


def lake_file_src(table_path: str, info):
    """``entry -> absolute data-file path`` for a lake's planned
    entries: ``rel_path`` under the table's partition types and
    ``partition.default-name``, joined to ``table_path``."""
    part_keys = list(info.partition_keys)
    part_types = [info.spark_schema[k].dataType for k in part_keys]
    default_name = info.options.get("partition.default-name", DEFAULT_PARTITION_NAME)

    def src(e: PaimonFileEntry) -> str:
        return os.path.join(table_path, e.rel_path(part_keys, part_types, default_name))

    return src


def read_manifest_list(table_path: str, name: str) -> List[str]:
    return [
        r["_FILE_NAME"] for r in read_manifest_list_entries(table_path, name)
    ]


def read_manifest_list_entries(table_path: str, name: str) -> List[dict]:
    """Full manifest-list records (name, size, counts, partition
    stats) — the committer carries prior entries forward verbatim so
    their ``_PARTITION_STATS`` survive re-listing, and the planner
    skips whole manifests on them. Cached like manifests (immutable
    files; (path, size, mtime) key)."""
    from paimon_python_spark.avro_codec import read_avro_records

    path = os.path.join(table_path, "manifest", name)
    key, cached = _manifest_cache_get(path)
    if cached is not None:
        return list(cached)
    with open(path, "rb") as f:
        _schema, recs = read_avro_records(f.read())
    out = list(recs)
    _manifest_cache_put(key, out)
    return list(out)


def _manifest_partition_stats(rec: dict, info, part_types) -> Optional[dict]:
    """test_by_stats dict (keyed by partition field name, LOGICAL
    values — DATE epoch days become dates) from one manifest-list
    record's ``_PARTITION_STATS``, or None when absent/undecodable
    (no skip — conservative)."""
    st = rec.get("_PARTITION_STATS") or {}
    mn_b, mx_b = st.get("_MIN_VALUES"), st.get("_MAX_VALUES")
    if not mn_b or not mx_b:
        return None
    try:
        mins = decode_binary_row(bytes(mn_b), part_types)
        maxs = decode_binary_row(bytes(mx_b), part_types)
    except Exception:
        return None
    nulls = st.get("_NULL_COUNTS")
    lmin = logical_partition_values(info, dict(zip(info.partition_keys, mins)))
    lmax = logical_partition_values(info, dict(zip(info.partition_keys, maxs)))
    return {
        k: {
            "min": lmin.get(k),
            "max": lmax.get(k),
            "null_count": nulls[i] if nulls is not None and i < len(nulls) else None,
            "row_count": None,
        }
        for i, k in enumerate(info.partition_keys)
    }


def partition_stats_for_entries(entries: List[dict], part_types) -> dict:
    """Spec ``_PARTITION_STATS`` for one manifest's entry dicts:
    per-partition-field min/max encoded as BinaryRows + null counts —
    what lets a planner skip the whole manifest when a partition
    predicate excludes its range (real Paimon writes these on every
    manifest-list entry)."""
    if not part_types or not entries:
        return dict(_EMPTY_STATS)
    try:
        rows = [
            decode_binary_row(bytes(e["_PARTITION"]), part_types)
            for e in entries
        ]
        mins, maxs, nulls = [], [], []
        for i in range(len(part_types)):
            vals = [r[i] for r in rows]
            non_null = [v for v in vals if v is not None]
            mins.append(min(non_null) if non_null else None)
            maxs.append(max(non_null) if non_null else None)
            nulls.append(len(vals) - len(non_null))
        return {
            "_MIN_VALUES": encode_binary_row(mins, part_types),
            "_MAX_VALUES": encode_binary_row(maxs, part_types),
            "_NULL_COUNTS": nulls,
        }
    except Exception:
        return dict(_EMPTY_STATS)  # unencodable: stats absent, no skip


#: driver-side manifest parse cache. Manifest files are IMMUTABLE once
#: written (uuid names; a rewrite is a new name), so caching decoded
#: entries by (path, size, mtime) is safe — the key invalidates on the
#: impossible-in-spec overwrite anyway. Entries are never mutated after
#: construction (grep-verified), so cached objects share safely; the
#: returned list is fresh per call. Bounded LRU: repeated planning of
#: hot tables (every PK read, every bench iteration, every streaming
#: micro-batch) skips the avro decode entirely.
_MANIFEST_CACHE: "dict[tuple, list]" = {}
_MANIFEST_CACHE_MAX = 512


def _manifest_cache_get(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None, None
    key = (path, st.st_size, st.st_mtime_ns)
    return key, _MANIFEST_CACHE.get(key)


def _manifest_cache_put(key, value) -> None:
    if key is None:
        return
    if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX:
        # simple generational eviction: drop the oldest half
        for k in list(_MANIFEST_CACHE)[: _MANIFEST_CACHE_MAX // 2]:
            _MANIFEST_CACHE.pop(k, None)
    _MANIFEST_CACHE[key] = value


def read_manifest(
    table_path: str, name: str, part_types: List[T.DataType], part_keys: List[str]
) -> List[PaimonFileEntry]:
    from paimon_python_spark.avro_codec import read_avro_records

    path = os.path.join(table_path, "manifest", name)
    key, cached = _manifest_cache_get(path)
    if cached is not None:
        return list(cached)
    with open(path, "rb") as f:
        _schema, recs = read_avro_records(f.read())
    out = []
    for r in recs:
        fmeta = r["_FILE"]
        pvalues = (
            decode_binary_row(bytes(r["_PARTITION"]), part_types)
            if part_keys
            else []
        )
        out.append(
            PaimonFileEntry(
                kind=int(r["_KIND"]),
                partition=dict(zip(part_keys, pvalues)),
                bucket=int(r["_BUCKET"]),
                file_name=fmeta["_FILE_NAME"],
                file_size=int(fmeta["_FILE_SIZE"]),
                row_count=int(fmeta["_ROW_COUNT"]),
                level=int(fmeta.get("_LEVEL", 0)),
                schema_id=int(fmeta.get("_SCHEMA_ID") or 0),
                stats_raw=_stats_raw(fmeta.get("_VALUE_STATS")),
                max_seq=int(fmeta.get("_MAX_SEQUENCE_NUMBER") or 0),
                embedded_index=(
                    bytes(fmeta["_EMBEDDED_FILE_INDEX"])
                    if fmeta.get("_EMBEDDED_FILE_INDEX")
                    else None
                ),
                total_buckets=(
                    int(r["_TOTAL_BUCKETS"])
                    if r.get("_TOTAL_BUCKETS") is not None
                    else None
                ),
                extra_files=list(fmeta.get("_EXTRA_FILES") or []) or None,
            )
        )
    _manifest_cache_put(key, out)
    return list(out)


def read_paimon_tag(table_path: str, name: str) -> dict:
    """A tag is a FULL COPY of its snapshot JSON under
    ``<table>/tag/tag-<name>`` (spec) — it stays readable after the
    snapshot itself expires."""
    with open(os.path.join(table_path, "tag", f"tag-{name}")) as f:
        return json.load(f)


def _stats_raw(vs) -> Optional[tuple]:
    """Keep a manifest entry's ``_VALUE_STATS`` as raw bytes when it
    carries real min/max rows (fixtures historically wrote empty
    bytes); decode happens at prune time under the file's own schema."""
    if not vs:
        return None
    mn = bytes(vs.get("_MIN_VALUES") or b"")
    mx = bytes(vs.get("_MAX_VALUES") or b"")
    if not mn or not mx:
        return None
    nc = vs.get("_NULL_COUNTS")
    return (mn, mx, list(nc) if nc is not None else None)


def decode_entry_stats(
    entry: "PaimonFileEntry", oinfo: "PaimonSchemaInfo", info: "PaimonSchemaInfo"
) -> Optional[dict]:
    """Decode one file's min/max stats rows (written under ``oinfo``)
    into the ``test_by_stats`` dict KEYED BY CURRENT field names (field
    ids map old→new, like the data read itself). DATE values normalize
    to ``datetime.date``. Any decode trouble → None (keep the file —
    pruning must stay conservative)."""
    if entry.stats_raw is None:
        return None
    mn_b, mx_b, nulls = entry.stats_raw
    types = [f.dataType for f in oinfo.spark_schema.fields]
    try:
        mins = decode_binary_row(mn_b, types)
        maxs = decode_binary_row(mx_b, types)
    except Exception:
        return None
    old_names = [f.name for f in oinfo.spark_schema.fields]
    vals = {
        n: (mn, mx, nulls[i] if nulls is not None and i < len(nulls) else None)
        for i, (n, mn, mx) in enumerate(zip(old_names, mins, maxs))
    }
    # map to current names by field id (PK/partition names immutable)
    out = {}
    old_by_id = dict(zip(oinfo.field_ids, old_names))
    cur_ids = info.field_ids or list(range(len(info.spark_schema.fields)))
    for fid, f in zip(cur_ids, info.spark_schema.fields):
        src = old_by_id.get(fid) if oinfo.field_ids else f.name
        if src is None or src not in vals:
            continue
        mn, mx, nc = vals[src]
        if isinstance(f.dataType, T.DateType):
            import datetime

            conv = lambda v: (
                datetime.date(1970, 1, 1) + datetime.timedelta(days=v)
                if isinstance(v, int)
                else v
            )
            mn, mx = conv(mn), conv(mx)
        out[f.name] = {
            "min": mn,
            "max": mx,
            "null_count": nc,
            "row_count": entry.row_count,
        }
    return out


def plan_paimon_files(
    table_path: str,
    snapshot_id: Optional[int] = None,
    snapshot: Optional[dict] = None,
    partition_predicate=None,
) -> List[PaimonFileEntry]:
    """Fold base + delta manifest lists of a snapshot into the live
    file set (ADD entries minus later DELETEs) — the same fold the
    reference's JVM TableScan.plan performs. ``snapshot`` (a parsed
    snapshot/tag dict) takes precedence over ``snapshot_id``.

    Deletion-vector tables plan the same way; read paths must ALSO call
    :func:`plan_paimon_dv` and drop the marked (file, position) pairs —
    the lake reader and importer both pass the ranges to the read task.

    A freshly-created lake (schema only, no commits yet) plans as the
    empty file set; an EXPLICIT snapshot id that does not exist still
    raises (time travel to a missing snapshot is an error).

    ``partition_predicate`` (coerced to logical partition literals):
    MANIFEST-LEVEL skipping — a manifest whose ``_PARTITION_STATS``
    range provably excludes the predicate is never opened (at 100 TB
    the planner reads a handful of manifests instead of thousands —
    real Paimon's manifest skipping). Sound under the ADD/DELETE fold
    because every entry in a skipped manifest belongs to an excluded
    partition, and the CALLER prunes surviving entries with the same
    predicate — the visible set over matching partitions is identical.
    Only pass it from a caller that partition-prunes the result."""
    info = read_paimon_schema(table_path)
    if snapshot is None and snapshot_id is None:
        try:
            snapshot = read_paimon_snapshot(table_path)
        except FileNotFoundError:
            return []
    snap = snapshot if snapshot is not None else read_paimon_snapshot(table_path, snapshot_id)
    part_types = [
        info.spark_schema[k].dataType for k in info.partition_keys
    ]
    names: List[str] = []
    if partition_predicate is not None and info.partition_keys:
        for lst in (snap.get("baseManifestList"), snap.get("deltaManifestList")):
            if not lst:
                continue
            for rec in read_manifest_list_entries(table_path, lst):
                stats = _manifest_partition_stats(rec, info, part_types)
                if stats is None or partition_predicate.test_by_stats(stats):
                    names.append(rec["_FILE_NAME"])
    else:
        for lst in (snap.get("baseManifestList"), snap.get("deltaManifestList")):
            if lst:
                names.extend(read_manifest_list(table_path, lst))
    live: dict[tuple, PaimonFileEntry] = {}
    for mname in names:
        for e in read_manifest(table_path, mname, part_types, info.partition_keys):
            key = (tuple(sorted(e.partition.items())), e.bucket, e.file_name)
            if e.kind == 0:
                live[key] = e
            else:
                live.pop(key, None)
    return list(live.values())


# ---- deletion vectors (spec format) ----
#
# Paimon's deletion-vectors mode keeps row-level deletes as per-data-file
# roaring bitmaps in index files under ``<table>/index/``, referenced by
# the snapshot's ``indexManifest`` (spec:
# https://paimon.apache.org/docs/master/concepts/spec/tableindex/).
# Index file layout (DeletionVectorsIndexFile V1, all control ints
# BIG-endian — Java DataOutputStream — while the roaring payload itself
# is the little-endian portable format):
#   byte  version (1)
#   per vector: int32 size | data | int32 crc32(data)
#   where data = int32 magic 1581511376 | portable roaring bitmap
# The index manifest entry's ranges map data-file-name -> (offset of the
# size int, size). The reference reads these transparently via the JVM
# (py4j java_implementation.py plans DV tables); here each file's
# (index path, offset, length) rides its read spec and the read task
# (:func:`read_lake_task`) decodes the bitmap and drops the marked
# positions from that file's rows — no join, no shuffle.

DV_MAGIC = 1581511376
DV_INDEX_VERSION = 1
DELETION_VECTORS_INDEX = "DELETION_VECTORS"
#: spec index type of the dynamic-bucket key-hash index (tableindex
#: spec "Hash Index": the index file stores the int32 hashcodes of
#: every primary key routed into its bucket)
HASH_INDEX = "HASH"

INDEX_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "index_manifest_entry",
    "fields": [
        {"name": "_VERSION", "type": "int"},
        {"name": "_KIND", "type": "int"},
        {"name": "_PARTITION", "type": "bytes"},
        {"name": "_BUCKET", "type": "int"},
        {"name": "_INDEX_TYPE", "type": "string"},
        {"name": "_FILE_NAME", "type": "string"},
        {"name": "_FILE_SIZE", "type": "long"},
        {"name": "_ROW_COUNT", "type": "long"},
        {
            "name": "_DELETIONS_VECTORS_RANGES",
            "type": [
                "null",
                {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "deletion_vector_meta",
                        "fields": [
                            {"name": "f0", "type": "string"},
                            {"name": "f1", "type": "int"},
                            {"name": "f2", "type": "int"},
                        ],
                    },
                },
            ],
            "default": None,
        },
    ],
}


@dataclass
class PaimonDvRange:
    """One deletion vector's location: ``data_file_name``'s marked
    positions live at ``[offset, offset+4+length+4)`` in ``index_path``."""

    index_path: str
    data_file_name: str
    offset: int
    length: int


def write_dv_index_file(path: str, dv_map: dict) -> dict:
    """Write a spec-format V1 deletion vectors index file.
    ``dv_map``: {data_file_name: iterable of positions}. Returns
    {data_file_name: (offset, length)} for the index manifest entry."""
    import struct
    import zlib

    from paimon_python_spark.roaring import serialize_roaring32

    ranges = {}
    with open(path, "wb") as f:
        f.write(bytes([DV_INDEX_VERSION]))
        pos = 1
        for name, positions in dv_map.items():
            data = struct.pack(">i", DV_MAGIC) + serialize_roaring32(positions)
            ranges[name] = (pos, len(data))
            f.write(struct.pack(">i", len(data)))
            f.write(data)
            f.write(struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF))
            pos += 4 + len(data) + 4
    return ranges


def read_dv_index_entry(index_path: str, offset: int, length: int):
    """Decode one deletion vector from an index file into a sorted
    numpy position array (CRC- and magic-checked)."""
    import struct
    import zlib

    from paimon_python_spark.roaring import deserialize_roaring32

    with open(index_path, "rb") as f:
        version = f.read(1)[0]
        if version != DV_INDEX_VERSION:
            raise NotImplementedError(
                f"deletion vectors index version {version} at {index_path!r} "
                f"(only V{DV_INDEX_VERSION} supported)"
            )
        f.seek(offset)
        (size,) = struct.unpack(">i", f.read(4))
        if size != length:
            raise ValueError(
                f"DV size mismatch at {index_path!r}+{offset}: "
                f"file says {size}, manifest says {length}"
            )
        data = f.read(size)
        (crc,) = struct.unpack(">I", f.read(4))
    if zlib.crc32(data) & 0xFFFFFFFF != crc:
        raise ValueError(f"DV checksum mismatch at {index_path!r}+{offset}")
    (magic,) = struct.unpack(">i", data[:4])
    if magic != DV_MAGIC:
        raise ValueError(f"bad DV magic {magic} at {index_path!r}+{offset}")
    return deserialize_roaring32(data[4:])


def live_index_entries(
    table_path: str,
    snapshot_id: Optional[int] = None,
    snapshot: Optional[dict] = None,
    index_type: Optional[str] = None,
) -> List[dict]:
    """Driver-side metadata walk of the snapshot's index manifest:
    fold ADD/DELETE (``_KIND`` 0/1) entries into the LIVE set, across
    every index type real Paimon records there (``DELETION_VECTORS``
    deletion vectors, ``HASH`` dynamic-bucket key indexes — spec
    ``IndexManifestEntry``). ``index_type`` filters to one type. Empty
    list when the snapshot carries no index manifest."""
    from paimon_python_spark.avro_codec import read_avro_records

    if snapshot is None and snapshot_id is None:
        try:
            snapshot = read_paimon_snapshot(table_path)
        except FileNotFoundError:
            return []  # freshly-created lake: no commits, no marks
    snap = snapshot if snapshot is not None else read_paimon_snapshot(table_path, snapshot_id)
    im = snap.get("indexManifest")
    if not im:
        return []
    # index manifests are immutable like data manifests — same
    # (path, size, mtime) parse cache; a dynamic-bucket write plans
    # the index several times per commit (router, probes, old-file map)
    path = os.path.join(table_path, "manifest", im)
    key, cached = _manifest_cache_get(path)
    if cached is not None:
        recs = cached
    else:
        with open(path, "rb") as f:
            _schema, recs = read_avro_records(f.read())
        _manifest_cache_put(key, recs)
    live: dict = {}
    for r in recs:
        if index_type is not None and r.get("_INDEX_TYPE") != index_type:
            continue
        key = (
            r.get("_INDEX_TYPE"),
            bytes(r.get("_PARTITION") or b""),
            int(r.get("_BUCKET") or 0),
            r["_FILE_NAME"],
        )
        if int(r.get("_KIND") or 0) == 0:
            live[key] = r
        else:
            live.pop(key, None)
    return list(live.values())


def _indexed_snapshot(
    table_path: str, snapshot_id: Optional[int], snapshot: Optional[dict]
) -> Optional[dict]:
    """The snapshot to plan index entries from, or None when it names
    no index manifest — a lake without deletion vectors or dynamic
    buckets never calls :func:`live_index_entries`."""
    if snapshot is None:
        try:
            snapshot = read_paimon_snapshot(table_path, snapshot_id)
        except FileNotFoundError:
            if snapshot_id is not None:
                raise
            return None  # freshly-created lake: no commits, no index
    return snapshot if snapshot.get("indexManifest") else None


def plan_paimon_hash_index(
    table_path: str,
    snapshot_id: Optional[int] = None,
    snapshot: Optional[dict] = None,
) -> List[dict]:
    """Live ``HASH`` (dynamic-bucket) index entries of a snapshot —
    one per (partition, bucket), each naming the ``index/`` file that
    holds the bucket's key hashcodes (spec tableindex: Hash Index)."""
    snap = _indexed_snapshot(table_path, snapshot_id, snapshot)
    if snap is None:
        return []
    return live_index_entries(table_path, snapshot=snap, index_type=HASH_INDEX)


def dv_entry_ranges(r: dict):
    """(data file, offset, length) of every vector a DELETION_VECTORS
    index entry names. Lenient on the two range field spellings real
    Paimon versions use."""
    for item in (
        r.get("_DELETIONS_VECTORS_RANGES") or r.get("_DELETION_VECTORS_RANGES") or []
    ):
        yield (
            str(item.get("f0", item.get("dataFileName"))),
            int(item.get("f1", item.get("offset"))),
            int(item.get("f2", item.get("length"))),
        )


def plan_paimon_dv(
    table_path: str,
    snapshot_id: Optional[int] = None,
    snapshot: Optional[dict] = None,
) -> List[PaimonDvRange]:
    """Driver-side metadata walk of the snapshot's index manifest:
    fold ADD/DELETE index entries, keep DELETION_VECTORS types, return
    every (index file, data file, offset, length) range. Empty list if
    the snapshot carries no index manifest."""
    snap = _indexed_snapshot(table_path, snapshot_id, snapshot)
    if snap is None:
        return []
    return [
        PaimonDvRange(
            os.path.join(table_path, "index", r["_FILE_NAME"]), data_file, off, ln
        )
        for r in live_index_entries(
            table_path, snapshot=snap, index_type=DELETION_VECTORS_INDEX
        )
        for data_file, off, ln in dv_entry_ranges(r)
    ]


def paimon_type_string(field: "T.StructField") -> str:
    """Spark field → Paimon schema-file type string (reverse of
    :func:`parse_paimon_type`)."""
    dt = field.dataType
    if isinstance(dt, T.ArrayType):
        inner = paimon_type_string(
            T.StructField("e", dt.elementType, dt.containsNull)
        )
        s = f"ARRAY<{inner}>"
    elif isinstance(dt, T.MapType):
        # map keys are implicitly non-null in the spec — no marker
        k = paimon_type_string(T.StructField("k", dt.keyType, True))
        v = paimon_type_string(
            T.StructField("v", dt.valueType, dt.valueContainsNull)
        )
        s = f"MAP<{k}, {v}>"
    elif isinstance(dt, T.StructType):
        parts = ", ".join(
            f"`{f.name}` {paimon_type_string(f)}" for f in dt.fields
        )
        s = f"ROW<{parts}>"
    elif isinstance(dt, T.DecimalType):
        s = f"DECIMAL({dt.precision}, {dt.scale})"
    elif isinstance(dt, T.TimestampNTZType):
        s = "TIMESTAMP(6)"
    elif isinstance(dt, T.TimestampType):
        s = "TIMESTAMP(6) WITH LOCAL TIME ZONE"
    else:
        rev = {
            "BooleanType()": "BOOLEAN",
            "ByteType()": "TINYINT",
            "ShortType()": "SMALLINT",
            "IntegerType()": "INT",
            "LongType()": "BIGINT",
            "FloatType()": "FLOAT",
            "DoubleType()": "DOUBLE",
            "StringType()": "STRING",
            "BinaryType()": "BYTES",
            "DateType()": "DATE",
        }
        key = repr(dt)
        if key not in rev:
            raise ValueError(f"export: unsupported Spark type {dt!r}")
        s = rev[key]
    return s if field.nullable else f"{s} NOT NULL"


def export_paimon_table(table, dest_path: str, file_format: str = "parquet") -> None:
    """REVERSE bridge: write an engine table's current visible state as
    a spec-format Apache Paimon table at ``dest_path`` (JSON
    schema/snapshot, avro manifests, BinaryRow partition values) — the
    layout a Flink/Spark Paimon reader consumes, so a user can leave
    this engine as freely as they joined it. One snapshot; PK tables
    export key-value files (``_KEY_*``, sequence, kind) sorted by key
    in a single bucket.

    Driver-materializing by design (same cost class as the reference's
    ``to_pandas`` adapters): export is an interchange operation for
    driver-sized extracts, not a data path — for TB-scale handoff keep
    the data in this engine or copy its parquet files directly."""
    import pyarrow as pa

    schema = table.schema
    fields = schema.spark_schema.fields
    schema_fields = [(f.name, paimon_type_string(f)) for f in fields]
    part_keys = list(schema.partition_keys)
    pks = list(schema.primary_keys)
    pdf = table.new_read_builder().new_read().to_pandas()

    def pa_value_table(g: "pd.DataFrame") -> "pa.Table":
        from paimon_python_spark.types import spark_type_to_pa

        cols, names = [], []
        for f in fields:
            names.append(f.name)
            cols.append(pa.array(g[f.name], type=spark_type_to_pa(f.dataType)))
        return pa.table(dict(zip(names, cols)))

    files = []
    groups = (
        [((), pdf)]
        if not part_keys
        else [
            (k if isinstance(k, tuple) else (k,), g)
            for k, g in pdf.groupby(part_keys, sort=True, dropna=False)
        ]
    )
    for kvals, g in groups:
        pvals = {
            k: logical_value(v, schema.spark_schema[k].dataType)
            for k, v in zip(part_keys, kvals)
        }
        if pks:
            trimmed = [k for k in pks if k not in part_keys]
            g = g.sort_values(trimmed, kind="mergesort").reset_index(drop=True)
            vt = pa_value_table(g)
            n = len(g)
            arrays = {}
            for k in trimmed:
                arrays[f"_KEY_{k}"] = vt[k].combine_chunks()
            arrays["_SEQUENCE_NUMBER"] = pa.array(range(n), pa.int64())
            arrays["_VALUE_KIND"] = pa.array([0] * n, pa.int32())
            for name in vt.column_names:
                arrays[name] = vt[name].combine_chunks()
            files.append((0, pvals, 0, pa.table(arrays)))
        else:
            files.append((0, pvals, 0, pa_value_table(g)))

    options = {"file.format": file_format}
    if pks:
        options["bucket"] = "1"
    write_paimon_table_fixture(
        dest_path, schema_fields, part_keys, pks, files, options=options
    )


def attach_paimon_dv_fixture(
    table_path: str,
    dv_map: dict,
    partition: Optional[dict] = None,
    bucket: int = 0,
    tag: str = "dv",
) -> None:
    """Fixture/export helper: write a spec-format DV index file +
    index manifest for ``dv_map`` ({data_file_name: positions}) and
    point the LATEST snapshot's ``indexManifest`` at it — producing
    exactly the layout a real DV-enabled Paimon writer leaves behind."""
    from paimon_python_spark.avro_codec import write_avro_records

    info = read_paimon_schema(table_path)
    part_types = [info.spark_schema[k].dataType for k in info.partition_keys]
    pvals = partition or {}
    os.makedirs(os.path.join(table_path, "index"), exist_ok=True)
    idx_name = f"index-{tag}"
    idx_path = os.path.join(table_path, "index", idx_name)
    ranges = write_dv_index_file(idx_path, dv_map)
    entry = {
        "_VERSION": 1,
        "_KIND": 0,
        "_PARTITION": encode_binary_row(
            [pvals[k] for k in info.partition_keys], part_types
        ),
        "_BUCKET": bucket,
        "_INDEX_TYPE": DELETION_VECTORS_INDEX,
        "_FILE_NAME": idx_name,
        "_FILE_SIZE": os.path.getsize(idx_path),
        "_ROW_COUNT": sum(len(list(v)) for v in dv_map.values()),
        "_DELETIONS_VECTORS_RANGES": [
            {"f0": n, "f1": o, "f2": ln} for n, (o, ln) in ranges.items()
        ],
    }
    im_name = f"index-manifest-{tag}.avro"
    write_avro_records(
        os.path.join(table_path, "manifest", im_name),
        INDEX_MANIFEST_SCHEMA,
        [entry],
    )
    sid = latest_paimon_snapshot_id(table_path)
    spath = os.path.join(table_path, "snapshot", f"snapshot-{sid}")
    with open(spath) as f:
        snap = json.load(f)
    snap["indexManifest"] = im_name
    with open(spath, "w") as f:
        json.dump(snap, f)


# ---- spec-format writing (export / fixtures) ----

SIMPLE_STATS_SCHEMA = {
    "type": "record",
    "name": "SimpleStats",
    "fields": [
        {"name": "_MIN_VALUES", "type": "bytes"},
        {"name": "_MAX_VALUES", "type": "bytes"},
        {"name": "_NULL_COUNTS", "type": ["null", {"type": "array", "items": "long"}]},
    ],
}

MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "_VERSION", "type": "int"},
        {"name": "_FILE_NAME", "type": "string"},
        {"name": "_FILE_SIZE", "type": "long"},
        {"name": "_NUM_ADDED_FILES", "type": "long"},
        {"name": "_NUM_DELETED_FILES", "type": "long"},
        {"name": "_PARTITION_STATS", "type": SIMPLE_STATS_SCHEMA},
        {"name": "_SCHEMA_ID", "type": "long"},
    ],
}

MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "_VERSION", "type": "int"},
        {"name": "_KIND", "type": "int"},
        {"name": "_PARTITION", "type": "bytes"},
        {"name": "_BUCKET", "type": "int"},
        {"name": "_TOTAL_BUCKETS", "type": "int"},
        {
            "name": "_FILE",
            "type": {
                "type": "record",
                "name": "DataFileMeta",
                "fields": [
                    {"name": "_FILE_NAME", "type": "string"},
                    {"name": "_FILE_SIZE", "type": "long"},
                    {"name": "_ROW_COUNT", "type": "long"},
                    {"name": "_MIN_KEY", "type": "bytes"},
                    {"name": "_MAX_KEY", "type": "bytes"},
                    # first occurrence DEFINES the named record, later
                    # ones refer by name — the convention real Paimon
                    # schemas use
                    {"name": "_KEY_STATS", "type": SIMPLE_STATS_SCHEMA},
                    {"name": "_VALUE_STATS", "type": "SimpleStats"},
                    {"name": "_MIN_SEQUENCE_NUMBER", "type": "long"},
                    {"name": "_MAX_SEQUENCE_NUMBER", "type": "long"},
                    {"name": "_SCHEMA_ID", "type": "long"},
                    {"name": "_LEVEL", "type": "int"},
                    {"name": "_EXTRA_FILES", "type": {"type": "array", "items": "string"}},
                    {"name": "_CREATION_TIME", "type": ["null", "long"]},
                    {"name": "_DELETE_ROW_COUNT", "type": ["null", "long"]},
                    {"name": "_EMBEDDED_FILE_INDEX", "type": ["null", "bytes"]},
                    {"name": "_FILE_SOURCE", "type": ["null", "int"]},
                ],
            },
        },
    ],
}

_EMPTY_STATS = {"_MIN_VALUES": b"", "_MAX_VALUES": b"", "_NULL_COUNTS": None}


def _value_stats_for(table, info: "PaimonSchemaInfo") -> dict:
    """REAL ``_VALUE_STATS`` for a fixture data file: per-schema-field
    min/max encoded as BinaryRows + null counts, computed from the
    pyarrow table — so stats-based file skipping is exercised by
    fixtures exactly as a Flink-written lake would exercise it."""
    import pyarrow.compute as pc

    mins, maxs, nulls = [], [], []
    types = [f.dataType for f in info.spark_schema.fields]
    for f in info.spark_schema.fields:
        if f.name not in table.column_names:
            mins.append(None)
            maxs.append(None)
            nulls.append(table.num_rows)
            continue
        col = table[f.name]
        nulls.append(int(col.null_count))
        # an all-NULL column bounds nothing; nor does one whose type the
        # BinaryRow cannot encode (timestamp, decimal, nested) — the
        # other columns keep their min/max
        if col.length() == col.null_count or not isinstance(
            f.dataType, _BINARY_ROW_TYPES
        ):
            mins.append(None)
            maxs.append(None)
            continue
        try:
            mm = pc.min_max(col)
            mn, mx = mm["min"].as_py(), mm["max"].as_py()
        except Exception:
            mn = mx = None
        if isinstance(f.dataType, (T.FloatType, T.DoubleType)) and pc.any(
            pc.is_nan(col)
        ).as_py():
            # min_max skips NaN, which Spark orders above every value
            mn = mx = None
        if isinstance(types[len(mins)], T.DateType):
            import datetime

            conv = lambda v: (
                (v - datetime.date(1970, 1, 1)).days
                if isinstance(v, datetime.date)
                else v
            )
            mn, mx = conv(mn), conv(mx)
        # sound-bound truncation for strings (prefix min / incremented-
        # prefix max, same rule as the engine tables' write.py): without
        # it a documents-style lake embeds whole documents in every
        # manifest BinaryRow — metadata amplification that breaks
        # planning at 100 TB. min_max() knows string stats are bounds,
        # not values, and never folds them as exact.
        from paimon_python_spark.write import _truncate_max, _truncate_min

        mins.append(_truncate_min(mn))
        maxs.append(_truncate_max(mx))
    try:
        return {
            "_MIN_VALUES": encode_binary_row(mins, types),
            "_MAX_VALUES": encode_binary_row(maxs, types),
            "_NULL_COUNTS": nulls,
        }
    except Exception:
        return dict(_EMPTY_STATS)


def _kv_seq_range(table) -> "tuple[Optional[int], Optional[int]]":
    """(min, max) of a kv fixture table's ``_SEQUENCE_NUMBER`` column,
    or (None, None) for value-only tables. The manifest MUST record the
    true in-file range: later commits seed their sequence base past
    every live file's max, and an understated max (the old rows-count
    default) lets fresh -D/upsert records LOSE the merge to older
    rows."""
    if "_SEQUENCE_NUMBER" not in getattr(table, "column_names", ()):
        return None, None
    col = table["_SEQUENCE_NUMBER"]
    if col.length() == 0:
        return None, None
    import pyarrow.compute as pc

    mm = pc.min_max(col)
    return mm["min"].as_py(), mm["max"].as_py()


def _spec_file_meta(
    name: str,
    size: int,
    rows: int,
    schema_id: int = 0,
    value_stats=None,
    min_key: bytes = b"",
    max_key: bytes = b"",
    min_seq: int = 0,
    max_seq: Optional[int] = None,
    level: int = 0,
    embedded_index: Optional[bytes] = None,
    extra_files: Optional[list] = None,
) -> dict:
    return {
        "_FILE_NAME": name,
        "_FILE_SIZE": size,
        "_ROW_COUNT": rows,
        "_MIN_KEY": min_key,
        "_MAX_KEY": max_key,
        "_KEY_STATS": _EMPTY_STATS,
        "_VALUE_STATS": value_stats if value_stats is not None else _EMPTY_STATS,
        "_MIN_SEQUENCE_NUMBER": min_seq,
        "_MAX_SEQUENCE_NUMBER": rows if max_seq is None else max_seq,
        "_SCHEMA_ID": schema_id,
        "_LEVEL": level,
        "_EXTRA_FILES": list(extra_files or []),
        "_CREATION_TIME": None,
        "_DELETE_ROW_COUNT": None,
        "_EMBEDDED_FILE_INDEX": embedded_index,
        "_FILE_SOURCE": None,
    }


_AVRO_PRIM = {
    "IntegerType()": "int",
    "LongType()": "long",
    "FloatType()": "float",
    "DoubleType()": "double",
    "StringType()": "string",
    "BooleanType()": "boolean",
    "BinaryType()": "bytes",
    "DateType()": "int",
}


def _write_fixture_data_file(table, fpath: str, fmt: str) -> None:
    """Write one fixture data file as parquet or avro (avro via the
    engine codec — nullable-union fields, like real Paimon writes)."""
    if fmt == "parquet":
        import pyarrow.parquet as pq

        pq.write_table(table, fpath)
        return
    if fmt == "orc":
        import pyarrow.orc as po

        po.write_table(table, fpath)
        return
    if fmt != "avro":
        raise ValueError(f"fixture format {fmt!r} unsupported")
    from paimon_python_spark.avro_codec import write_avro_records
    from paimon_python_spark.types import pa_type_to_spark

    fields = []
    for f in table.schema:
        st = repr(pa_type_to_spark(f.type))
        if st not in _AVRO_PRIM:
            raise ValueError(f"avro fixture: unsupported type {st}")
        fields.append({"name": f.name, "type": ["null", _AVRO_PRIM[st]]})
    schema = {"type": "record", "name": "paimon_row", "fields": fields}
    write_avro_records(fpath, schema, table.to_pylist())


def route_kv_fixture_files(
    table,
    key_cols: List[str],
    key_types: List[T.DataType],
    n_buckets: int,
    partition: "Optional[dict]" = None,
) -> List[tuple]:
    """Split one key-value pyarrow table into the fixture writer's
    ``[(0, partition, bucket, subtable)]`` tuples with every row routed
    by the PUBLIC extractor (``abs(murmur(BinaryRow(key))) % n``) — the
    only layout a real fixed-bucket writer produces. Hand-placing all
    rows in bucket 0 of a multi-bucket table builds a spec-INVALID lake
    where bucket pruning and bucket-closed merges are unsound by
    construction (a JVM reader would mis-prune it identically)."""
    import datetime

    buckets: dict[int, list[int]] = {}
    cols = [table[f"_KEY_{k}"].to_pylist() for k in key_cols]
    epoch = datetime.date(1970, 1, 1)
    for row_i, vals in enumerate(zip(*cols)):
        logical = []
        for v, dt in zip(vals, key_types):
            if isinstance(v, datetime.datetime):
                v = v.date()
            if isinstance(dt, T.DateType) and isinstance(v, datetime.date):
                v = (v - epoch).days
            logical.append(v)
        b = fixed_bucket(logical, key_types, n_buckets)
        buckets.setdefault(b, []).append(row_i)
    return [
        (0, dict(partition or {}), b, table.take(rows))
        for b, rows in sorted(buckets.items())
    ]


def write_paimon_table_fixture(
    path: str,
    schema_fields: List[tuple],
    partition_keys: List[str],
    primary_keys: List[str],
    files: List[tuple],
    options: Optional[dict] = None,
) -> None:
    """Write a spec-format Paimon table: JSON schema/snapshot, avro
    manifest list + manifest (nested records), BinaryRow partition
    values, hive-style ``<part>/bucket-N/`` data dirs.

    ``schema_fields``: [(name, paimon type string)];
    ``files``: [(kind 0=ADD/1=DELETE, partition dict, bucket,
    pyarrow.Table)] in commit order (a DELETE must follow the ADD of
    the same table object — it references that file).

    This is the importer's test double (no Paimon JVM in this
    container) and doubles as a minimal export path: a table written
    here is laid out exactly as the published spec describes, one
    snapshot deep. ``options={"file.format": "avro"}`` writes avro data
    files (nullable-union fields) instead of parquet.
    """
    from paimon_python_spark.avro_codec import write_avro_records

    # entry-level geometry (spec _TOTAL_BUCKETS): the table's declared
    # bucket count — bucket pruning only fires on matching geometry
    _total_buckets = max(1, int((options or {}).get("bucket", "1")))
    os.makedirs(os.path.join(path, "schema"))
    os.makedirs(os.path.join(path, "snapshot"))
    os.makedirs(os.path.join(path, "manifest"))
    with open(os.path.join(path, "schema", "schema-0"), "w") as f:
        json.dump(
            {
                "version": 3,
                "id": 0,
                "fields": [
                    {"id": i, "name": n, "type": t}
                    for i, (n, t) in enumerate(schema_fields)
                ],
                "highestFieldId": len(schema_fields) - 1,
                "partitionKeys": partition_keys,
                "primaryKeys": primary_keys,
                "options": options or {},
                "timeMillis": 0,
            },
            f,
        )

    info = read_paimon_schema(path)
    part_types = [info.spark_schema[k].dataType for k in partition_keys]

    default_name = (options or {}).get(
        "partition.default-name", DEFAULT_PARTITION_NAME
    )
    fmt = (options or {}).get("file.format", "parquet")
    entries = []
    added: dict = {}  # (table id, partition, bucket) -> file name at ADD
    for i, (kind, pvals, bucket, table) in enumerate(files):
        parts = [
            f"{k}={format_partition_segment(pvals[k], pt, default_name)}"
            for k, pt in zip(partition_keys, part_types)
        ]
        ddir = os.path.join(path, *parts, f"bucket-{bucket}")
        os.makedirs(ddir, exist_ok=True)
        fkey = (id(table), tuple(sorted(pvals.items())), bucket)
        if kind == 0:
            fname = f"data-fixture-{i}.{fmt}"
            added[fkey] = fname
            _write_fixture_data_file(table, os.path.join(ddir, fname), fmt)
        else:  # DELETE references the file its ADD created
            fname = added[fkey]
        fpath = os.path.join(ddir, fname)
        size = os.path.getsize(fpath) if os.path.exists(fpath) else 0
        entries.append(
            {
                "_VERSION": 2,
                "_KIND": kind,
                "_PARTITION": encode_binary_row(
                    [pvals[k] for k in partition_keys], part_types
                ),
                "_BUCKET": bucket,
                "_TOTAL_BUCKETS": _total_buckets,
                "_FILE": _spec_file_meta(
                    fname, size, table.num_rows,
                    value_stats=_value_stats_for(table, info),
                    min_seq=_kv_seq_range(table)[0] or 0,
                    max_seq=_kv_seq_range(table)[1],
                ),
            }
        )

    mname = "manifest-fixture-0.avro"
    write_avro_records(os.path.join(path, "manifest", mname), MANIFEST_SCHEMA, entries)
    blname = "manifest-list-fixture-base.avro"
    dlname = "manifest-list-fixture-delta.avro"
    write_avro_records(
        os.path.join(path, "manifest", blname), MANIFEST_LIST_SCHEMA, []
    )
    write_avro_records(
        os.path.join(path, "manifest", dlname),
        MANIFEST_LIST_SCHEMA,
        [
            {
                "_VERSION": 2,
                "_FILE_NAME": mname,
                "_FILE_SIZE": os.path.getsize(os.path.join(path, "manifest", mname)),
                "_NUM_ADDED_FILES": sum(1 for e in entries if e["_KIND"] == 0),
                "_NUM_DELETED_FILES": sum(1 for e in entries if e["_KIND"] == 1),
                # real stats, exactly like a JVM writer — fixtures
                # exercise manifest-level skipping with foreign bytes
                "_PARTITION_STATS": partition_stats_for_entries(entries, part_types),
                "_SCHEMA_ID": 0,
            }
        ],
    )
    n_rows = sum(t.num_rows for k, _p, _b, t in files if k == 0)
    with open(os.path.join(path, "snapshot", "snapshot-1"), "w") as f:
        json.dump(
            {
                "version": 3,
                "id": 1,
                "schemaId": 0,
                "baseManifestList": blname,
                "deltaManifestList": dlname,
                "changelogManifestList": None,
                "commitUser": "fixture",
                "commitIdentifier": 1,
                "commitKind": "APPEND",
                "timeMillis": 0,
                "logOffsets": {},
                "totalRecordCount": n_rows,
                "deltaRecordCount": n_rows,
                "changelogRecordCount": 0,
                "watermark": -9223372036854775808,
            },
            f,
        )
    write_hint_atomic(os.path.join(path, "snapshot", "LATEST"), 1)


def add_paimon_fixture_schema(
    path: str,
    schema_fields: List[tuple],
    partition_keys: Optional[List[str]] = None,
    primary_keys: Optional[List[str]] = None,
    options: Optional[dict] = None,
) -> int:
    """Write ``schema-(N+1)`` for a fixture table — models an ALTER
    TABLE by the lake's owner. ``schema_fields``: [(field_id, name,
    paimon type string)] with EXPLICIT field ids, so renames keep the
    id and adds take a fresh one (the identity field-id evolution maps
    by). Partition/primary keys and options default to the current
    schema's. Returns the new schema id."""
    cur = read_paimon_schema(path)
    new_id = cur.id + 1
    with open(os.path.join(path, "schema", f"schema-{new_id}"), "w") as f:
        json.dump(
            {
                "version": 3,
                "id": new_id,
                "fields": [
                    {"id": fid, "name": n, "type": ty}
                    for fid, n, ty in schema_fields
                ],
                "highestFieldId": max(fid for fid, _n, _t in schema_fields),
                "partitionKeys": (
                    cur.partition_keys if partition_keys is None else partition_keys
                ),
                "primaryKeys": (
                    cur.primary_keys if primary_keys is None else primary_keys
                ),
                "options": cur.options if options is None else options,
                "timeMillis": 0,
            },
            f,
        )
    return new_id


def append_paimon_fixture_snapshot(
    path: str,
    files: List[tuple],
    tag: Optional[str] = None,
    schema_id: Optional[int] = None,
    changelog_files: Optional[List[tuple]] = None,
) -> int:
    """Add a successive commit to a spec-format fixture table: new data
    files + manifest + delta manifest list, and snapshot N+1 whose BASE
    manifest list folds every manifest of snapshot N (exactly how real
    Paimon carries prior state forward). Returns the new snapshot id.

    ``files`` uses the fixture writer's tuple shape; lets tests and
    gates model a concurrently-written lake (write → read → write →
    read with no re-import)."""
    from paimon_python_spark.avro_codec import write_avro_records

    info = read_paimon_schema(path)
    if schema_id is None:
        schema_id = info.id
    elif schema_id != info.id:
        info = read_paimon_schema(path, schema_id)
    part_types = [info.spark_schema[k].dataType for k in info.partition_keys]
    default_name = info.options.get("partition.default-name", DEFAULT_PARTITION_NAME)
    _total_buckets = max(1, int(info.options.get("bucket", "1")))
    prev_id = latest_paimon_snapshot_id(path)
    if tag is None:
        # unique per commit: the old fixed default ("c2") made two
        # tag-less appends silently overwrite each other's data files
        tag = f"c{prev_id + 1}"
    prev = read_paimon_snapshot(path, prev_id)
    prior: List[str] = []
    for lst in (prev.get("baseManifestList"), prev.get("deltaManifestList")):
        if lst:
            prior.extend(read_manifest_list(path, lst))

    # DELETE entries must reference a REAL prior ADD's file name — the
    # plan fold pops by (partition, bucket, file_name), so a fresh name
    # would be a silent no-op (mirrors write_paimon_table_fixture, which
    # reuses the ADD's name). Resolve against the prior snapshot's
    # manifests: a str in the tuple's table slot names the file to
    # delete; a non-str deletes the latest prior ADD in that
    # (partition, bucket).
    prior_adds: List[PaimonFileEntry] = []
    if any(f[0] != 0 for f in files):
        seen: dict[tuple, PaimonFileEntry] = {}
        for mn in prior:
            for e in read_manifest(path, mn, part_types, info.partition_keys):
                key = (tuple(sorted(e.partition.items())), e.bucket, e.file_name)
                if e.kind == 0:
                    seen[key] = e
                else:
                    seen.pop(key, None)
        prior_adds = list(seen.values())

    entries = []
    for i, (kind, pvals, bucket, table) in enumerate(files):
        parts = [
            f"{k}={format_partition_segment(pvals[k], pt, default_name)}"
            for k, pt in zip(info.partition_keys, part_types)
        ]
        ddir = os.path.join(path, *parts, f"bucket-{bucket}")
        os.makedirs(ddir, exist_ok=True)
        fmt = info.options.get("file.format", "parquet")
        raw_part = encode_binary_row(
            [pvals[k] for k in info.partition_keys], part_types
        )
        if kind != 0:
            canon = tuple(
                sorted(
                    zip(
                        info.partition_keys,
                        decode_binary_row(bytes(raw_part), part_types),
                    )
                )
            )
            cands = [
                e
                for e in prior_adds
                if e.bucket == bucket and tuple(sorted(e.partition.items())) == canon
            ]
            if isinstance(table, str):
                cands = [e for e in cands if e.file_name == table]
            if not cands:
                raise ValueError(
                    f"append_paimon_fixture_snapshot: DELETE entry {i} matches "
                    f"no live prior ADD in partition={dict(canon)} bucket={bucket}"
                    + (f" name={table!r}" if isinstance(table, str) else "")
                )
            target = cands[-1]
            entries.append(
                {
                    "_VERSION": 2,
                    "_KIND": kind,
                    "_PARTITION": raw_part,
                    "_BUCKET": bucket,
                    "_TOTAL_BUCKETS": _total_buckets,
                    "_FILE": _spec_file_meta(
                        target.file_name,
                        target.file_size,
                        target.row_count,
                        schema_id=schema_id,
                    ),
                }
            )
            continue
        fname = f"data-fixture-{tag}-{i}.{fmt}"
        fpath = os.path.join(ddir, fname)
        _write_fixture_data_file(table, fpath, fmt)
        size = os.path.getsize(fpath) if os.path.exists(fpath) else 0
        entries.append(
            {
                "_VERSION": 2,
                "_KIND": kind,
                "_PARTITION": raw_part,
                "_BUCKET": bucket,
                "_TOTAL_BUCKETS": _total_buckets,
                "_FILE": _spec_file_meta(
                    fname, size, table.num_rows, schema_id=schema_id,
                    value_stats=_value_stats_for(table, info),
                    min_seq=_kv_seq_range(table)[0] or 0,
                    max_seq=_kv_seq_range(table)[1],
                ),
            }
        )

    mname = f"manifest-fixture-{tag}.avro"
    write_avro_records(os.path.join(path, "manifest", mname), MANIFEST_SCHEMA, entries)

    def _list_entry(name: str, stats=None) -> dict:
        return {
            "_VERSION": 2,
            "_FILE_NAME": name,
            "_FILE_SIZE": os.path.getsize(os.path.join(path, "manifest", name)),
            "_NUM_ADDED_FILES": 0,
            "_NUM_DELETED_FILES": 0,
            "_PARTITION_STATS": stats or _EMPTY_STATS,
            "_SCHEMA_ID": 0,
        }

    clname = None
    if changelog_files:
        cl_entries = []
        for i, (pvals, bucket, table) in enumerate(changelog_files):
            parts = [
                f"{k}={format_partition_segment(pvals[k], pt, default_name)}"
                for k, pt in zip(info.partition_keys, part_types)
            ]
            ddir = os.path.join(path, *parts, f"bucket-{bucket}")
            os.makedirs(ddir, exist_ok=True)
            fmt = info.options.get("file.format", "parquet")
            fname = f"changelog-fixture-{tag}-{i}.{fmt}"
            fpath = os.path.join(ddir, fname)
            _write_fixture_data_file(table, fpath, fmt)
            cl_entries.append(
                {
                    "_VERSION": 2,
                    "_KIND": 0,
                    "_PARTITION": encode_binary_row(
                        [pvals[k] for k in info.partition_keys], part_types
                    ),
                    "_BUCKET": bucket,
                    "_TOTAL_BUCKETS": _total_buckets,
                    "_FILE": _spec_file_meta(
                        fname,
                        os.path.getsize(fpath),
                        table.num_rows,
                        schema_id=schema_id,
                    ),
                }
            )
        cmname = f"manifest-changelog-{tag}.avro"
        write_avro_records(
            os.path.join(path, "manifest", cmname), MANIFEST_SCHEMA, cl_entries
        )
        clname = f"manifest-list-fixture-{tag}-changelog.avro"

    blname = f"manifest-list-fixture-{tag}-base.avro"
    dlname = f"manifest-list-fixture-{tag}-delta.avro"
    write_avro_records(
        os.path.join(path, "manifest", blname),
        MANIFEST_LIST_SCHEMA,
        [_list_entry(n) for n in prior],
    )
    write_avro_records(
        os.path.join(path, "manifest", dlname),
        MANIFEST_LIST_SCHEMA,
        [_list_entry(mname, partition_stats_for_entries(entries, part_types))],
    )
    if clname:
        write_avro_records(
            os.path.join(path, "manifest", clname),
            MANIFEST_LIST_SCHEMA,
            [_list_entry(cmname)],
        )
    new_id = prev_id + 1
    n_rows = sum(t.num_rows for k, _p, _b, t in files if k == 0)
    with open(os.path.join(path, "snapshot", f"snapshot-{new_id}"), "w") as f:
        json.dump(
            {
                "version": 3,
                "id": new_id,
                "schemaId": schema_id,
                "baseManifestList": blname,
                "deltaManifestList": dlname,
                "changelogManifestList": clname,
                "indexManifest": prev.get("indexManifest"),
                "commitUser": "fixture",
                "commitIdentifier": new_id,
                "commitKind": "APPEND",
                "timeMillis": 0,
                "logOffsets": {},
                "totalRecordCount": int(prev.get("totalRecordCount", 0)) + n_rows,
                "deltaRecordCount": n_rows,
                "changelogRecordCount": 0,
                "watermark": -9223372036854775808,
            },
            f,
        )
    write_hint_atomic(os.path.join(path, "snapshot", "LATEST"), new_id)
    return new_id


# ---- shared read recipes (import + in-place lake read) ----


def paimon_kv_schema(info: PaimonSchemaInfo) -> T.StructType:
    """Physical schema of a Paimon PK table's key-value data files:
    ``_KEY_<k>`` for each trimmed primary key (PK minus partition keys —
    Paimon trims them), ``_SEQUENCE_NUMBER``, ``_VALUE_KIND``, then all
    value fields."""
    trimmed = [k for k in info.primary_keys if k not in info.partition_keys]
    fields = [
        T.StructField(f"_KEY_{k}", info.spark_schema[k].dataType) for k in trimmed
    ]
    fields.append(T.StructField("_SEQUENCE_NUMBER", T.LongType()))
    fields.append(T.StructField("_VALUE_KIND", T.IntegerType()))
    fields.extend(T.StructField(f.name, f.dataType) for f in info.spark_schema.fields)
    return T.StructType(fields)


#: (table_path, old schema id, current schema id) → colmap; schema
#: files are immutable per id, so entries never invalidate
_COLMAP_CACHE: "dict[tuple, Optional[dict]]" = {}


def field_id_colmap(table_path: str, info, schema_id: int) -> Optional[dict]:
    """{current value-column name: source column name or None} for a
    file written under ``schema_id`` — matched BY FIELD ID, the
    identity that survives rename/reorder evolution (the pyarrow-read
    twin of :func:`_mapped_select`; PK/partition/system columns map by
    name, Paimon forbids renaming them). None when the file is
    current-schema (no remap needed). Memoized per (table, old, new)
    schema-id pair — planning a large evolved lake must not re-parse
    the same schema JSON once per entry."""
    if schema_id == info.id:
        return None
    key = (table_path, schema_id, info.id)
    if key in _COLMAP_CACHE:
        return _COLMAP_CACHE[key]
    oinfo = read_paimon_schema(table_path, schema_id)
    old_by_id = {
        fid: f.name for fid, f in zip(oinfo.field_ids, oinfo.spark_schema.fields)
    }
    old_names = {f.name for f in oinfo.spark_schema.fields}
    cur_ids = info.field_ids or list(range(len(info.spark_schema.fields)))
    out: dict = {}
    for fid, f in zip(cur_ids, info.spark_schema.fields):
        if f.name in info.partition_keys:
            continue
        if oinfo.field_ids:
            out[f.name] = old_by_id.get(fid)
        else:
            out[f.name] = f.name if f.name in old_names else None
    if len(_COLMAP_CACHE) > 1024:
        _COLMAP_CACHE.clear()
    _COLMAP_CACHE[key] = out
    return out


def _mapped_select(oinfo: PaimonSchemaInfo, info: PaimonSchemaInfo, kv: bool, skip=()):
    """Select list (SQL expression strings for ``selectExpr`` — one
    py4j round trip for the whole list instead of 3 per column, this
    runs per schema group on every planned read) projecting a file
    group written under ``oinfo`` to the CURRENT schema ``info``,
    matched BY FIELD ID — the identity that survives rename/reorder
    evolution (reference builds the same index mapping per file,
    data_file_record_reader.py:86-98). A current field whose id is
    absent from the old schema surfaces NULL; an old field whose id was
    dropped simply isn't selected. PK and partition columns map by name
    (Paimon forbids renaming them), as do the ``_KEY_*``/sequence/kind
    system columns on kv files. Falls back to by-name matching when the
    old schema carries no field ids (legacy fixtures)."""
    from paimon_python_spark._localdf import quote_ident
    from paimon_python_spark.write import KIND_COL, SEQ_COL

    old_by_id = {
        fid: f.name
        for fid, f in zip(oinfo.field_ids, oinfo.spark_schema.fields)
    }
    old_names = {f.name for f in oinfo.spark_schema.fields}
    cols = []
    if kv:
        trimmed = [k for k in info.primary_keys if k not in info.partition_keys]
        cols += [quote_ident(f"_KEY_{k}") for k in trimmed]
        cols += [quote_ident(SEQ_COL), quote_ident(KIND_COL)]
    cur_ids = info.field_ids or list(range(len(info.spark_schema.fields)))
    for fid, f in zip(cur_ids, info.spark_schema.fields):
        if f.name in skip:
            continue
        if oinfo.field_ids:
            src_name = old_by_id.get(fid)
        else:
            src_name = f.name if f.name in old_names else None
        src = "NULL" if src_name is None else quote_ident(src_name)
        cols.append(
            f"CAST({src} AS {f.dataType.simpleString()}) "
            f"AS {quote_ident(f.name)}"
        )
    return cols


def _load_lake_entries(
    spark,
    info: PaimonSchemaInfo,
    entries,
    src,
    fmt: str,
    table_path: "str | None" = None,
    dv_ranges=(),
    file_name_col: "str | None" = None,
    row_pos_col: "str | None" = None,
):
    """Unmerged rows of planned lake files: on key-value files the
    stored ``_KEY_*``, ``_SEQUENCE_NUMBER`` and ``_VALUE_KIND``, then
    every declared column (partition columns from the manifest
    entries, not the file bytes), then ``file_name_col`` (each row's
    file name) and ``row_pos_col`` (its 0-based position in the file)
    when asked. Rows marked by ``dv_ranges`` drop.

    Spark's native vectorized scan reads DV-free parquet and orc files
    without row positions, so Catalyst filters still push into it:
    files group by the ``_SCHEMA_ID`` they were written under, each
    group projects to the current schema BY FIELD ID
    (:func:`_mapped_select`; by-name ``mergeSchema`` alone would read a
    renamed column as NULL), and the groups union by name. Every other
    read — avro files, deletion-vector marks, row positions — runs
    :func:`read_lake_task` once per file through :func:`arrow_task_df`:
    the task remaps field ids, drops marked rows in place and keeps
    every value exact."""
    from functools import reduce

    from pyspark.sql import functions as F

    from paimon_python_spark._localdf import quote_ident

    kv = bool(info.primary_keys)
    schema = T.StructType(
        [
            *(paimon_kv_schema(info) if kv else info.spark_schema).fields,
            *[
                T.StructField(c, t)
                for c, t in (
                    (file_name_col, T.StringType()),
                    (row_pos_col, T.LongType()),
                )
                if c
            ],
        ]
    )
    dv_ranges = _relevant_dv(dv_ranges, entries)
    if fmt == "avro" or dv_ranges or row_pos_col:
        specs = lake_read_specs(
            table_path,
            info,
            entries,
            src,
            dv_ranges,
            grouped=False,
            merge=False,
            kv_cols=True,
            file_name=file_name_col,
            row_pos=row_pos_col,
            tz=spark.conf.get("spark.sql.session.timeZone"),
        )
        return arrow_task_df(spark, specs, schema, lambda s: read_lake_task(s, info))
    # append files need not carry their partition columns (hive-style
    # layouts): they join back from a broadcast (file -> values) map
    skip = () if kv else tuple(info.partition_keys)
    fn = (file_name_col or "__file_name") if skip else file_name_col
    groups: dict[int, list] = {}
    for e in entries:
        groups.setdefault(e.schema_id, []).append(e)
    parts = []
    for sid in sorted(groups):
        if sid == info.id:
            oinfo = info
        elif table_path is None:
            raise ValueError(
                f"lake read: entries were written under schema-{sid} but no "
                "table_path was provided to load it for field-id mapping"
            )
        else:
            oinfo = read_paimon_schema(table_path, sid)
        df = (
            spark.read.format(fmt)
            .option("mergeSchema", "true")
            .load([src(e) for e in groups[sid]])
        )
        if fn:
            # _metadata.file_name, NOT input_file_name(): the metadata
            # struct resolves AT the scan, so data-column predicates
            # above it still push into the parquet reader — a
            # projection over the non-deterministic input_file_name()
            # blocks PushedFilters entirely (caught by
            # test_lake_read_residual_filter_pushes_to_scan)
            df = df.withColumn(fn, F.col("_metadata.file_name"))
        sel = _mapped_select(oinfo, info, kv=kv, skip=skip)
        parts.append(df.selectExpr(*sel, *([quote_ident(fn)] if fn else [])))
    df = reduce(lambda a, b: a.unionByName(b), parts)
    if skip:
        rows = {}
        for e in entries:
            pv = logical_partition_values(info, e.partition)
            rows[e.file_name] = (e.file_name, *[pv[k] for k in skip])
        pmap = local_df(
            spark,
            list(rows.values()),
            T.StructType(
                [T.StructField(fn, T.StringType(), False)]
                + [
                    T.StructField(k, info.spark_schema[k].dataType, True)
                    for k in info.partition_keys
                ]
            ),
            max_slices=1,
        )
        df = df.join(F.broadcast(pmap), fn)
    return df.select(*schema.fieldNames())


#: on-disk byte budget of one in-task deduplicate / first-row merge
#: group (:func:`bucket_groups`; :func:`merge_budget` gives every
#: engine's). A group merges whole in a single task's Arrow memory, so
#: a misconfigured table (bucket=1, or a skewed bucket key) must NOT
#: take that path: above the budget the builder falls back to the
#: exact key-window merge, whose shuffle spills instead of OOMing, and
#: the ``format("paimon_lake")`` data source refuses. The engine
#: builder's per-split gate (``read._engine_bucket_local_ok``) shares
#: it. 1 GiB on disk ≈ a few GiB decoded — comfortably inside one
#: executor task at default sizing.
_BUCKET_LOCAL_MAX_GROUP_BYTES = 1 << 30


def merge_budget(info: PaimonSchemaInfo) -> int:
    """On-disk byte budget of one in-task merge group of this lake.
    The Arrow sort of deduplicate and first-row peaks near 1.7x the
    group's decoded table on top of it; the pandas folds of
    partial-update and aggregation peak near 2x for scalar fields and
    up to 5x for container fields (Python objects; 1-2M-row groups),
    so they get a quarter of :data:`_BUCKET_LOCAL_MAX_GROUP_BYTES`."""
    if info.options.get("merge-engine", "deduplicate") in ("deduplicate", "first-row"):
        return _BUCKET_LOCAL_MAX_GROUP_BYTES
    return _BUCKET_LOCAL_MAX_GROUP_BYTES // 4


def bucket_groups(entries) -> list:
    """Entries grouped into the units a key's versions are closed in,
    as ``[(manifest entry index, entry)]`` lists in a stable group
    order: one group per (partition, bucket) when every file of the
    partition carries the same ``total_buckets`` and sits in a bucket
    that count has (one geometry routes each key to one bucket), else
    one group for the whole partition (files written under two bucket
    counts, or hand-placed in a stray bucket)."""
    geometry: dict = {}
    for e in entries:
        nb = e.total_buckets
        stray = nb is not None and 0 < nb <= e.bucket
        geometry.setdefault(tuple(sorted(e.partition.items())), set()).add(
            "stray" if stray else nb
        )
    groups: dict = {}
    for i, e in enumerate(entries):
        part = tuple(sorted(e.partition.items()))
        closed = len(geometry[part]) == 1 and "stray" not in geometry[part]
        groups.setdefault((part, e.bucket if closed else None), []).append((i, e))
    return [groups[k] for k in sorted(groups)]


def max_group_bytes(entries) -> int:
    """Largest on-disk size of a :func:`bucket_groups` group — the
    single-task memory proxy the in-task merge is gated on."""
    return max(
        (sum(int(e.file_size or 0) for _, e in g) for g in bucket_groups(entries)),
        default=0,
    )


def _bucket_local_merge_ok(info: PaimonSchemaInfo, entries) -> bool:
    """Whether a lake PK read merges in-task: :func:`read_lake_task`
    once per :func:`bucket_groups` group, with no shuffle. Every merge
    engine, dynamic and cross-partition bucketing, deletion vectors,
    schema evolution and time travel across a rescale merge there.
    Exactly two shapes take ``read.merge_on_read``'s key-window
    instead:

    - a table with ``hll_sketch`` aggregation fields: the union is the
      JVM's ``hll_union_agg``, which the in-task fold does not have;
    - any group larger than :func:`merge_budget` on disk: a group
      merges whole in one task's memory, while the key-window's
      shuffle spills instead of OOMing.

    Reads manifest metadata and options only."""
    from paimon_python_spark.agg_merge import hll_sketch_fields

    if hll_sketch_fields(info):
        return False
    return max_group_bytes(entries) <= merge_budget(info)


def read_data_file(path: str, fmt: str, cols, arrow_filter=None, filter_fields=()):
    """One data file (parquet / orc / avro) as an arrow table of the
    ``cols`` it carries. ``arrow_filter`` prunes parquet row groups and
    rows at the read when the file has every ``filter_fields`` column
    (otherwise the file reads unfiltered)."""
    if fmt == "orc":
        import pyarrow.orc as po

        f = po.ORCFile(path)
        return f.read(columns=[c for c in cols if c in f.schema.names])
    if fmt == "avro":
        import pyarrow as pa

        from paimon_python_spark.avro_codec import read_avro_table

        with open(path, "rb") as fh:
            names, rows = read_avro_table(fh.read())
        idx = {c: names.index(c) for c in cols if c in names}
        return pa.table({c: [r[i] for r in rows] for c, i in idx.items()})
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    names = pf.schema_arrow.names
    have = [c for c in cols if c in names]
    if arrow_filter is not None and all(c in names for c in filter_fields):
        return pq.read_table(path, columns=have, filters=arrow_filter)
    return pf.read(columns=have)


def kv_column_pa_type(schema, col: str):
    """Arrow type of a stored key-value column: the two system columns
    are fixed by the writers (int64 sequence, int32 kind), ``_KEY_*``
    and value columns follow the current table schema."""
    import pyarrow as pa

    from paimon_python_spark.types import spark_type_to_pa

    if col == "_SEQUENCE_NUMBER":
        return pa.int64()
    if col == "_VALUE_KIND":
        return pa.int32()
    base = col[5:] if col.startswith("_KEY_") else col
    for f in schema.spark_schema.fields:
        if f.name == base:
            return spark_type_to_pa(f.dataType)
    return pa.null()


def read_group_frame(
    files, fmt: str, cols, schema, key_predicate=None, tz=None, row_pos=False
):
    """THE pyarrow read of one merge group's files into one Arrow table
    holding exactly ``cols``, each cast to its :func:`kv_column_pa_type`,
    plus ``__file`` (each row's index in ``files``) and, with
    ``row_pos``, ``__pos`` (its position in its file), shared by
    :func:`read_lake_task` and the engine builder's bucket-local merge.
    ``tz`` (lake files, whose writers store the session wall clock)
    turns each file's stored timestamps into Spark's form first
    (:func:`_spark_timestamps`); Spark-written engine files need none.

    ``files`` holds ``(path, colmap, dv)`` triples. ``colmap`` (field-id
    schema evolution) maps current column names to a pre-evolution
    file's own names; a None entry is a dropped field id, and names
    outside the map (system columns) read as they are. ``dv`` is a
    deletion vector's (index path, offset, length): its marked row
    positions drop (an Arrow mask) before anything else sees the rows.
    Columns a file lacks NULL-fill with their type.
    ``key_predicate`` (parquet, DV-free files, no ``row_pos``) filters
    rows at the read — exact BEFORE a merge, because every version of a
    key shares its key values — so a point lookup reads only the row
    groups whose stats admit the key."""
    import numpy as np
    import pyarrow as pa

    arrow_filter, filter_fields = None, ()
    if key_predicate is not None and fmt == "parquet":
        arrow_filter = key_predicate.to_arrow()
        filter_fields = sorted(key_predicate.fields())
    types = {c: kv_column_pa_type(schema, c) for c in cols}

    def typed(c, col):
        typ = types[c]
        if tz and pa.types.is_timestamp(col.type):
            base = c[5:] if c.startswith("_KEY_") else c
            col = _spark_timestamps(col, schema.spark_schema[base].dataType, fmt, tz)
        if col.type == typ:
            return col
        if pa.types.is_date32(typ) and pa.types.is_integer(col.type):
            col = col.cast(pa.int32())  # avro files hold DATE as int days
        return col.cast(typ)

    tables = []
    for fi, (path, colmap, dv) in enumerate(files):
        stored = {c: colmap.get(c) if colmap and c in colmap else c for c in cols}
        t = read_data_file(
            path,
            fmt,
            [s for s in stored.values() if s],
            None if dv or row_pos else arrow_filter,
            filter_fields,
        )
        if dv:
            pos = read_dv_index_entry(str(dv[0]), int(dv[1]), int(dv[2]))
            keep = np.ones(t.num_rows, dtype=bool)
            pos = pos.astype(np.int64)
            keep[pos[pos < t.num_rows]] = False
            t = t.filter(pa.array(keep))
        n = t.num_rows
        arrays = [
            typed(c, t[stored[c]])
            if stored[c] in t.column_names
            else pa.nulls(n, types[c])
            for c in cols
        ]
        arrays.append(pa.array(np.full(n, fi, dtype=np.int32)))
        if row_pos:
            # positions in the file, counted before the DV mask
            arrays.append(pa.array(np.flatnonzero(keep) if dv else np.arange(n)))
        names = [*cols, "__file", *(["__pos"] if row_pos else [])]
        tables.append(pa.table(arrays, names=names))
    return pa.concat_tables(tables)


def session_time_zone() -> str:
    """The Spark session time zone inside a task: the zone Spark ships
    with each SQL job's local properties. A session that never set it
    keeps the JVM default, taken here as UTC."""
    from pyspark import TaskContext

    tc = TaskContext.get()
    return (tc and tc.getLocalProperty("spark.sql.session.timeZone")) or "UTC"


def _spark_timestamps(col, dt, fmt: str, tz: str):
    """A stored lake timestamp column in the form Spark takes from
    Arrow — UTC instants for TIMESTAMP WITH LOCAL TIME ZONE, the wall
    clock for TIMESTAMP — the inverse of the write task's forms: parquet
    and avro files hold the session-local wall clock for both kinds
    (``paimon_lake.lake_task_table``), ORC files the UTC instant of it
    for both (``paimon_lake._orc_instants``, the form Spark's ORC reader
    takes). Like Spark's own readers, it takes the wall clock in the
    reading session's zone ``tz``, and a column stored as a UTC-adjusted
    instant (JVM writers) as it is."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if col.type.tz is not None or tz == "UTC":
        return col
    if isinstance(dt, T.TimestampType) and fmt != "orc":
        return pc.assume_timezone(col, tz, ambiguous="earliest", nonexistent="earliest")
    if isinstance(dt, T.TimestampNTZType) and fmt == "orc":
        return pc.local_timestamp(col.cast(pa.timestamp(col.type.unit, tz=tz)))
    return col


def read_lake_task(spec: dict, info: PaimonSchemaInfo, key_predicate=None):
    """THE lake read task, the read-side mirror of
    ``paimon_lake.write_lake_task``: one spec of :func:`lake_read_specs`
    in, one ``pyarrow.Table`` of the declared columns out, with no
    pandas between the files and Spark. It reads the spec's files with
    :func:`read_group_frame`; merges a key-value group
    (``spec["merge"]``) with ``agg_merge.merge_group`` in THE lake
    merge order — the ``sequence.field`` columns, then
    ``_SEQUENCE_NUMBER`` (Paimon's ``UserDefinedSeqComparator``), then
    the lower LSM level (the newer run), then the later manifest
    entry, the reference's sort-merge input order; and adds the
    partition constants. Stored timestamps read in ``spec["tz"]``, else
    the task's session zone (:func:`_spark_timestamps`).

    ``spec["columns"]`` prunes the output to those declared columns
    (all when None); a merge still reads the columns it orders and
    folds by (``agg_merge.merge_input_cols``). ``spec["kv_cols"]``
    leads an unmerged key-value read with the stored ``_KEY_*``,
    ``_SEQUENCE_NUMBER`` and ``_VALUE_KIND``. Trailing columns follow
    when their spec key names them: ``row_kind`` (+I/-U/+U/-D from
    ``_VALUE_KIND`` on unmerged key-value rows, +I on append files and
    merged rows), ``file_name`` (each row's file name) and
    ``row_pos`` (its position in its file, counted before DV marks
    drop). ``key_predicate`` filters ``_KEY_*`` columns at the read
    (see :func:`read_group_frame`). Runs in the builder's
    :func:`arrow_task_df` plans and in both ``format("paimon_lake")``
    readers."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from paimon_python_spark.agg_merge import (
        merge_group,
        merge_input_cols,
        order_rank,
        sequence_fields,
    )
    from paimon_python_spark.types import spark_type_to_pa

    part_keys = info.partition_keys
    columns = spec.get("columns")
    fields = [
        f for f in info.spark_schema.fields if columns is None or f.name in columns
    ]
    read = {f.name for f in fields}
    if spec["merge"]:
        read |= set(merge_input_cols(info))
    keys = [f"_KEY_{k}" for k in info.primary_keys if k not in part_keys]
    kv_cols = keys + ["_SEQUENCE_NUMBER", "_VALUE_KIND"] if spec["kv"] else []
    files = spec["files"]
    g = read_group_frame(
        [(path, colmap, dv) for _, path, _, colmap, dv in files],
        spec["fmt"],
        kv_cols
        + [
            f.name
            for f in info.spark_schema.fields
            if f.name in read and f.name not in part_keys
        ],
        info,
        key_predicate,
        spec.get("tz") or session_time_zone(),
        row_pos=bool(spec.get("row_pos")),
    )
    if spec["merge"]:
        fi = g["__file"].to_numpy()
        g = g.append_column(
            "__ord",
            order_rank(
                *[g[c] for c in sequence_fields(info.options)],
                g["_SEQUENCE_NUMBER"],
                pa.array(-np.asarray([f[2] for f in files], dtype=np.int64)[fi]),
                pa.array(np.asarray([f[0] for f in files], dtype=np.int64)[fi]),
            ),
        )
        g = merge_group(g, info, keys, "__ord", "_VALUE_KIND")
    out = {c: g[c] for c in kv_cols} if spec.get("kv_cols") else {}
    for f in fields:
        if f.name in part_keys:
            v = partition_value(info, f.name, spec["partition"].get(f.name))
            out[f.name] = pa.repeat(
                pa.scalar(v, spark_type_to_pa(f.dataType)), g.num_rows
            )
        else:
            out[f.name] = g[f.name]
    if spec.get("row_kind"):
        out[spec["row_kind"]] = (
            pc.take(pa.array(["+I", "-U", "+U", "-D"]), g["_VALUE_KIND"])
            if spec["kv"] and not spec["merge"]
            else pa.repeat(pa.scalar("+I"), g.num_rows)
        )
    if spec.get("file_name"):
        names = pa.array([os.path.basename(f[1]) for f in files])
        out[spec["file_name"]] = pc.take(names, g["__file"])
    if spec.get("row_pos"):
        out[spec["row_pos"]] = g["__pos"]
    return pa.table(out)


def json_safe_partition(info: PaimonSchemaInfo, partition: dict) -> dict:
    """A group's logical partition values in JSON-safe form (dates as
    ISO strings) — what rides a group spec to the executor."""
    out = {}
    for k, v in logical_partition_values(info, partition).items():
        out[k] = v.isoformat() if hasattr(v, "isoformat") else v
    return out


def partition_value(info: PaimonSchemaInfo, name: str, v):
    """Inverse of :func:`json_safe_partition` for one column."""
    import datetime

    dt = info.spark_schema[name].dataType
    if v is not None and isinstance(dt, T.DateType):
        if isinstance(v, int):
            return datetime.date(1970, 1, 1) + datetime.timedelta(days=v)
        return datetime.date.fromisoformat(v)
    return v


def lake_read_specs(
    table_path, info: PaimonSchemaInfo, entries, src, dv_ranges=(), grouped=True, **spec_kw
) -> list:
    """THE spec builder of :func:`read_lake_task`, shared by the
    builder's in-task merge, its unmerged reads
    (:func:`_load_lake_entries`) and both ``format("paimon_lake")``
    readers: one spec per :func:`bucket_groups` group on key-value
    lakes (the merge unit; ``grouped=False`` plans one per file, the
    shape of unmerged reads) and one per file on append lakes. Each
    file rides as ``[manifest entry index, path, level, field-id
    colmap, DV (index path, offset, length)]``; ``src`` maps an entry
    to its path, and ``spec_kw`` adds or overrides the per-caller keys
    (``merge``, ``columns``, ``tz``, ``kv_cols``, ``row_kind``,
    ``file_name``, ``row_pos``). Specs are JSON-safe."""
    kv = bool(info.primary_keys)
    dv_by_file = {
        r.data_file_name: [r.index_path, r.offset, r.length] for r in dv_ranges
    }
    groups = (
        bucket_groups(entries)
        if kv and grouped
        else [[(i, e)] for i, e in enumerate(entries)]
    )
    return [
        {
            "fmt": info.options.get("file.format", "parquet"),
            "kv": kv,
            "merge": kv,
            "files": [
                [
                    i,
                    src(e),
                    e.level,
                    field_id_colmap(table_path, info, e.schema_id)
                    if table_path
                    else None,
                    dv_by_file.get(e.file_name),
                ]
                for i, e in es
            ],
            "partition": json_safe_partition(info, es[0][1].partition),
            **spec_kw,
        }
        for es in groups
    ]


def arrow_task_df(spark, specs, schema: T.StructType, task):
    """THE plan of every in-task read: ``specs`` (JSON-safe dicts) ride
    as strings through ``parallelize`` into at most
    ``_localdf.pinned_width`` slices, and ``mapInArrow`` runs
    ``task(spec) -> pyarrow.Table`` on each spec of a slice in turn,
    yielding ``schema``'s columns. Packing matters: every Python task
    pays a fixed start-up cost, so 16 groups in 16 tasks take several
    times as long as the same groups in 4. The plan carries no
    Exchange; the spec strings are the only driver-to-executor
    payload."""
    from paimon_python_spark._localdf import pinned_width

    rows = [(json.dumps(s),) for s in specs]
    n = max(1, min(len(rows), pinned_width(spark)))
    plan = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=n), "spec string"
    )

    def run(batches):
        for b in batches:
            for spec in b.column("spec").to_pylist():
                yield from task(json.loads(spec)).to_batches()

    return plan.mapInArrow(run, schema)


def merge_paimon_pk_entries(
    spark,
    info: PaimonSchemaInfo,
    entries,
    src,
    fmt: str,
    dv_ranges=None,
    table_path: "str | None" = None,
    needed_cols=None,
    key_predicate=None,
):
    """Distributed merge of a PK lake's key-value files into the
    visible rows — real Paimon's own execution shape: a key's versions
    are closed in one :func:`bucket_groups` group, so
    :func:`read_lake_task` merges each group in-task with
    ``agg_merge.merge_group`` and the groups pack into
    :func:`arrow_task_df`'s slices. Plan shape: scan → MapInArrow,
    zero Exchange. The shapes :func:`_bucket_local_merge_ok` names
    take ``read.merge_on_read``'s key-window instead, one shuffle of
    every scanned byte. Both merges rank a key's versions the same
    way: ``sequence.field`` columns, then ``_SEQUENCE_NUMBER``, then
    the lower LSM level (0 = newest), then the later manifest entry
    (the reference's sort-merge input order); deduplicate keeps the
    top row and drops it when it is a ``-D``/``-U``.

    ``dv_ranges`` (deletion-vector tables): each marked file's read
    task drops its marked positions BEFORE the merge — DV mode's whole
    point is that superseded versions are already marked, but running
    the merge afterwards anyway is idempotent and keeps the result
    exact even on partially-marked lakes.

    ``needed_cols`` prunes the in-task reads to those columns plus the
    keys (the key-window lets Catalyst prune). ``key_predicate`` filters
    the ``_KEY_*`` columns below either merge. ``src`` maps a
    :class:`PaimonFileEntry` to its absolute path. Option errors raise
    on the driver (``agg_merge.check_merge_options``). Returns a
    DataFrame with exactly the declared schema columns."""
    from pyspark.sql import functions as F

    from paimon_python_spark.agg_merge import check_merge_options
    from paimon_python_spark.write import KIND_COL, SEQ_COL

    if not entries:
        return local_df(spark, [], info.spark_schema)
    dv_ranges = _relevant_dv(dv_ranges, entries)
    if _bucket_local_merge_ok(info, entries):
        # the key-window below gets the same check from merge_on_read
        check_merge_options(info)
        fields = list(info.spark_schema.fields)
        if needed_cols is not None:
            keep = {*needed_cols, *info.primary_keys, *info.partition_keys}
            fields = [f for f in fields if f.name in keep]
        specs = lake_read_specs(
            table_path,
            info,
            entries,
            src,
            dv_ranges,
            columns=[f.name for f in fields],
            tz=spark.conf.get("spark.sql.session.timeZone"),
        )
        return arrow_task_df(
            spark,
            specs,
            T.StructType(fields),
            lambda spec: read_lake_task(spec, info, key_predicate),
        )
    raw = _load_lake_entries(
        spark,
        info,
        entries,
        src,
        fmt,
        table_path=table_path,
        dv_ranges=dv_ranges,
        file_name_col="__file_name",
    )
    if key_predicate is not None:
        # key predicates are version-invariant (every version of a key
        # shares its _KEY_* values), so filtering BEFORE the merge
        # window is exact — and Catalyst pushes the filter into the
        # parquet scan, so the exchange feeding the window carries only
        # matching keys' versions
        raw = raw.filter(key_predicate.to_column())
    # a lake declaring first-row / partial-update / aggregation carries
    # the SAME options vocabulary as the engine's own tables, so the
    # shared merge_on_read resolves every engine (hash aggregates for
    # partial-update/aggregation — map-side combine, not a window)
    from paimon_python_spark._localdf import cast_select_sql
    from paimon_python_spark.read import merge_on_read

    tie_cols, tie_breaks = [], ()
    if info.options.get("merge-engine", "deduplicate") == "deduplicate":
        # file names are UUID-unique within a Paimon table, so a
        # broadcast (file_name → entry order, level) lookup rides next
        # to every row: equal sequences resolve to the lower level,
        # then the later manifest entry
        order_df = F.broadcast(
            local_df(
                spark,
                [(e.file_name, i, e.level) for i, e in enumerate(entries)],
                "__file_name string, __entry_idx int, __level int",
                max_slices=1,
            )
        )
        raw = raw.join(order_df, "__file_name")
        tie_cols = ["__level", "__entry_idx"]
        tie_breaks = (F.col("__level").asc(), F.col("__entry_idx").desc())
    value_cols = [f.name for f in info.spark_schema.fields]
    merged = merge_on_read(
        raw.select(*value_cols, SEQ_COL, KIND_COL, *tie_cols),
        info,
        tie_breaks=tie_breaks,
    )
    # align physical widths with the declared schema — one parsed
    # select (single py4j round trip) per merged read (guide §5.3)
    return merged.selectExpr(*cast_select_sql(info.spark_schema.fields))


def _relevant_dv(dv_ranges, entries):
    """Keep only DV ranges that target a planned entry's file (pruned
    partitions' vectors never decode)."""
    if not dv_ranges:
        return []
    names = {e.file_name for e in entries}
    return [r for r in dv_ranges if r.data_file_name in names]


def read_paimon_append_entries(
    spark,
    info: PaimonSchemaInfo,
    entries,
    src,
    fmt: str,
    dv_ranges=None,
    table_path: "str | None" = None,
):
    """Read an append table's live files in place, as the declared
    columns. Partition values come AUTHORITATIVELY from the manifest
    entries' BinaryRow, never from the file bytes: hive-style files do
    not carry the columns at all, and a mixed-provenance lake (JVM
    files that do, engine appends that do not) must read the same
    either way. :func:`_load_lake_entries` does the read, so avro
    files and FIELD-ID schema evolution (rename/reorder, added columns
    NULL-filled) apply to append tables exactly as they do to PK
    tables. ``dv_ranges``: row-level deletes on append tables
    (Paimon's DELETE-FROM support) drop inside each marked file's read
    task."""
    if not entries:
        return local_df(spark, [], info.spark_schema)
    return _load_lake_entries(
        spark, info, entries, src, fmt, table_path=table_path, dv_ranges=dv_ranges
    )


# ---- import ----


def plan_paimon_delta(table_path: str, snapshot_id: int) -> List[PaimonFileEntry]:
    """ADD entries of ONE snapshot's delta manifest list — the files
    that commit introduced (used by snapshot-by-snapshot history
    replay; compaction rewrites carry DELETE entries and are skipped
    upstream by commitKind)."""
    info = read_paimon_schema(table_path)
    snap = read_paimon_snapshot(table_path, snapshot_id)
    part_types = [info.spark_schema[k].dataType for k in info.partition_keys]
    out: List[PaimonFileEntry] = []
    lst = snap.get("deltaManifestList")
    if lst:
        for mname in read_manifest_list(table_path, lst):
            for e in read_manifest(table_path, mname, part_types, info.partition_keys):
                if e.kind == 0:
                    out.append(e)
    return out


def plan_paimon_changelog(
    table_path: str, snapshot_id: int, snap: Optional[dict] = None
) -> List[PaimonFileEntry]:
    """ADD entries of one snapshot's CHANGELOG manifest list — present
    when the lake's writer runs with a changelog-producer; these files
    carry the -U/+U row pairs a streaming consumer wants, which the
    delta files alone cannot reconstruct for updates. ``snap`` lets the
    caller pass an already-loaded snapshot dict (e.g. a decoupled
    ``changelog/changelog-N`` entry whose snapshot file is gone)."""
    info = read_paimon_schema(table_path)
    if snap is None:
        snap = read_paimon_snapshot(table_path, snapshot_id)
    part_types = [info.spark_schema[k].dataType for k in info.partition_keys]
    out: List[PaimonFileEntry] = []
    lst = snap.get("changelogManifestList")
    if lst:
        for mname in read_manifest_list(table_path, lst):
            for e in read_manifest(table_path, mname, part_types, info.partition_keys):
                if e.kind == 0:
                    out.append(e)
    return out


def _import_with_history(
    paimon_table_path: str, table, info, src, fmt: str, last_snapshot_id: int
) -> None:
    """Replay each Paimon snapshot as one engine commit, oldest first,
    so time travel on the imported table reaches states that predate
    the import. APPEND-kind commits replay their delta files (PK
    tables keep per-row RowKind so -D/-U history is faithful; rows
    write in original sequence order). COMPACT commits are logical
    no-ops and are skipped. OVERWRITE commits are rejected loudly —
    replaying partition replacement faithfully needs the engine's
    overwrite planner; use the default flat import for such tables.

    DELETION-VECTOR lakes replay too: a DV index rewrites visibility
    RETROACTIVELY, so a snapshot whose index manifest changed cannot be
    an append — it replays as a whole-table OVERWRITE of that
    snapshot's exact visible rows (files minus marks), and unchanged-
    index snapshots stay cheap delta appends. Each engine snapshot k
    therefore reads back with lake snapshot k's own visibility. Cost is
    one full visible-state write per DV-changing snapshot — DV deletes
    are metadata-sized in the lake but row-sized to replay; flat import
    remains the cheap path when history is not needed."""
    from paimon_python_spark.session import get_spark
    from paimon_python_spark.write import KIND_COL, SEQ_COL

    spark = get_spark()
    from pyspark.sql import functions as F

    prev_dv_sig: set = set()
    for sid in range(1, last_snapshot_id + 1):
        try:
            snap = read_paimon_snapshot(paimon_table_path, sid)
        except FileNotFoundError:
            continue  # expired snapshot — history starts later
        kind = str(snap.get("commitKind", "APPEND")).upper()
        if kind == "COMPACT":
            continue
        if kind == "OVERWRITE":
            # partition replacement rewrites visibility like a DV index
            # does: replay as a whole-table overwrite of the snapshot's
            # exact visible rows (coarser than per-partition replay but
            # row-identical per snapshot; cost is one full-state write
            # per OVERWRITE commit, same trade as the DV branch below)
            prev_dv_sig = {
                (r.index_path, r.data_file_name, r.offset, r.length)
                for r in plan_paimon_dv(paimon_table_path, snapshot=snap)
            }
            ov_entries = plan_paimon_files(paimon_table_path, snapshot=snap)
            dv_ov = plan_paimon_dv(paimon_table_path, snapshot=snap)
            if info.primary_keys:
                visible = merge_paimon_pk_entries(
                    spark, info, ov_entries, src, fmt,
                    dv_ranges=dv_ov, table_path=paimon_table_path,
                )
            else:
                visible = read_paimon_append_entries(
                    spark, info, ov_entries, src, fmt,
                    dv_ranges=dv_ov, table_path=paimon_table_path,
                )
            wb = table.new_batch_write_builder().overwrite()
            writer, committer = wb.new_write(), wb.new_commit()
            writer.write_dataframe(visible)
            committer.commit(writer.prepare_commit())
            writer.close()
            continue
        if kind not in ("APPEND",):
            raise NotImplementedError(
                f"preserve_history: snapshot {sid} has commitKind={kind}; "
                "only APPEND/COMPACT/OVERWRITE chains replay — import "
                "without preserve_history to flatten"
            )
        dv_s = plan_paimon_dv(paimon_table_path, snapshot=snap)
        dv_sig = {(r.index_path, r.data_file_name, r.offset, r.length) for r in dv_s}
        if dv_sig != prev_dv_sig:
            prev_dv_sig = dv_sig
            all_entries = plan_paimon_files(paimon_table_path, snapshot=snap)
            if info.primary_keys:
                # PK lake: the snapshot's visible state is the LSM
                # merge with the new index's marks applied — replay it
                # as a whole-table overwrite (the engine's later delta
                # appends upsert against this base)
                visible = merge_paimon_pk_entries(
                    spark,
                    info,
                    all_entries,
                    src,
                    fmt,
                    dv_ranges=dv_s,
                    table_path=paimon_table_path,
                )
            else:
                visible = read_paimon_append_entries(
                    spark,
                    info,
                    all_entries,
                    src,
                    fmt,
                    dv_ranges=dv_s,
                    table_path=paimon_table_path,
                )
            wb = table.new_batch_write_builder().overwrite()
            writer, committer = wb.new_write(), wb.new_commit()
            writer.write_dataframe(visible)
            committer.commit(writer.prepare_commit())
            writer.close()
            continue
        delta = plan_paimon_delta(paimon_table_path, sid)
        if not delta:
            continue
        wb = table.new_batch_write_builder()
        writer, committer = wb.new_write(), wb.new_commit()
        if info.primary_keys:
            raw = _load_lake_entries(
                spark, info, delta, src, fmt, table_path=paimon_table_path
            )
            value_cols = [f.name for f in info.spark_schema.fields]
            # original sequence order keeps intra-commit version order
            writer.write_dataframe(
                raw.orderBy(F.col(SEQ_COL).asc()).select(*value_cols, KIND_COL),
                row_kind_col=KIND_COL,
            )
        else:
            writer.write_dataframe(
                read_paimon_append_entries(
                    spark, info, delta, src, fmt, table_path=paimon_table_path
                )
            )
        committer.commit(writer.prepare_commit())
        writer.close()


def import_paimon_table(
    paimon_table_path: str,
    catalog,
    identifier: str,
    snapshot_id: Optional[int] = None,
    preserve_history: bool = False,
) -> "Table":
    """Convert a real Paimon table into this engine's format under
    ``identifier`` and return the new table. Append tables copy data
    files verbatim and commit them with harvested stats (one snapshot,
    original row order per file). Primary-key tables read the
    key-value files distributed (Spark scan over every live file),
    resolve the Paimon merge (max ``_SEQUENCE_NUMBER`` per key, drop
    ``-D``/``-U`` kinds), and write the merged state — identical
    visible rows, history flattened (this engine then owns the
    table's future history).

    ``preserve_history=True`` instead replays each Paimon snapshot as
    one engine commit (APPEND/COMPACT chains; deltas in original
    sequence order, PK RowKinds kept), so time travel on the imported
    table reaches pre-import states. Deletion-vector snapshots replay
    too (r7): a DV index rewrites visibility retroactively, so an
    index-changing snapshot materializes as a whole-table overwrite of
    its exact visible rows — append lakes replay the visible file
    rows, PK lakes the merged LSM state with the marks applied —
    and unchanged-index snapshots stay cheap delta appends."""
    import shutil

    from paimon_python_spark.schema import Schema
    from paimon_python_spark.session import get_spark
    from paimon_python_spark.write import KIND_COL, SEQ_COL

    info = read_paimon_schema(paimon_table_path)
    entries = plan_paimon_files(paimon_table_path, snapshot_id)
    dv = _relevant_dv(plan_paimon_dv(paimon_table_path, snapshot_id), entries)
    fmt = info.options.get("file.format", "parquet")

    options = {"file.format": fmt}
    if info.primary_keys:
        options["bucket"] = info.options.get("bucket", "1")
    catalog.create_table(
        identifier,
        Schema(
            info.spark_schema,
            partition_keys=info.partition_keys,
            primary_keys=info.primary_keys,
            options=options,
        ),
        False,
    )
    table = catalog.get_table(identifier)
    lake_src = lake_file_src(paimon_table_path, info)

    def src(e: PaimonFileEntry) -> str:
        p = lake_src(e)
        if not os.path.exists(p):
            raise FileNotFoundError(
                f"paimon_import: planned data file not found at {p!r} — the "
                "partition directory naming (partition.default-name, "
                "date/timestamp formatting) may not match this table's "
                "layout; inspect the table's data directories and report "
                "the convention"
            )
        return p

    if preserve_history:
        last = (
            snapshot_id
            if snapshot_id is not None
            else latest_paimon_snapshot_id(paimon_table_path)
        )
        _import_with_history(paimon_table_path, table, info, src, fmt, last)
        return table

    if not info.primary_keys and dv:
        # append table WITH row-level deletes: a verbatim file copy
        # would resurrect DV-marked rows — materialize the filtered
        # rows through the engine write path instead
        spark = get_spark()
        filtered = read_paimon_append_entries(
            spark, info, entries, src, fmt, dv_ranges=dv,
            table_path=paimon_table_path,
        )
        wb = table.new_batch_write_builder()
        writer, committer = wb.new_write(), wb.new_commit()
        writer.write_dataframe(filtered)
        committer.commit(writer.prepare_commit())
        writer.close()
        return table

    if not info.primary_keys:
        # append table: files are plain columnar — adopt them verbatim
        from paimon_python_spark.write import (
            BatchTableCommit,
            CommitMessage,
            DataFileHarvester,
            PART_PREFIX,
        )

        harvester = DataFileHarvester(table)
        files = []
        for e in entries:
            subdir = os.path.join(table.table_path, "data")
            for k in info.partition_keys:
                v = e.partition[k]
                sval = "__HIVE_DEFAULT_PARTITION__" if v is None else str(v)
                subdir = os.path.join(subdir, f"{PART_PREFIX}{k}={sval}")
            os.makedirs(subdir, exist_ok=True)
            dest = os.path.join(subdir, e.file_name)
            shutil.copy2(src(e), dest)
            files.append(harvester.file_meta(dest))
        commit = BatchTableCommit(table, overwrite=False, static_partition=None)
        commit.commit([CommitMessage(files)])
        return table

    # primary-key table: distributed merge of the key-value files
    spark = get_spark()
    if entries:
        merged = merge_paimon_pk_entries(
            spark, info, entries, src, fmt, dv_ranges=dv,
            table_path=paimon_table_path,
        )
        wb = table.new_batch_write_builder()
        writer, committer = wb.new_write(), wb.new_commit()
        writer.write_dataframe(merged)
        committer.commit(writer.prepare_commit())
        writer.close()
        committer.close()
    return table
