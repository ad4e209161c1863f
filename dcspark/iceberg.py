"""Pure-Python Apache Iceberg table format: read AND write, no jars.

The north-star input is "Iceberg tables of audio clip + transcript pairs"
and the results sink is "an Iceberg results table"; the sandbox has no
Iceberg runtime jar, so this module implements the *table format itself*
(the published spec at https://iceberg.apache.org/spec/, format-version 2)
on top of the in-repo Avro OCF codec (`dcspark/avrofile.py`) and Spark's
parquet source:

- **metadata tree**: `metadata/vN.metadata.json` (+ `version-hint.text`),
  snapshot list, schema with field-ids, partition specs with transform
  declarations — all per-spec key names so a real Iceberg reader agrees on
  structure.
- **manifests**: manifest-list and manifest files are real Avro OCF with the
  spec's field names AND field-id annotations (manifest_file fields 500-517,
  manifest_entry/data_file fields 0-134).
- **commits**: every change — a snapshot (append / overwrite / row-level
  delete / upsert / compaction) or a metadata-only edit (schema, spec, sort
  order, refs, expiry) — reads (metadata, version) once, plans from it, and
  links version+1 through one `_commit` via an atomic `os.link`. If a
  concurrent writer took that version the commit raises `CommitConflict`
  instead of erasing it — optimistic concurrency, single metadata pointer,
  exactly the spec's swap semantics.
- **reads**: snapshot time-travel (by id or timestamp), partition pruning
  against the manifest partition values (driver-side, proportional to file
  count, never row count), and **v2 positional deletes** applied as an
  anti-join on Spark's `_metadata.file_path`/`_metadata.row_index` hidden
  columns — the delete file's (file_path, pos) pairs are captured from the
  very same hidden columns, so the join keys agree byte-for-byte.
- **transforms**: identity, bucket[N] (spec murmur3_x86_32, verified
  against the spec's Appendix-B test vectors), truncate[W], year / month /
  day / hour — used both to derive partition values at write time (computed
  as Spark columns, so the partitioned write is fully distributed) and to
  prune files at read time.

Scale shape: data stays in parquet written by a distributed
`df.write.partitionBy(...)`; only *metadata* (file paths, partition values,
counts) flows through the driver — O(#files), the same contract a real
Iceberg catalog client has. Reference parity: the reference CLI reads
iceberg sources via soda/duckdb (`datacontract/engines/soda/connections/
duckdb.py`) and can only do so where an Iceberg runtime exists; here the
format itself is implemented, so `server.type: iceberg` validates real
Iceberg metadata with zero extra dependencies.

- **column stats**: manifests carry the spec's per-file metrics maps
  (value_counts 109, null_value_counts 110, lower_bounds 125, upper_bounds
  128; bounds use Appendix-D single-value binary serialization, string /
  binary bounds truncated to 16 bytes with upper-bound increment). The
  stats are harvested from the parquet footers the distributed write
  already produced — no extra scan — and the read path prunes files whose
  [lower, upper] envelope provably misses a predicate, so a range query
  over 10^12 rows opens only the files that can match.

- **schema evolution** (spec "Schema Evolution"): `update_schema` adds /
  drops / renames columns and promotes types (int->long, float->double,
  decimal widening) as a metadata-only commit. Every manifest embeds the
  table schema current at its write time ("schema" OCF header key, as real
  writers do), so the read path projects each file group to the current
  schema **by field-id** — renames resolve, added columns null-fill,
  promoted columns cast — and never rewrites data.
- **equality deletes** (v2, content=2): `delete_equality(keys_df)` writes
  the key rows as a delete file with `equality_ids`; a data row is removed
  when a delete with a strictly greater data sequence number null-safe
  matches all key columns (the spec's sequence rule), applied as a
  broadcast anti-join. `upsert(df, key_cols)` commits delete + append in
  ONE snapshot at the same sequence number, so the new rows survive their
  own delete — MERGE semantics without rewriting files.

- **sort orders** (spec "Sort Orders"): `create(sort_by=...)` /
  `replace_sort_order` register a table write order; `_write_data_files`
  range-shuffles + sorts on it so each data file covers a narrow
  [lower, upper] stats envelope (manifest pruning skips most files on
  sorted-column predicates), and each data_file records its
  `sort_order_id` (field 140). Sort order evolution is metadata-only;
  old files keep their recorded order.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import struct
import time
import uuid as _uuid
from dataclasses import dataclass
from typing import Any, Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .avrofile import parse_container, read_container_meta, write_container

# ---------------------------------------------------------------------------
# murmur3_x86_32 — the spec's bucket-transform hash (Appendix B)
# ---------------------------------------------------------------------------

_C1 = 0xCC9E2D51
_C2 = 0x1B873593
_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def murmur3_x86_32(data: bytes, seed: int = 0) -> int:
    """32-bit Murmur3 (x86 variant), signed result, seed 0 — exactly the
    hash Iceberg's bucket transform specifies."""
    h = seed & _M32
    n = len(data)
    tail = n - (n % 4)
    for i in range(0, tail, 4):
        k = struct.unpack_from("<I", data, i)[0]
        k = (k * _C1) & _M32
        k = _rotl32(k, 15)
        k = (k * _C2) & _M32
        h ^= k
        h = _rotl32(h, 13)
        h = (h * 5 + 0xE6546B64) & _M32
    k = 0
    rem = n % 4
    if rem == 3:
        k ^= data[tail + 2] << 16
    if rem >= 2:
        k ^= data[tail + 1] << 8
    if rem >= 1:
        k ^= data[tail]
        k = (k * _C1) & _M32
        k = _rotl32(k, 15)
        k = (k * _C2) & _M32
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _bucket_hash_value(v: Any, src_type: T.DataType) -> int:
    """Serialize a value per the spec's single-value hash rules, then hash.

    ints and longs hash identically (8-byte little-endian), strings hash
    their UTF-8 bytes, dates hash days-from-epoch as a long, timestamps hash
    micros-from-epoch as a long.
    """
    import datetime

    if isinstance(src_type, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return murmur3_x86_32(struct.pack("<q", int(v)))
    if isinstance(src_type, T.StringType):
        return murmur3_x86_32(str(v).encode("utf-8"))
    if isinstance(src_type, T.DateType):
        if isinstance(v, datetime.date):
            v = (v - datetime.date(1970, 1, 1)).days
        return murmur3_x86_32(struct.pack("<q", int(v)))
    if isinstance(src_type, (T.TimestampType, getattr(T, "TimestampNTZType", T.TimestampType))):
        if isinstance(v, datetime.datetime):
            # the spec hashes micros from the UTC epoch: anchoring the epoch
            # to the VALUE's tzinfo made the same instant hash to different
            # buckets depending on which zone expressed it (+05:00 vs UTC),
            # silently pruning files that contain matching rows. Naive
            # values are taken as UTC (Spark's TimestampNTZ convention).
            if v.tzinfo is None:
                epoch = datetime.datetime(1970, 1, 1)
            else:
                epoch = datetime.datetime(
                    1970, 1, 1, tzinfo=datetime.timezone.utc)
            v = int((v - epoch).total_seconds() * 1_000_000)
        return murmur3_x86_32(struct.pack("<q", int(v)))
    if isinstance(src_type, T.BinaryType):
        return murmur3_x86_32(bytes(v))
    raise ValueError(f"bucket transform unsupported on {src_type}")


# ---------------------------------------------------------------------------
# Transforms
# ---------------------------------------------------------------------------

_EPOCH = "1970-01-01"


def _partition_values_equal(stored: Any, expect: Any) -> bool:
    """Pruning equality between a manifest's stored partition value and the
    transform of the caller's literal. A prune test must be CONSERVATIVE:
    representation mismatches keep the file. Plain == first (covers same-type
    and Python's int/float cross-type equality, so a stored 1.0 matches a
    filter literal 1 — str comparison wrongly pruned that); then a numeric
    coercion for numeric-string vs number pairs from hive-style dirs; only
    then the loose string compare."""
    if stored == expect:
        return True
    try:
        return float(stored) == float(expect)
    except (TypeError, ValueError):
        pass
    return str(stored) == str(expect)


@dataclass(frozen=True)
class Transform:
    """A parsed partition transform: name + optional parameter."""

    kind: str  # identity | bucket | truncate | year | month | day | hour
    param: Optional[int] = None

    @staticmethod
    def parse(s: str) -> "Transform":
        s = s.strip().lower()
        if s in ("identity", "year", "month", "day", "hour", "void"):
            return Transform(s)
        for k in ("bucket", "truncate"):
            if s.startswith(k + "[") and s.endswith("]"):
                return Transform(k, int(s[len(k) + 1:-1]))
        raise ValueError(f"unknown partition transform: {s!r}")

    def __str__(self) -> str:
        return self.kind if self.param is None else f"{self.kind}[{self.param}]"

    def spark_col(self, col: str, src_type: T.DataType):
        """The transform as a Spark column — the partitioned write derives
        partition values executor-side, fully distributed."""
        c = F.col(col)
        if self.kind == "identity":
            return c
        if self.kind == "void":
            return F.lit(None).cast("int")
        if self.kind == "year":
            return (F.year(c) - F.lit(1970)).cast("int")
        if self.kind == "month":
            return ((F.year(c) - F.lit(1970)) * 12 + F.month(c) - F.lit(1)).cast("int")
        if self.kind == "day":
            return F.datediff(F.to_date(c), F.to_date(F.lit(_EPOCH))).cast("int")
        if self.kind == "hour":
            return F.floor(F.unix_timestamp(c) / 3600).cast("int")
        if self.kind == "truncate":
            w = self.param
            if isinstance(src_type, T.StringType):
                return F.substring(c, 1, w)
            # v - (((v % W) + W) % W): floors toward -inf for negatives
            return (c - (((c % w) + w) % w)).cast(src_type.simpleString())
        if self.kind == "bucket":
            n = self.param
            # murmur3 isn't a JVM builtin with Iceberg's serialization; a
            # vectorized pandas UDF keeps the derivation Arrow-batched
            import pandas as pd

            def _bucket(s):
                out = []
                for v in s:
                    if v is None or (isinstance(v, float) and v != v):
                        out.append(None)
                    else:
                        out.append((_bucket_hash_value(v, src_type) & 0x7FFFFFFF) % n)
                return pd.Series(out, dtype="Int32")

            return F.pandas_udf(_bucket, "int")(c)
        raise ValueError(self.kind)

    def apply_py(self, v: Any, src_type: T.DataType) -> Any:
        """Driver-side transform of a literal — used to prune files by
        comparing transform(filter value) against stored partition values."""
        import datetime

        if v is None:
            return None
        if self.kind == "identity":
            if isinstance(src_type, T.DateType):
                # stored identity-date partition values are epoch-day
                # ordinals (spec single-value representation); a date (or
                # ISO string) filter literal must compare in that space
                if isinstance(v, str):
                    v = datetime.date.fromisoformat(v)
                if isinstance(v, datetime.datetime):
                    v = v.date()
                if isinstance(v, datetime.date):
                    return (v - datetime.date(1970, 1, 1)).days
            return v
        if self.kind == "void":
            return None
        if self.kind == "bucket":
            return (_bucket_hash_value(v, src_type) & 0x7FFFFFFF) % self.param
        if self.kind == "truncate":
            if isinstance(src_type, T.StringType):
                return str(v)[: self.param]
            w = self.param
            return int(v) - (((int(v) % w) + w) % w)
        if isinstance(v, str):
            try:
                v = datetime.datetime.fromisoformat(v)
            except ValueError:
                v = datetime.datetime.strptime(v, "%Y-%m-%d")
        if isinstance(v, datetime.datetime):
            d, dt = v.date(), v
        elif isinstance(v, datetime.date):
            d, dt = v, datetime.datetime(v.year, v.month, v.day)
        else:
            raise ValueError(f"{self.kind} transform needs a date/timestamp literal")
        if self.kind == "year":
            return d.year - 1970
        if self.kind == "month":
            return (d.year - 1970) * 12 + d.month - 1
        if self.kind == "day":
            return (d - datetime.date(1970, 1, 1)).days
        if self.kind == "hour":
            epoch = datetime.datetime(1970, 1, 1, tzinfo=dt.tzinfo)
            return int((dt - epoch).total_seconds() // 3600)
        raise ValueError(self.kind)

    def result_spark_type(self, src_type: T.DataType) -> T.DataType:
        if self.kind == "identity":
            return src_type
        if self.kind == "truncate":
            return src_type if isinstance(src_type, T.StringType) else T.LongType()
        return T.IntegerType()


# ---------------------------------------------------------------------------
# Spark <-> Iceberg schema JSON (field-id assignment)
# ---------------------------------------------------------------------------

_PRIM = {
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.ShortType: "int",
    T.ByteType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.DateType: "date",
    T.StringType: "string",
    T.BinaryType: "binary",
}


def spark_to_iceberg_schema(schema: T.StructType) -> Tuple[dict, int]:
    """StructType -> Iceberg schema JSON with DFS-assigned field-ids.
    Returns (schema_json, last_column_id)."""
    counter = [0]

    def nid() -> int:
        counter[0] += 1
        return counter[0]

    def conv(dt: T.DataType) -> Any:
        for cls, name in _PRIM.items():
            if isinstance(dt, cls):
                return name
        if isinstance(dt, T.DecimalType):
            return f"decimal({dt.precision}, {dt.scale})"
        if isinstance(dt, T.TimestampType):
            return "timestamptz"
        if hasattr(T, "TimestampNTZType") and isinstance(dt, T.TimestampNTZType):
            return "timestamp"
        if isinstance(dt, T.StructType):
            fields = []
            for f in dt.fields:
                fid = nid()
                fields.append({
                    "id": fid,
                    "name": f.name,
                    "required": not f.nullable,
                    "type": conv(f.dataType),
                })
            return {"type": "struct", "fields": fields}
        if isinstance(dt, T.ArrayType):
            eid = nid()
            return {
                "type": "list",
                "element-id": eid,
                "element": conv(dt.elementType),
                "element-required": not dt.containsNull,
            }
        if isinstance(dt, T.MapType):
            kid, vid = nid(), nid()
            return {
                "type": "map",
                "key-id": kid,
                "key": conv(dt.keyType),
                "value-id": vid,
                "value": conv(dt.valueType),
                "value-required": not dt.valueContainsNull,
            }
        raise ValueError(f"unsupported Spark type for Iceberg schema: {dt}")

    # top-level struct: ids for the direct fields first (spec convention is
    # simply unique ids; DFS keeps them stable and readable)
    fields = []
    for f in schema.fields:
        fid = nid()
        fields.append({
            "id": fid,
            "name": f.name,
            "required": not f.nullable,
            "type": conv(f.dataType),
        })
    return {"type": "struct", "schema-id": 0, "fields": fields}, counter[0]


def iceberg_to_spark_schema(ice: dict) -> T.StructType:
    def conv(t: Any) -> T.DataType:
        if isinstance(t, str):
            if t.startswith("decimal("):
                p, s = t[8:-1].split(",")
                return T.DecimalType(int(p), int(s.strip()))
            if t.startswith("fixed"):
                return T.BinaryType()
            spark = {
                "boolean": T.BooleanType(), "int": T.IntegerType(),
                "long": T.LongType(), "float": T.FloatType(),
                "double": T.DoubleType(), "date": T.DateType(),
                "string": T.StringType(), "binary": T.BinaryType(),
                "uuid": T.StringType(),
                "timestamp": getattr(T, "TimestampNTZType", T.TimestampType)(),
                "timestamptz": T.TimestampType(),
                "time": T.LongType(),
            }.get(t)
            if spark is None:
                raise ValueError(f"unknown iceberg type {t!r}")
            return spark
        if t["type"] == "struct":
            return T.StructType([
                T.StructField(f["name"], conv(f["type"]), not f.get("required", False))
                for f in t["fields"]
            ])
        if t["type"] == "list":
            return T.ArrayType(conv(t["element"]), not t.get("element-required", False))
        if t["type"] == "map":
            return T.MapType(conv(t["key"]), conv(t["value"]),
                             not t.get("value-required", False))
        raise ValueError(f"unknown iceberg type {t!r}")

    return conv({"type": "struct", "fields": ice["fields"]})


# ---------------------------------------------------------------------------
# Manifest Avro schemas (spec field names + field-ids)
# ---------------------------------------------------------------------------

_FIELD_SUMMARY = {
    "type": "record", "name": "r508",
    "fields": [
        {"name": "contains_null", "type": "boolean", "field-id": 509},
        {"name": "contains_nan", "type": ["null", "boolean"], "default": None, "field-id": 518},
        {"name": "lower_bound", "type": ["null", "bytes"], "default": None, "field-id": 510},
        {"name": "upper_bound", "type": ["null", "bytes"], "default": None, "field-id": 511},
    ],
}

MANIFEST_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {"name": "partitions",
         "type": ["null", {"type": "array", "items": _FIELD_SUMMARY}],
         "default": None, "field-id": 507},
    ],
}

_AVRO_PART_TYPES = {
    "string": "string", "int": "int", "long": "long", "date": "int",
    "boolean": "boolean", "double": "double", "float": "float",
}


# ---------------------------------------------------------------------------
# column stats — Appendix D single-value serialization + bound truncation
# ---------------------------------------------------------------------------

#: string/binary bounds stored in manifests are truncated to this many
#: bytes/chars (real writers default to 16: long text or audio payloads must
#: never bloat metadata — manifests stay O(#files · #columns · 16B)).
BOUND_TRUNCATION = 16

_EPOCH_DATE = None  # lazy date(1970, 1, 1)


def _field_spark_type(f: dict) -> T.DataType:
    """Spark type of a single Iceberg schema field dict."""
    return iceberg_to_spark_schema({"fields": [f]}).fields[0].dataType


def _promotion_ok(old: Any, new: Any) -> bool:
    """Spec-legal type promotions: int->long, float->double, and
    decimal(P,S) -> decimal(P'>=P,S)."""
    if (old, new) in (("int", "long"), ("float", "double")):
        return True
    if (isinstance(old, str) and old.startswith("decimal(")
            and isinstance(new, str) and new.startswith("decimal(")):
        p1, s1 = (x.strip() for x in old[8:-1].split(","))
        p2, s2 = (x.strip() for x in new[8:-1].split(","))
        return s1 == s2 and int(p2) >= int(p1)
    return False


def _offset_field_ids(f: dict, off: int) -> dict:
    """Shift every field-id in a converted subtree by `off` so columns added
    by evolution get ids above the table's last-column-id."""
    def walk(t: Any) -> Any:
        if isinstance(t, dict):
            t = dict(t)
            for k in ("id", "element-id", "key-id", "value-id"):
                if isinstance(t.get(k), int):
                    t[k] += off
            if "fields" in t:
                t["fields"] = [walk(x) for x in t["fields"]]
            for k in ("type", "element", "key", "value"):
                if isinstance(t.get(k), dict):
                    t[k] = walk(t[k])
            return t
        return t
    return walk(f)


def _norm_stat_value(v: Any, ice_type: str) -> Any:
    """Normalize a python value (parquet-footer stat or user literal) to the
    comparison domain of its Iceberg type: int for int/long/date/timestamps
    (days / microseconds), float, str, bytes, bool."""
    global _EPOCH_DATE
    import datetime as _dt

    if v is None:
        return None
    if ice_type in ("int", "long"):
        return int(v)
    if ice_type in ("float", "double"):
        return float(v)
    if ice_type == "boolean":
        return bool(v)
    if ice_type == "date":
        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            if _EPOCH_DATE is None:
                _EPOCH_DATE = _dt.date(1970, 1, 1)
            return (v - _EPOCH_DATE).days
        return int(v)
    if ice_type in ("timestamp", "timestamptz"):
        if isinstance(v, _dt.datetime):
            if v.tzinfo is None:
                v = v.replace(tzinfo=_dt.timezone.utc)
            return int(v.timestamp() * 1_000_000)
        return int(v)
    if ice_type == "string":
        if isinstance(v, bytes):
            return v.decode("utf-8", errors="replace")
        return str(v)
    if ice_type == "binary":
        return bytes(v)
    return None  # decimal/nested: no stats


def serialize_bound(v: Any, ice_type: str) -> Optional[bytes]:
    """Iceberg Appendix-D single-value binary serialization (the byte layout
    a real reader expects in lower_bounds/upper_bounds)."""
    v = _norm_stat_value(v, ice_type)
    if v is None:
        return None
    if ice_type == "boolean":
        return b"\x01" if v else b"\x00"
    if ice_type in ("int", "date"):
        return struct.pack("<i", v)
    if ice_type in ("long", "timestamp", "timestamptz"):
        return struct.pack("<q", v)
    if ice_type == "float":
        return struct.pack("<f", v)
    if ice_type == "double":
        return struct.pack("<d", v)
    if ice_type == "string":
        return v.encode("utf-8")
    if ice_type == "binary":
        return bytes(v)
    return None


def deserialize_bound(b: Optional[bytes], ice_type: str) -> Any:
    if b is None:
        return None
    b = bytes(b)
    if ice_type == "boolean":
        return b != b"\x00"
    if ice_type in ("int", "date"):
        return struct.unpack("<i", b)[0]
    if ice_type in ("long", "timestamp", "timestamptz"):
        # files written before an int->long promotion carry 4-byte bounds
        return struct.unpack("<q" if len(b) == 8 else "<i", b)[0]
    if ice_type == "float":
        return struct.unpack("<f", b)[0]
    if ice_type == "double":
        # files written before a float->double promotion carry 4-byte bounds
        return struct.unpack("<d" if len(b) == 8 else "<f", b)[0]
    if ice_type == "string":
        return b.decode("utf-8", errors="replace")
    if ice_type == "binary":
        return b
    return None


def truncate_lower(v: Any, ice_type: str) -> Any:
    """A value <= v, shortened for storage (strings/binary only).
    Truncation only ever *decreases* a string, so the stored lower bound
    stays a valid lower bound."""
    if ice_type == "string" and isinstance(v, str) and len(v) > BOUND_TRUNCATION:
        return v[:BOUND_TRUNCATION]
    if ice_type == "binary" and isinstance(v, (bytes, bytearray)) \
            and len(v) > BOUND_TRUNCATION:
        return bytes(v[:BOUND_TRUNCATION])
    return v


def truncate_upper(v: Any, ice_type: str) -> Any:
    """A value >= v, shortened for storage. A truncated prefix is SMALLER
    than the original, so the last unit is incremented (spec rule); if every
    unit is already maximal the bound is unrepresentable -> None (omitted,
    reader treats the side as unbounded). Returns v unchanged when short."""
    if ice_type == "string" and isinstance(v, str) and len(v) > BOUND_TRUNCATION:
        pfx = v[:BOUND_TRUNCATION]
        for i in range(len(pfx) - 1, -1, -1):
            cp = ord(pfx[i])
            if cp == 0xD7FF:
                # successor would be a lone UTF-16 surrogate (D800-DFFF):
                # unencodable in UTF-8 (serialize_bound would raise and
                # abort the commit mid-append). Skip past the surrogate
                # block — U+E000 > U+D7FF keeps the upper-bound invariant.
                return pfx[:i] + "\ue000"
            if cp < 0x10FFFF:
                return pfx[:i] + chr(cp + 1)
        return None
    if ice_type == "binary" and isinstance(v, (bytes, bytearray)) \
            and len(v) > BOUND_TRUNCATION:
        pfx = bytearray(v[:BOUND_TRUNCATION])
        for i in range(len(pfx) - 1, -1, -1):
            if pfx[i] < 0xFF:
                pfx[i] += 1
                return bytes(pfx[: i + 1])
        return None
    return v


def _collect_file_stats(
    pq_path: str, fid_types: Dict[str, Tuple[int, str]], meta=None
) -> Dict[str, list]:
    """Per-column metrics for one landed parquet file, straight from the
    footer the distributed write already produced (zero extra data scan,
    driver work is O(#row-groups · #columns)). Returns the four data_file
    stats entries as Avro array-of-kv rows, keyed by Iceberg field-id.
    ``meta`` lets the caller pass an already-parsed footer (the commit path
    reads each footer exactly once across the zero-row check, record_count,
    and stats)."""
    import pyarrow.parquet as pq

    if meta is None:
        meta = pq.ParquetFile(pq_path).metadata
    value_counts: Dict[int, int] = {}
    null_counts: Dict[int, int] = {}
    mins: Dict[int, Any] = {}
    maxs: Dict[int, Any] = {}
    bounds_ok: Dict[int, bool] = {}
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if "." in name or name not in fid_types:
                continue  # stats cover top-level primitives only
            fid, ice_t = fid_types[name]
            value_counts[fid] = value_counts.get(fid, 0) + group.num_rows
            st = col.statistics
            if st is None:
                bounds_ok[fid] = False
                continue
            if st.null_count is not None:
                null_counts[fid] = null_counts.get(fid, 0) + st.null_count
            if not st.has_min_max:
                # a row group without min/max poisons the file's bounds —
                # a partial envelope would wrongly prune
                bounds_ok[fid] = False
                continue
            lo = _norm_stat_value(st.min, ice_t)
            hi = _norm_stat_value(st.max, ice_t)
            if lo is None or hi is None:
                bounds_ok[fid] = False
                continue
            bounds_ok.setdefault(fid, True)
            if fid not in mins or lo < mins[fid]:
                mins[fid] = lo
            if fid not in maxs or hi > maxs[fid]:
                maxs[fid] = hi
    lowers: Dict[int, bytes] = {}
    uppers: Dict[int, bytes] = {}
    type_of = {fid: t for _n, (fid, t) in fid_types.items()}
    for fid, lo in mins.items():
        if not bounds_ok.get(fid):
            continue
        b = serialize_bound(truncate_lower(lo, type_of[fid]), type_of[fid])
        if b is not None:
            lowers[fid] = b
    for fid, hi in maxs.items():
        if not bounds_ok.get(fid):
            continue
        t = type_of[fid]
        hi2 = truncate_upper(hi, t)
        if hi2 is None:
            continue
        b = serialize_bound(hi2, t)
        if b is not None:
            uppers[fid] = b

    def kv(d: Dict[int, Any]) -> list:
        return [{"key": k, "value": d[k]} for k in sorted(d)]

    return {
        "value_counts": kv(value_counts),
        "null_value_counts": kv(null_counts),
        "lower_bounds": kv(lowers),
        "upper_bounds": kv(uppers),
    }


_PRUNE_OPS = ("=", "==", "<", "<=", ">", ">=", "in", "is_null", "is_not_null")


def _stats_map(dfile: dict, key: str) -> Dict[int, Any]:
    return {e["key"]: e["value"] for e in (dfile.get(key) or [])}


def file_may_match(
    dfile: dict,
    predicates: Sequence[Tuple[str, str, Any]],
    fid_types: Dict[str, Tuple[int, str]],
) -> bool:
    """Conservative file-skip test against manifest column stats: False only
    when a predicate PROVABLY matches no row of the file (bounds disjoint,
    or the column is all-null for a value predicate). Missing stats — old
    manifests, unsupported types — always keep the file, so pruning is an
    optimization, never a semantics change."""
    if not predicates:
        return True
    lowers = _stats_map(dfile, "lower_bounds")
    uppers = _stats_map(dfile, "upper_bounds")
    nulls = _stats_map(dfile, "null_value_counts")
    counts = _stats_map(dfile, "value_counts")
    for col, op, lit in predicates:
        if op not in _PRUNE_OPS:
            raise ValueError(f"unsupported prune op: {op!r}")
        if col not in fid_types:
            continue
        fid, ice_t = fid_types[col]
        n_null = nulls.get(fid)
        n_val = counts.get(fid, dfile.get("record_count"))
        if op == "is_null":
            if n_null == 0:
                return False
            continue
        if op == "is_not_null":
            if n_null is not None and n_val is not None and n_null >= n_val:
                return False
            continue
        # value predicates never match NULL: an all-null file can't match
        if n_null is not None and n_val is not None and n_null >= n_val:
            return False
        lo = deserialize_bound(lowers.get(fid), ice_t)
        hi = deserialize_bound(uppers.get(fid), ice_t)
        if op == "in":
            vals = [_norm_stat_value(x, ice_t) for x in lit]
            if vals and not any(
                (lo is None or lo <= x) and (hi is None or x <= hi)
                for x in vals if x is not None
            ):
                return False
            continue
        v = _norm_stat_value(lit, ice_t)
        if v is None:
            continue
        if op in ("=", "=="):
            if (lo is not None and lo > v) or (hi is not None and hi < v):
                return False
        elif op == "<":
            if lo is not None and lo >= v:
                return False
        elif op == "<=":
            if lo is not None and lo > v:
                return False
        elif op == ">":
            if hi is not None and hi <= v:
                return False
        elif op == ">=":
            if hi is not None and hi < v:
                return False
    return True


def parse_where(s: str) -> List[Tuple[str, str, Any]]:
    """A tiny conjunction parser for the CLI surface: ``"k >= 7000 AND
    clip_id < 'clip_01' AND score IS NOT NULL AND dur_ms IN (40, 50)"``
    -> prune triples. Literals: quoted -> string, else int/float."""
    import re

    def lit(tok: str) -> Any:
        tok = tok.strip()
        if len(tok) >= 2 and tok[0] == tok[-1] and tok[0] in "'\"":
            return tok[1:-1]
        try:
            return int(tok)
        except ValueError:
            return float(tok)

    out: List[Tuple[str, str, Any]] = []
    for clause in re.split(r"(?i)\s+and\s+", s.strip()):
        m = re.match(r"^(\w+)\s+is\s+not\s+null$", clause, re.I)
        if m:
            out.append((m.group(1), "is_not_null", None))
            continue
        m = re.match(r"^(\w+)\s+is\s+null$", clause, re.I)
        if m:
            out.append((m.group(1), "is_null", None))
            continue
        m = re.match(r"^(\w+)\s+in\s*\((.*)\)$", clause, re.I)
        if m:
            out.append((m.group(1), "in",
                        [lit(x) for x in m.group(2).split(",")]))
            continue
        m = re.match(r"^(\w+)\s*(>=|<=|==|=|>|<)\s*(.+)$", clause)
        if not m:
            raise ValueError(f"cannot parse where clause: {clause!r}")
        out.append((m.group(1), m.group(2), lit(m.group(3))))
    return out


def _predicates_to_column(
    predicates: Sequence[Tuple[str, str, Any]]
):
    """The same triples as one Spark Column — applied as a residual filter
    after pruning, so results are exact whether or not any file was
    skippable."""
    out = None
    for col, op, lit in predicates:
        c = F.col(col)
        if op in ("=", "=="):
            e = c == F.lit(lit)
        elif op == "<":
            e = c < F.lit(lit)
        elif op == "<=":
            e = c <= F.lit(lit)
        elif op == ">":
            e = c > F.lit(lit)
        elif op == ">=":
            e = c >= F.lit(lit)
        elif op == "in":
            e = c.isin(list(lit))
        elif op == "is_null":
            e = c.isNull()
        elif op == "is_not_null":
            e = c.isNotNull()
        else:
            raise ValueError(f"unsupported prune op: {op!r}")
        out = e if out is None else (out & e)
    return out


def _partition_avro_fields(part_types: Sequence[Tuple[str, str]]) -> List[dict]:
    """[(name, iceberg_type_str)] -> Avro record fields (r102), all optional."""
    out = []
    for i, (name, t) in enumerate(part_types):
        out.append({
            "name": name,
            "type": ["null", _AVRO_PART_TYPES.get(t, "string")],
            "default": None,
            "field-id": 1000 + i,
        })
    return out


def _stats_map_field(name: str, fid: int, key_id: int, val_id: int,
                     val_type: str) -> dict:
    """Spec encoding for the int-keyed metrics maps: Avro can't key a map by
    int, so they ship as an array of key/value records with field-ids
    (logicalType map), exactly as Java writers emit them."""
    rec = f"k{key_id}_v{val_id}"
    return {
        "name": name,
        "type": ["null", {
            "type": "array", "logicalType": "map",
            "items": {"type": "record", "name": rec, "fields": [
                {"name": "key", "type": "int", "field-id": key_id},
                {"name": "value", "type": val_type, "field-id": val_id},
            ]},
        }],
        "default": None,
        "field-id": fid,
    }


def _normalize_sort_fields(sort_by: Sequence, by_name: Dict[str, dict]) -> List[dict]:
    """User sort_by spec -> spec-shaped sort-order field dicts.

    Accepts "col", ("col", "asc"|"desc"), or ("col", dir, "nulls-first"|
    "nulls-last"). Identity transform only (the useful case for write
    clustering); null-order defaults follow the spec: asc -> nulls-first,
    desc -> nulls-last."""
    fields: List[dict] = []
    for item in sort_by:
        if isinstance(item, str):
            col, direction, null_order = item, "asc", None
        else:
            col = item[0]
            direction = item[1] if len(item) > 1 else "asc"
            null_order = item[2] if len(item) > 2 else None
        if direction not in ("asc", "desc"):
            raise ValueError(f"sort direction {direction!r} (want asc|desc)")
        if null_order is None:
            null_order = "nulls-first" if direction == "asc" else "nulls-last"
        if null_order not in ("nulls-first", "nulls-last"):
            raise ValueError(f"null order {null_order!r}")
        f = by_name.get(col)
        if f is None:
            raise ValueError(f"sort column {col!r} not in schema")
        fields.append({"transform": "identity", "source-id": f["id"],
                       "direction": direction, "null-order": null_order})
    return fields


def _zorder_double_expr(c: str, dt: T.DataType):
    """An order-preserving double embedding of a cluster column.

    Strings embed as the first 7 UTF-8 bytes read big-endian (hex is
    right-zero-padded so shorter strings stay left-aligned — lexical order
    is preserved up to the 7-byte prefix, which is what file-level
    clustering needs). Dates count days since epoch; timestamps cast to
    epoch seconds; numerics cast directly."""
    if isinstance(dt, T.StringType):
        return F.conv(
            F.rpad(F.hex(F.substring(F.encode(F.col(c), "UTF-8"), 1, 7)),
                   14, "0"), 16, 10).cast("double")
    if isinstance(dt, T.DateType):
        return F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
    if isinstance(dt, T.BooleanType):
        return F.col(c).cast("int").cast("double")
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.NumericType)):
        return F.col(c).cast("double")
    raise ValueError(
        f"z-order: unsupported type {dt.simpleString()} for column {c!r}")


def zorder_value(df: DataFrame, cols: Sequence[str], bits: int = 8,
                 rel_err: float = 0.001,
                 out_col: str = "__ice_zval") -> DataFrame:
    """Append a Z-order (Morton) key interleaving rank-bucketed columns.

    Each cluster column is embedded as a double (`_zorder_double_expr`),
    rank-normalized into ``2**bits`` quantile buckets (boundaries from ONE
    column-pruned `approxQuantile` pass, so skewed distributions still fill
    the bucket range evenly), and the bucket ids' bit-planes are interleaved
    into one long. Sorting files by this key gives every file a compact
    hyper-rectangle in cluster-column space, so the manifest [lower, upper]
    stats envelopes prune on EVERY cluster column, not just a leading sort
    key — the multi-dimensional analogue of a table write order, and the
    shape Delta's OPTIMIZE ZORDER / Iceberg's rewrite with zorder strategy
    produce. Bucketing + interleave are single JVM-parsed expressions
    (aggregate-fold over boundary literals; no UDF, no driver loop per row).

    NULLs land in bucket 0 (sort lowest). ``bits * len(cols)`` must fit a
    signed long."""
    if not cols:
        raise ValueError("z-order: need at least one cluster column")
    if bits < 1 or bits * len(cols) > 62:
        raise ValueError(
            f"z-order: bits={bits} x {len(cols)} columns exceeds 62 bits")
    by_name = {f.name: f.dataType for f in df.schema.fields}
    missing = [c for c in cols if c not in by_name]
    if missing:
        raise ValueError(f"z-order: columns {missing} not in schema")
    dbl = [_zorder_double_expr(c, by_name[c]) for c in cols]
    tmp = [f"__ice_zd{i}" for i in range(len(cols))]
    nb = 1 << bits
    probs = [i / nb for i in range(1, nb)]
    bounds = (df.select(*[e.alias(n) for e, n in zip(dbl, tmp)])
              .stat.approxQuantile(tmp, probs, rel_err))
    out = df
    for n, e in zip(tmp, dbl):
        out = out.withColumn(n, e)
    bucket_cols = []
    for i, (n, bs) in enumerate(zip(tmp, bounds)):
        bn = f"__ice_zb{i}"
        uniq = sorted({float(b) for b in bs if b is not None})
        if not uniq:  # all-null / constant column: one bucket
            out = out.withColumn(bn, F.lit(0).cast("bigint"))
        else:
            arr = ",".join(f"cast({b!r} as double)" for b in uniq)
            out = out.withColumn(bn, F.expr(
                f"aggregate(array({arr}), 0L,"
                f" (acc, b) -> acc + IF({n} > b, 1L, 0L))"))
        bucket_cols.append(bn)
    ncols = len(cols)
    terms = [f"shiftleft(shiftright({bn}, {j}) & 1, {j * ncols + i})"
             for i, bn in enumerate(bucket_cols) for j in range(bits)]
    out = out.withColumn(out_col, F.expr(" + ".join(terms)))
    return out.drop(*tmp, *bucket_cols)


def manifest_entry_schema(part_types: Sequence[Tuple[str, str]]) -> dict:
    data_file = {
        "type": "record", "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition",
             "type": {"type": "record", "name": "r102",
                      "fields": _partition_avro_fields(part_types)},
             "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            _stats_map_field("value_counts", 109, 117, 118, "long"),
            _stats_map_field("null_value_counts", 110, 121, 122, "long"),
            _stats_map_field("lower_bounds", 125, 126, 127, "bytes"),
            _stats_map_field("upper_bounds", 128, 129, 130, "bytes"),
            {"name": "equality_ids",
             "type": ["null", {"type": "array", "items": "int"}],
             "default": None, "field-id": 135},
            {"name": "sort_order_id", "type": ["null", "int"],
             "default": None, "field-id": 140},
        ],
    }
    return {
        "type": "record", "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None, "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"], "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"], "default": None,
             "field-id": 4},
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


# ---------------------------------------------------------------------------
# The table
# ---------------------------------------------------------------------------


class CommitConflict(RuntimeError):
    """Another writer committed the metadata version we raced for."""


def _now_ms() -> int:
    return int(time.time() * 1000)


def _added(files: Sequence[dict]) -> List[dict]:
    """Manifest entries that add ``files`` in the committing snapshot."""
    return [{"status": 1, "data_file": f} for f in files]


#: partition field name suffix per transform (spec naming convention)
_PART_SUFFIX = {"identity": "", "bucket": "_bucket", "truncate": "_trunc",
                "year": "_year", "month": "_month", "day": "_day",
                "hour": "_hour", "void": "_null"}


class IcebergTable:
    """A filesystem Iceberg v2 table. `location` is the table root."""

    def __init__(self, location: str):
        self.location = os.path.abspath(location)
        self.meta_dir = os.path.join(self.location, "metadata")
        self.data_dir = os.path.join(self.location, "data")

    # -- metadata plumbing --------------------------------------------------

    def _version(self) -> int:
        hint = os.path.join(self.meta_dir, "version-hint.text")
        if os.path.exists(hint):
            with open(hint) as f:
                v = int(f.read().strip())
            if os.path.exists(self._meta_path(v)):
                return v
        # hint missing/stale: scan (spec allows listing as recovery)
        best = 0
        if os.path.isdir(self.meta_dir):
            for name in os.listdir(self.meta_dir):
                if name.startswith("v") and name.endswith(".metadata.json"):
                    try:
                        best = max(best, int(name[1:].split(".")[0]))
                    except ValueError:
                        pass
        return best

    def _meta_path(self, v: int) -> str:
        return os.path.join(self.meta_dir, f"v{v}.metadata.json")

    def exists(self) -> bool:
        return self._version() > 0

    def _load(self) -> Tuple[dict, int]:
        """(metadata, version): what an operation reads once, plans from,
        and commits against."""
        v = self._version()
        if v == 0:
            raise FileNotFoundError(f"no Iceberg metadata under {self.meta_dir}")
        with open(self._meta_path(v)) as f:
            return json.load(f), v

    def metadata(self) -> dict:
        return self._load()[0]

    def _current_schema(self, md: dict) -> dict:
        sid = md.get("current-schema-id", 0)
        for s in md.get("schemas", []):
            if s.get("schema-id") == sid:
                return s
        raise ValueError("current schema not found in metadata")

    def spark_schema(self) -> T.StructType:
        return iceberg_to_spark_schema(self._current_schema(self.metadata()))

    def snapshots(self) -> List[dict]:
        return list(self.metadata().get("snapshots", []))

    def current_snapshot_id(self) -> Optional[int]:
        return self._head(self.metadata())

    @staticmethod
    def _head(md: dict, branch: str = "main") -> Optional[int]:
        """The snapshot id ``branch`` points at; None on an empty table."""
        if branch != "main":
            r = (md.get("refs") or {}).get(branch)
            return r["snapshot-id"] if r else None
        cur = md.get("current-snapshot-id")
        # the spec writes -1 for "no current snapshot" (fresh table)
        return None if cur is None or cur == -1 else cur

    def _field_id_types(self, md: dict) -> Dict[str, Tuple[int, str]]:
        """Top-level primitive columns of the current schema as
        name -> (field-id, iceberg type string) — the key space of the
        manifest stats maps."""
        sid = md.get("current-schema-id", 0)
        out: Dict[str, Tuple[int, str]] = {}
        for s in md.get("schemas", []):
            if s.get("schema-id") != sid:
                continue
            for f in s.get("fields", []):
                if isinstance(f.get("type"), str):
                    out[f["name"]] = (f["id"], f["type"])
        return out

    def _spec_fields(self, md: dict,
                     spec_id: Optional[int] = None) -> List[dict]:
        if spec_id is None:
            spec_id = md.get("default-spec-id", 0)
        for s in md.get("partition-specs", []):
            if s.get("spec-id") == spec_id:
                return s.get("fields", [])
        return []

    def _source_types(self, md: dict) -> Dict[int, Tuple[str, T.DataType]]:
        """field-id -> (name, spark type) for the current schema's top level."""
        sid = md.get("current-schema-id", 0)
        out: Dict[int, Tuple[str, T.DataType]] = {}
        for s in md.get("schemas", []):
            if s.get("schema-id") == sid:
                for f in s["fields"]:
                    st = iceberg_to_spark_schema({"fields": [f]})
                    out[f["id"]] = (f["name"], st.fields[0].dataType)
        return out

    # -- create -------------------------------------------------------------

    @classmethod
    def create(
        cls,
        location: str,
        schema: T.StructType,
        partition_by: Optional[Sequence[Tuple[str, str]]] = None,
        properties: Optional[Dict[str, str]] = None,
        sort_by: Optional[Sequence] = None,
    ) -> "IcebergTable":
        """Create an empty table. ``partition_by``: [(column, transform)],
        e.g. [("codec", "identity"), ("clip_id", "bucket[16]")].

        ``sort_by``: table write order (spec "Sort Orders") — ["col"],
        [("col", "desc")], or [("col", "asc", "nulls-last")]. Appends
        range-shuffle + sort on these columns before writing, so each data
        file covers a narrow [lower, upper] envelope and manifest-stats
        pruning (``read(where=...)``) skips most files on sorted-column
        predicates."""
        t = cls(location)
        if t.exists():
            raise FileExistsError(f"Iceberg table already exists at {location}")
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        ice_schema, last_col = spark_to_iceberg_schema(schema)
        by_name = {f["name"]: f for f in ice_schema["fields"]}
        spec_fields = []
        for i, (col, tr) in enumerate(partition_by or []):
            if col not in by_name:
                raise ValueError(f"partition column {col!r} not in schema")
            transform = Transform.parse(tr)
            spec_fields.append({
                "source-id": by_name[col]["id"],
                "field-id": 1000 + i,
                "name": col + _PART_SUFFIX[transform.kind],
                "transform": str(transform),
            })
        sort_orders = [{"order-id": 0, "fields": []}]
        default_soid = 0
        if sort_by:
            sort_orders.append({
                "order-id": 1,
                "fields": _normalize_sort_fields(sort_by, by_name)})
            default_soid = 1
        md = {
            "format-version": 2,
            "table-uuid": str(_uuid.uuid4()),
            "location": t.location,
            "last-sequence-number": 0,
            "last-updated-ms": _now_ms(),
            "last-column-id": last_col,
            "current-schema-id": 0,
            "schemas": [ice_schema],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "last-partition-id": 1000 + len(spec_fields) - 1 if spec_fields else 999,
            "default-sort-order-id": default_soid,
            "sort-orders": sort_orders,
            "properties": dict(properties or {}),
            "current-snapshot-id": -1,
            "refs": {},
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        t._commit_metadata(md, expected_version=0)
        return t

    def _commit_metadata(self, md: dict, expected_version: int) -> None:
        """Atomic optimistic commit: hard-link tmp -> vN+1 fails if a racer
        already created vN+1 (POSIX link(2) is atomic + EEXIST)."""
        target = self._meta_path(expected_version + 1)
        tmp = os.path.join(self.meta_dir, f".tmp-{_uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(md, f, indent=1)
        try:
            os.link(tmp, target)
        except FileExistsError:
            raise CommitConflict(
                f"metadata version {expected_version + 1} already committed "
                f"by a concurrent writer") from None
        finally:
            os.unlink(tmp)
        with open(os.path.join(self.meta_dir, "version-hint.text"), "w") as f:
            f.write(str(expected_version + 1))

    # -- write path ---------------------------------------------------------

    def _write_data_files(
        self, df: DataFrame, md: dict, table_order: bool = True
    ) -> List[dict]:
        """Distributed partitioned parquet write -> list of data_file dicts.

        The partition value columns are derived *in Spark* (transforms as
        columns), `partitionBy` routes rows executor-side, and only file
        names + partition values come back to the driver.
        """
        import pyarrow.parquet as pq

        spec_fields = self._spec_fields(md)
        src_types = self._source_types(md)
        fid_types = self._field_id_types(md)
        staging = os.path.join(self.data_dir, f".staging-{_uuid.uuid4().hex}")
        part_cols = []
        out = df
        for pf in spec_fields:
            name, dtype = src_types[pf["source-id"]]
            tr = Transform.parse(pf["transform"])
            pcol = f"__ice_p_{pf['name']}"
            out = out.withColumn(pcol, tr.spark_col(name, dtype))
            part_cols.append(pcol)
        soid, sfields = self._default_sort_fields(md)
        if not table_order:  # caller pre-clustered (e.g. z-order compact)
            sfields = []
        sort_exprs = self._sort_exprs(md, sfields) if sfields else []
        if sort_exprs:
            # table write order: ONE range shuffle clusters the sort key, so
            # each file's manifest [lower, upper] envelope is narrow and
            # read(where=...) prunes most files on sorted-column predicates;
            # partition value leads the within-task sort so the dynamic
            # writer emits one run per partition dir. Explicit N keeps the
            # incoming partition count (= incoming file sizing) and stops
            # AQE from coalescing small appends into one giant file.
            n_out = max(1, out.rdd.getNumPartitions())
            out = out.repartitionByRange(n_out, *sort_exprs) \
                .sortWithinPartitions(
                    *([F.col(p) for p in part_cols] + sort_exprs))
        if part_cols:
            out.write.partitionBy(*part_cols).parquet(staging)
        else:
            out.write.parquet(staging)
        files: List[dict] = []
        commit_id = _uuid.uuid4().hex[:12]
        for root, _dirs, names in os.walk(staging):
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                src = os.path.join(root, name)
                # ONE footer parse per file, reused for the zero-row check,
                # record_count, and the column stats (the rename below does
                # not touch the footer bytes)
                fmeta = pq.ParquetFile(src).metadata
                if fmeta.num_rows == 0:
                    continue  # e.g. compaction where every row was deleted
                rel = os.path.relpath(root, staging)
                # parse __ice_p_<field>=<value> dirs back into partition values
                pvals: Dict[str, Any] = {}
                if rel != ".":
                    from urllib.parse import unquote

                    for seg in rel.split(os.sep):
                        k, _, v = seg.partition("=")
                        k = k[len("__ice_p_"):]
                        if v == "__HIVE_DEFAULT_PARTITION__":
                            pvals[k] = None
                        else:
                            pvals[k] = unquote(v)
                # coerce partition strings back to the transform result type
                part_rec: Dict[str, Any] = {}
                for pf in spec_fields:
                    _sname, sdtype = src_types[pf["source-id"]]
                    tr = Transform.parse(pf["transform"])
                    rt = tr.result_spark_type(sdtype)
                    raw = pvals.get(pf["name"])
                    if raw is None:
                        part_rec[pf["name"]] = None
                    elif isinstance(rt, T.DateType):
                        # Spark writes an identity date partition dir as the
                        # ISO string ('__ice_p_d=2024-01-01'); the spec's
                        # partition value for dates is days since epoch.
                        # Transform outputs (e.g. day[ts] -> DateType) come
                        # through as the integer day ordinal already.
                        try:
                            part_rec[pf["name"]] = int(raw)
                        except ValueError:
                            import datetime as _dtm

                            d = _dtm.date.fromisoformat(raw)
                            part_rec[pf["name"]] = (
                                d - _dtm.date(1970, 1, 1)).days
                    elif isinstance(rt, (T.IntegerType, T.LongType)):
                        part_rec[pf["name"]] = int(raw)
                    elif isinstance(rt, (T.FloatType, T.DoubleType)):
                        part_rec[pf["name"]] = float(raw)
                    else:
                        part_rec[pf["name"]] = raw
                dest_dir = (self.data_dir if rel == "."
                            else os.path.join(self.data_dir, rel))
                os.makedirs(dest_dir, exist_ok=True)
                dest = os.path.join(dest_dir, f"{commit_id}-{name}")
                os.rename(src, dest)
                dfile = {
                    "content": 0,
                    "file_path": "file://" + dest,
                    "file_format": "PARQUET",
                    "partition": part_rec,
                    "record_count": fmeta.num_rows,
                    "file_size_in_bytes": os.path.getsize(dest),
                    "sort_order_id": soid if sort_exprs else 0,
                }
                # column metrics from the footer the write already produced
                dfile.update(_collect_file_stats(dest, fid_types, meta=fmeta))
                files.append(dfile)
        shutil.rmtree(staging, ignore_errors=True)
        # bloom sidecar for the new files (table property `bloom.columns`):
        # one column-pruned scan of just-written files, landed distributed —
        # the point-lookup pruning path (dcspark/bloomfilter.py)
        bcols = self._bloom_cols(md)
        if bcols and files:
            from .bloomfilter import write_blooms
            write_blooms(df.sparkSession, os.path.join(self.meta_dir, "blooms"),
                         commit_id,
                         [self._local(f["file_path"]) for f in files], bcols)
        return files

    def _bloom_cols(self, md: dict) -> List[str]:
        prop = (md.get("properties") or {}).get("bloom.columns", "")
        names = {f["name"] for f in self._current_schema(md)["fields"]}
        return [c.strip() for c in prop.split(",") if c.strip() in names]

    def _part_types(self, md: dict,
                    spec_id: Optional[int] = None) -> List[Tuple[str, str]]:
        spec_fields = self._spec_fields(md, spec_id)
        src_types = self._source_types(md)
        out = []
        for pf in spec_fields:
            if pf["source-id"] not in src_types:
                # source column dropped after this (non-default) spec was
                # retired: keep the partition field name, type degrades to
                # string — records in old manifests remain readable
                out.append((pf["name"], "string"))
                continue
            _n, dtype = src_types[pf["source-id"]]
            tr = Transform.parse(pf["transform"])
            rt = tr.result_spark_type(dtype)
            name = {T.StringType: "string", T.IntegerType: "int",
                    T.LongType: "long", T.DateType: "date"}.get(type(rt), "string")
            out.append((pf["name"], name))
        return out

    def _snapshot(self, md: dict, operation: str,
                  branch: str = "main") -> dict:
        """A new snapshot on ``branch``'s head in ``md``: its id and the
        next sequence number, which its manifests are written with before
        `_commit` completes it."""
        snap = {
            "snapshot-id": int(_uuid.uuid4().int % (1 << 62)) + 1,
            "sequence-number": md.get("last-sequence-number", 0) + 1,
            "schema-id": md.get("current-schema-id", 0),
            "summary": {"operation": operation},
        }
        parent = self._head(md, branch)
        if parent is not None:
            snap["parent-snapshot-id"] = parent
        return snap

    def _write_manifest(self, md: dict, snap: dict, entries: List[dict],
                        content: int, seq: Optional[int] = None,
                        embed_schema: Optional[dict] = None,
                        spec_id: Optional[int] = None) -> dict:
        """entries: list of (status, data_file) dicts -> manifest_file row
        of ``snap``, at its sequence number unless ``seq`` is given.

        ``embed_schema`` overrides the embedded write-time table schema —
        required when REWRITING an old manifest (compaction): its surviving
        entries still point at files written under the OLD schema, and the
        field-id projection at read time keys off this header. ``spec_id``
        likewise pins the manifest's PARTITION spec — surviving entries of
        a pre-evolution manifest carry partition records in the old spec's
        field names, and pruning interprets them by this id."""
        snap_id = snap["snapshot-id"]
        if seq is None:
            seq = snap["sequence-number"]
        if spec_id is None:
            spec_id = md.get("default-spec-id", 0)
        part_types = self._part_types(md, spec_id)
        schema = manifest_entry_schema(part_types)
        name = f"{_uuid.uuid4().hex}-m0.avro"
        path = os.path.join(self.meta_dir, name)
        rows = []
        added_f = existing_f = deleted_f = 0
        added_r = existing_r = deleted_r = 0
        for e in entries:
            status = e["status"]
            dfile = e["data_file"]
            rc = dfile["record_count"]
            if status == 1:
                added_f += 1
                added_r += rc
            elif status == 0:
                existing_f += 1
                existing_r += rc
            else:
                deleted_f += 1
                deleted_r += rc
            rows.append({
                "status": status,
                "snapshot_id": snap_id,
                "sequence_number": e.get("sequence_number", seq),
                "file_sequence_number": e.get("file_sequence_number", seq),
                "data_file": dfile,
            })
        # spec: manifests carry their schema + spec in OCF metadata; the
        # WRITE-TIME schema is what lets readers project old files to the
        # current schema by field-id after evolution
        extra_meta = {
            "schema": json.dumps(embed_schema
                                 or self._current_schema(md)).encode(),
            "partition-spec-id": str(spec_id).encode(),
            "format-version": b"2",
            "content": b"data" if content == 0 else b"deletes",
        }
        blob = write_container(schema, rows, codec="deflate", sync_seed=name,
                               meta=extra_meta)
        with open(path, "wb") as f:
            f.write(blob)
        return {
            "manifest_path": "file://" + path,
            "manifest_length": len(blob),
            "partition_spec_id": spec_id,
            "content": content,
            "sequence_number": seq,
            "min_sequence_number": min((e.get("sequence_number", seq)
                                        for e in entries), default=seq),
            "added_snapshot_id": snap_id,
            "added_files_count": added_f,
            "existing_files_count": existing_f,
            "deleted_files_count": deleted_f,
            "added_rows_count": added_r,
            "existing_rows_count": existing_r,
            "deleted_rows_count": deleted_r,
            "partitions": None,
        }

    def _manifests(self, md: dict, branch: str = "main") -> List[dict]:
        """The manifest rows of ``branch``'s head ([] on an empty table)."""
        head = self._head(md, branch)
        for s in md.get("snapshots", []):
            if s["snapshot-id"] == head:
                return self._read_manifest_list(s["manifest-list"])
        return []

    @staticmethod
    def _local(path: str) -> str:
        return path[7:] if path.startswith("file://") else path

    def _read_manifest_list(self, path: str) -> List[dict]:
        with open(self._local(path), "rb") as f:
            _schema, rows = parse_container(f.read())
        return list(rows)

    def _read_manifest_full(
        self, path: str
    ) -> Tuple[Optional[dict], List[dict]]:
        """-> (embedded write-time table schema or None, entries)."""
        with open(self._local(path), "rb") as f:
            data = f.read()
        emb: Optional[dict] = None
        raw = read_container_meta(data).get("schema")
        if raw:
            try:
                cand = json.loads(raw)
                if isinstance(cand, dict) and cand.get("fields"):
                    emb = cand
            except (ValueError, TypeError):
                emb = None
        _schema, rows = parse_container(data)
        return emb, list(rows)

    def _commit(self, base: dict, version: int, md: Optional[dict] = None,
                snap: Optional[dict] = None, manifests: Sequence[dict] = (),
                branch: str = "main") -> None:
        """The one way a table change becomes metadata version
        ``version + 1``.

        ``base`` is the metadata the operation read at ``version`` and
        ``md`` its edited copy (default: ``base`` unchanged). A snapshot
        operation also passes ``snap`` (from `_snapshot`) with its final
        manifest set: the manifest list is written here, the summary's
        added and total counts filled in, and ``branch`` moved to the new
        snapshot. Every commit stamps ``last-updated-ms`` (and the
        snapshot's timestamp) from one clock reading, logs the base file in
        ``metadata-log``, and appends ``snapshot-log`` when main moves.

        The link is made against ``version``, so a commit that another
        writer made since the read raises `CommitConflict` and nothing is
        lost. The losing snapshot's manifest list and the manifests it
        added are removed before the raise; the data and delete files it
        wrote stay unreferenced for `remove_orphan_files`."""
        ts = _now_ms()
        md = dict(base if md is None else md)
        if snap is not None:
            sid = snap["snapshot-id"]
            ml_path = os.path.join(
                self.meta_dir, f"snap-{sid}-1-{_uuid.uuid4().hex}.avro")
            with open(ml_path, "wb") as f:
                f.write(write_container(MANIFEST_LIST_SCHEMA, list(manifests),
                                        codec="deflate",
                                        sync_seed=os.path.basename(ml_path)))
            data = [m for m in manifests if m["content"] == 0]
            new = [m for m in data if m["added_snapshot_id"] == sid]
            snap["timestamp-ms"] = ts
            snap["manifest-list"] = "file://" + ml_path
            snap["summary"].update({
                "added-data-files": str(
                    sum(m["added_files_count"] for m in new)),
                "added-records": str(sum(m["added_rows_count"] for m in new)),
                "total-data-files": str(
                    sum(m["added_files_count"] + m["existing_files_count"]
                        for m in data)),
                "total-records": str(
                    sum(m["added_rows_count"] + m["existing_rows_count"]
                        for m in data)),
            })
            md["snapshots"] = list(md.get("snapshots", [])) + [snap]
            md["last-sequence-number"] = snap["sequence-number"]
            md["refs"] = {**(md.get("refs") or {}),
                          branch: {"snapshot-id": sid, "type": "branch"}}
        head = (md.get("refs") or {}).get("main", {}).get("snapshot-id")
        if head is not None and head != base.get("current-snapshot-id"):
            md["current-snapshot-id"] = head
            md["snapshot-log"] = list(md.get("snapshot-log", [])) + [
                {"timestamp-ms": ts, "snapshot-id": head}]
        md["last-updated-ms"] = ts
        md["metadata-log"] = list(md.get("metadata-log", [])) + [
            {"timestamp-ms": base.get("last-updated-ms", 0),
             "metadata-file": "file://" + self._meta_path(version)}]
        try:
            self._commit_metadata(md, expected_version=version)
        except CommitConflict:
            if snap is not None:
                for m in manifests:
                    if m["added_snapshot_id"] == sid:
                        os.unlink(self._local(m["manifest_path"]))
                os.unlink(ml_path)
            raise

    def _check_schema(self, md: dict, df: DataFrame) -> None:
        want = iceberg_to_spark_schema(self._current_schema(md))
        got = df.schema
        wantn = [(f.name, f.dataType.simpleString()) for f in want.fields]
        gotn = [(f.name, f.dataType.simpleString()) for f in got.fields]
        if wantn != gotn:
            raise ValueError(
                "append schema mismatch (schema evolution is a documented "
                f"seam): table={wantn} df={gotn}")

    def append(self, df: DataFrame, branch: Optional[str] = None) -> int:
        """Append `df` as a new snapshot; returns the snapshot id.

        ``branch``: commit to a named branch instead of main (create it
        with `create_branch` first) — the write-audit-publish pattern: land
        data on an audit branch, run the contract engine over
        ``read(ref=branch)``, and `fast_forward("main", branch)` only when
        the run is green. Main readers never see unaudited rows."""
        md, v = self._load()
        branch = branch or "main"
        if branch != "main":
            r = md.get("refs", {}).get(branch)
            if r is None or r.get("type") != "branch":
                raise ValueError(
                    f"unknown branch {branch!r} — create_branch first")
        self._check_schema(md, df)
        files = self._write_data_files(df, md)
        snap = self._snapshot(md, "append", branch)
        # carry prior manifests forward untouched (fast append)
        manifests = ([self._write_manifest(md, snap, _added(files), 0)]
                     + self._manifests(md, branch))
        self._commit(md, v, snap=snap, manifests=manifests, branch=branch)
        return snap["snapshot-id"]

    def overwrite(self, df: DataFrame) -> int:
        """Replace the table contents atomically (new snapshot; old snapshots
        stay readable via time-travel)."""
        md, v = self._load()
        self._check_schema(md, df)
        files = self._write_data_files(df, md)
        snap = self._snapshot(md, "overwrite")
        self._commit(md, v, snap=snap, manifests=[
            self._write_manifest(md, snap, _added(files), 0)])
        return snap["snapshot-id"]

    def _commit_deletes(self, md: dict, v: int, files: List[dict],
                        summary_key: str) -> int:
        """Commit delete files as a "delete" snapshot of main."""
        snap = self._snapshot(md, "delete")
        snap["summary"][summary_key] = str(
            sum(f["record_count"] for f in files))
        manifests = self._manifests(md)
        if files:
            manifests = [self._write_manifest(md, snap, _added(files), 1)
                         ] + manifests
        self._commit(md, v, snap=snap, manifests=manifests)
        return snap["snapshot-id"]

    def delete_where(self, spark: SparkSession, condition: str) -> int:
        """Row-level delete via v2 positional delete files.

        Rows matching `condition` are captured as (file_path, pos) pairs from
        Spark's `_metadata` hidden columns and written as a position-delete
        parquet file + delete manifest — the data files are untouched, so
        prior snapshots still time-travel to the undeleted state.
        """
        md, v = self._load()
        data, _pos, _eq = self._plan(md)
        if not data:
            raise ValueError("delete_where on an empty table")
        df = self._scan(spark, data, self._current_schema(md),
                        with_meta=True)
        hits = (df.filter(condition)
                  .select(F.col("__ice_fp").alias("file_path"),
                          F.col("__ice_pos").alias("pos"))
                  .orderBy("file_path", "pos"))
        files = self._write_delete_files(hits.coalesce(1), md, content=1)
        return self._commit_deletes(md, v, files, "deleted-position-records")

    # -- equality deletes + upsert -------------------------------------------

    def _write_delete_files(
        self, rows: DataFrame, md: dict, content: int,
        eq_ids: Sequence[int] = (),
    ) -> List[dict]:
        """Distributed parquet write of delete rows -> data_file dicts:
        position deletes (content=1, ``(file_path, pos)`` rows) or equality
        deletes (content=2, key rows, with the spec's equality_ids field
        135)."""
        import pyarrow.parquet as pq

        staging = os.path.join(self.data_dir, f".staging-{_uuid.uuid4().hex}")
        rows.write.parquet(staging)
        prefix = (f"{_uuid.uuid4().hex[:12]}-"
                  f"{'delete' if content == 1 else 'eqdelete'}-")
        out: List[dict] = []
        for root, _d, names in os.walk(staging):
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                src = os.path.join(root, name)
                n_rows = pq.ParquetFile(src).metadata.num_rows
                if n_rows == 0:
                    continue
                dest = os.path.join(self.data_dir, prefix + name)
                os.rename(src, dest)
                dfile = {
                    "content": content,
                    "file_path": "file://" + dest,
                    "file_format": "PARQUET",
                    "partition": {pn: None
                                  for pn, _t in self._part_types(md)},
                    "record_count": n_rows,
                    "file_size_in_bytes": os.path.getsize(dest),
                }
                if content == 2:
                    dfile["equality_ids"] = list(eq_ids)
                out.append(dfile)
        shutil.rmtree(staging, ignore_errors=True)
        return out

    def _eq_ids_for(self, md: dict, cols: Sequence[str]) -> List[int]:
        fid_types = self._field_id_types(md)
        ids = []
        for c in cols:
            if c not in fid_types:
                raise ValueError(
                    f"equality delete column {c!r} is not a top-level "
                    "primitive column of the current schema")
            ids.append(fid_types[c][0])
        return ids

    def delete_equality(self, keys_df: DataFrame) -> int:
        """Row-level delete by key (v2 equality deletes): every table row
        whose values null-safe match a row of ``keys_df`` (on keys_df's
        columns) disappears from subsequent reads. Data files are untouched,
        prior snapshots still time-travel; the keys flow through a
        distributed write, never the driver. Returns the snapshot id."""
        md, v = self._load()
        eq_ids = self._eq_ids_for(md, keys_df.columns)
        files = self._write_delete_files(keys_df.dropDuplicates(), md, 2,
                                         eq_ids)
        return self._commit_deletes(md, v, files, "deleted-equality-records")

    def upsert(self, df: DataFrame, key_cols: Sequence[str]) -> int:
        """MERGE by key in ONE snapshot: an equality delete on ``key_cols``
        (keys taken from ``df``) plus an append of ``df``, both at the same
        data sequence number. The spec's strict-inequality rule means the
        delete hits only files with a SMALLER sequence number, so the new
        rows survive their own delete — upsert without rewriting a single
        existing file. Returns the snapshot id."""
        md, v = self._load()
        self._check_schema(md, df)
        eq_ids = self._eq_ids_for(md, list(key_cols))
        del_files = self._write_delete_files(
            df.select(*key_cols).dropDuplicates(), md, 2, eq_ids)
        files = self._write_data_files(df, md)
        snap = self._snapshot(md, "overwrite")
        manifests = ([self._write_manifest(md, snap, _added(files), 0)]
                     + self._manifests(md))
        if del_files:
            manifests.insert(
                0, self._write_manifest(md, snap, _added(del_files), 1))
        self._commit(md, v, snap=snap, manifests=manifests)
        return snap["snapshot-id"]

    # -- schema evolution -----------------------------------------------------

    def update_schema(
        self,
        add: Optional[Sequence[Tuple[str, Any]]] = None,
        drop: Optional[Sequence[str]] = None,
        rename: Optional[Dict[str, str]] = None,
        promote: Optional[Dict[str, Any]] = None,
    ) -> int:
        """Schema evolution as a metadata-only commit (spec "Schema
        Evolution"): data files are never rewritten — reads project every
        file to the new schema **by field-id** via the write-time schema
        each manifest embeds.

        - ``add``: [(name, Spark DataType or Iceberg type string)] —
          appended as optional columns with fresh field-ids (old rows read
          as null).
        - ``drop``: [name] — refused for partition source columns.
        - ``rename``: {old: new} — the field-id is preserved, so old files
          still resolve under the new name.
        - ``promote``: {name: new type} — widening only: int->long,
          float->double, decimal precision growth at fixed scale.

        Names refer to the CURRENT schema (drop/promote apply before
        rename). Returns the new schema-id.
        """
        md, v = self._load()
        cur = self._current_schema(md)
        fields = [dict(f) for f in cur["fields"]]
        by_name = {f["name"]: f for f in fields}
        drop = list(drop or [])
        rename = dict(rename or {})
        promote = dict(promote or {})
        add = list(add or [])
        part_src = {pf["source-id"] for pf in self._spec_fields(md)}
        _soid, sfields = self._default_sort_fields(md)
        sort_src = {sf_["source-id"] for sf_ in sfields}
        for name in drop:
            f = by_name.get(name)
            if f is None:
                raise ValueError(f"drop: no column {name!r}")
            if f["id"] in part_src:
                raise ValueError(
                    f"drop: {name!r} is a partition source column")
            if f["id"] in sort_src:
                raise ValueError(
                    f"drop: {name!r} is a sort-order source column — "
                    "replace_sort_order first")
        for name, newt in promote.items():
            f = by_name.get(name)
            if f is None or name in drop:
                raise ValueError(f"promote: no column {name!r}")
            if isinstance(newt, T.DataType):
                newt = spark_to_iceberg_schema(
                    T.StructType([T.StructField(name, newt)])
                )[0]["fields"][0]["type"]
            if not _promotion_ok(f["type"], newt):
                raise ValueError(
                    f"promote: {f['type']} -> {newt} is not a legal "
                    "widening (int->long, float->double, decimal(P,S)->"
                    "decimal(P'>=P,S))")
            f["type"] = newt
        dropped = set(drop)
        fields = [f for f in fields if f["name"] not in dropped]
        names_now = {f["name"] for f in fields}
        for old, new in rename.items():
            f = by_name.get(old)
            if f is None or old in dropped:
                raise ValueError(f"rename: no column {old!r}")
            if new in names_now - {old}:
                raise ValueError(f"rename: column {new!r} already exists")
            f["name"] = new
            names_now.discard(old)
            names_now.add(new)
        last_col = md.get("last-column-id", 0)
        for name, t in add:
            if name in names_now:
                raise ValueError(f"add: column {name!r} already exists")
            names_now.add(name)
            if isinstance(t, str):
                last_col += 1
                fields.append({"id": last_col, "name": name,
                               "required": False, "type": t})
            else:
                ice, k = spark_to_iceberg_schema(
                    T.StructType([T.StructField(name, t, True)]))
                nf = _offset_field_ids(ice["fields"][0], last_col)
                nf["required"] = False
                fields.append(nf)
                last_col += k
        new_sid = max((s.get("schema-id", 0)
                       for s in md.get("schemas", [])), default=0) + 1
        new_md = dict(md)
        new_md["schemas"] = list(md.get("schemas", [])) + [
            {"type": "struct", "schema-id": new_sid, "fields": fields}]
        new_md["current-schema-id"] = new_sid
        new_md["last-column-id"] = last_col
        self._commit(md, v, new_md)
        return new_sid

    # -- sort orders ----------------------------------------------------------

    def update_partition_spec(
        self, partition_by: Sequence[Tuple[str, str]]) -> int:
        """Partition evolution as a metadata-only commit (spec "Partition
        Evolution"): existing data files keep the layout and partition
        records of the spec they were written under; only FUTURE writes
        route by the new spec. No data moves — at 10^12 rows that is the
        only affordable way to change a table's partitioning; `compact`
        migrates old files to the new spec incrementally if wanted.

        Reads plan both populations in one pass: each manifest records its
        partition_spec_id and `partition_filter` pruning interprets every
        file's partition record under the spec that wrote it, so a filter
        keeps pruning new files even while old files (unprunable under the
        new spec) are conservatively kept.

        ``partition_by``: [(column, transform)] like `create`; [] makes
        the table unpartitioned going forward. A (source, transform) pair
        seen in any prior spec keeps its partition field-id and name, as
        the spec requires. Returns the (possibly reused) spec id."""
        md, v = self._load()
        src_types = self._source_types(md)
        by_name = {n: fid for fid, (n, _t) in src_types.items()}
        prior: Dict[Tuple[int, str], Tuple[int, str]] = {}
        used_names = set()
        for s in md.get("partition-specs", []):
            for f in s.get("fields", []):
                prior[(f["source-id"], f["transform"])] = (f["field-id"],
                                                           f["name"])
                used_names.add(f["name"])
        last_pid = md.get("last-partition-id", 999)
        fields: List[dict] = []
        for col, tr in partition_by:
            if col not in by_name:
                raise ValueError(f"partition column {col!r} not in schema")
            transform = Transform.parse(tr)
            key = (by_name[col], str(transform))
            if key in prior:
                fid, name = prior[key]
            else:
                name = col + _PART_SUFFIX[transform.kind]
                last_pid += 1
                fid = last_pid
                if name in used_names:  # same col, different bucket/trunc arg
                    name = f"{name}_{fid}"
                used_names.add(name)
            fields.append({"source-id": key[0], "field-id": fid,
                           "name": name, "transform": key[1]})

        def sig(fs):
            return tuple((f["source-id"], f["transform"]) for f in fs)

        new_md = dict(md)
        specs = md.get("partition-specs", [])
        spec_id = next((s["spec-id"] for s in specs
                        if sig(s.get("fields", [])) == sig(fields)), None)
        if spec_id is None:
            spec_id = max((s["spec-id"] for s in specs), default=-1) + 1
            new_md["partition-specs"] = list(specs) + [
                {"spec-id": spec_id, "fields": fields}]
            new_md["last-partition-id"] = max(
                last_pid, md.get("last-partition-id", 999))
        elif spec_id == md.get("default-spec-id", 0):
            return spec_id  # already the default: no-op
        new_md["default-spec-id"] = spec_id
        self._commit(md, v, new_md)
        return spec_id

    def _default_sort_fields(self, md: dict) -> Tuple[int, List[dict]]:
        soid = md.get("default-sort-order-id", 0)
        for so in md.get("sort-orders", []):
            if so.get("order-id") == soid:
                return soid, list(so.get("fields") or [])
        return 0, []

    def replace_sort_order(self, sort_by: Optional[Sequence]) -> int:
        """Set the table write order (spec: sort order evolution) as a
        metadata-only commit. ``sort_by=None`` or ``[]`` -> unsorted
        (order 0). Existing files keep their recorded sort_order_id; only
        FUTURE writes sort. An identical existing order is reused rather
        than re-registered. Returns the new default order id."""
        md, v = self._load()
        cur = self._current_schema(md)
        by_name = {f["name"]: f for f in cur["fields"]}
        fields = _normalize_sort_fields(sort_by, by_name) if sort_by else []
        orders = list(md.get("sort-orders") or [{"order-id": 0, "fields": []}])
        soid = None
        for so in orders:
            if so.get("fields", []) == fields:
                soid = so["order-id"]
                break
        if soid is None:
            soid = max(o["order-id"] for o in orders) + 1
            orders = orders + [{"order-id": soid, "fields": fields}]
        new_md = dict(md)
        new_md["sort-orders"] = orders
        new_md["default-sort-order-id"] = soid
        self._commit(md, v, new_md)
        return soid

    def _sort_exprs(self, md: dict, sfields: List[dict]):
        """Sort-order field dicts -> Spark sort Columns on current names."""
        names = {f["id"]: f["name"] for f in self._current_schema(md)["fields"]}
        cols = []
        for sf_ in sfields:
            name = names.get(sf_["source-id"])
            if name is None:  # dropped source (guarded, but stay safe)
                continue
            c = F.col(name)
            asc = sf_.get("direction", "asc") == "asc"
            nf = sf_.get("null-order") == "nulls-first"
            if asc:
                c = c.asc_nulls_first() if nf else c.asc_nulls_last()
            else:
                c = c.desc_nulls_first() if nf else c.desc_nulls_last()
            cols.append(c)
        return cols

    # -- branches and tags (spec: refs) ---------------------------------------

    def refs(self) -> Dict[str, dict]:
        return dict(self.metadata().get("refs") or {})

    def _create_ref(self, name: str, kind: str,
                    snapshot_id: Optional[int]) -> int:
        md, v = self._load()
        if name in (md.get("refs") or {}):
            raise ValueError(f"ref {name!r} already exists")
        snap = self._resolve_snapshot(md, snapshot_id, None)
        if snap is None:
            raise ValueError("cannot create a ref on an empty table")
        new_md = dict(md)
        new_md["refs"] = {**(md.get("refs") or {}),
                          name: {"snapshot-id": snap["snapshot-id"],
                                 "type": kind}}
        self._commit(md, v, new_md)
        return snap["snapshot-id"]

    def create_tag(self, name: str,
                   snapshot_id: Optional[int] = None) -> int:
        """Immutable named pointer to a snapshot (spec refs, type=tag) —
        e.g. tag the snapshot a model was trained on. Returns its id."""
        return self._create_ref(name, "tag", snapshot_id)

    def create_branch(self, name: str,
                      snapshot_id: Optional[int] = None) -> int:
        """Named mutable line of history (spec refs, type=branch), starting
        at `snapshot_id` (default: current main head). `append(df,
        branch=name)` advances it without touching main."""
        return self._create_ref(name, "branch", snapshot_id)

    def drop_ref(self, name: str) -> None:
        if name == "main":
            raise ValueError("cannot drop the main branch")
        md, v = self._load()
        refs = dict(md.get("refs") or {})
        if name not in refs:
            raise ValueError(f"unknown ref {name!r}")
        del refs[name]
        self._commit(md, v, {**md, "refs": refs})

    def fast_forward(self, to_ref: str, from_ref: str) -> int:
        """Advance branch ``to_ref`` to ``from_ref``'s head — the PUBLISH
        step of write-audit-publish. Refused unless ``to_ref``'s head is an
        ancestor of ``from_ref``'s head (no history rewrite; a diverged
        branch needs an explicit overwrite instead). Metadata-only; the
        audited data files are served to main readers with zero rewrites.
        Returns the new head snapshot id."""
        md, v = self._load()
        refs = dict(md.get("refs") or {})
        src = refs.get(from_ref)
        dst = refs.get(to_ref)
        if src is None:
            raise ValueError(f"unknown ref {from_ref!r}")
        if dst is None:
            raise ValueError(f"unknown ref {to_ref!r}")
        if dst.get("type") != "branch":
            raise ValueError(f"{to_ref!r} is a tag — tags never move")
        by_id = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
        cur = src["snapshot-id"]
        ancestors = set()
        while cur is not None and cur in by_id:
            ancestors.add(cur)
            cur = by_id[cur].get("parent-snapshot-id")
        head = src["snapshot-id"]
        if dst["snapshot-id"] not in ancestors:
            raise ValueError(
                f"{to_ref!r} ({dst['snapshot-id']}) is not an ancestor of "
                f"{from_ref!r} ({head}) — fast-forward impossible")
        refs[to_ref] = {"snapshot-id": head, "type": "branch"}
        # moving main moves the current pointer and logs it (`_commit`)
        self._commit(md, v, {**md, "refs": refs})
        return head

    # -- read path ----------------------------------------------------------

    def _resolve_snapshot(self, md: dict, snapshot_id: Optional[int],
                          as_of_ms: Optional[int],
                          ref: Optional[str] = None) -> Optional[dict]:
        snaps = md.get("snapshots", [])
        if ref is not None:
            r = md.get("refs", {}).get(ref)
            if r is None:
                raise ValueError(f"unknown ref {ref!r}")
            snapshot_id = r["snapshot-id"]
        if snapshot_id is not None:
            for s in snaps:
                if s["snapshot-id"] == snapshot_id:
                    return s
            raise ValueError(f"snapshot {snapshot_id} not found")
        if as_of_ms is not None:
            eligible = [s for s in snaps if s["timestamp-ms"] <= as_of_ms]
            if not eligible:
                return None
            return max(eligible, key=lambda s: s["timestamp-ms"])
        cur = self._head(md)
        return next((s for s in snaps if s["snapshot-id"] == cur), None)

    def _partition_keep_fn(
        self, md: dict, partition_filter: Optional[Dict[str, Any]]
    ):
        """partition_filter (source column -> literal) -> predicate over a
        manifest entry's stored partition record. The predicate takes the
        MANIFEST's partition_spec_id so that after partition evolution a
        pre-evolution file is pruned under the spec it was written with
        (its record's field names and transforms), never the current one."""
        src_types = self._source_types(md)
        by_spec: Dict[int, Dict[str, list]] = {}
        for s in md.get("partition-specs", []):
            by_source: Dict[str, list] = {}
            for pf in s.get("fields", []):
                if pf["source-id"] not in src_types:
                    continue  # source column since dropped: never prune
                name, dtype = src_types[pf["source-id"]]
                by_source.setdefault(name, []).append(
                    (pf["name"], Transform.parse(pf["transform"]), dtype))
            by_spec[s.get("spec-id", 0)] = by_source

        def keep(partition: Dict[str, Any], spec_id: int = 0) -> bool:
            if not partition_filter:
                return True
            by_source = by_spec.get(spec_id, {})
            for col, want in partition_filter.items():
                for pname, tr, dtype in by_source.get(col, []):
                    stored = partition.get(pname)
                    if stored is None:
                        continue  # unknown -> can't prune safely
                    expect = tr.apply_py(want, dtype)
                    if not _partition_values_equal(stored, expect):
                        return False
            return True

        return keep

    def _live_files(self, manifests: Sequence[dict]) -> List[dict]:
        """Every live (not deleted) entry of ``manifests``, in manifest-list
        order, as ``{"path", "seq", "schema", "content", "entry", "m"}`` —
        the one walk and classification the planner, compaction and the
        metadata tables share.

        ``seq`` is the entry's data sequence number (inherited from the
        manifest when the entry has none), which the equality-delete rule
        compares; ``schema`` the manifest's embedded write-time table schema
        (None for pre-evolution manifests); ``content`` 0 data, 1 position
        deletes, 2 equality deletes (these also carry ``equality_ids``);
        ``entry`` the manifest entry and ``m`` its manifest row."""
        out: List[dict] = []
        for m in manifests:
            emb, entries = self._read_manifest_full(m["manifest_path"])
            for e in entries:
                if e.get("status") == 2:  # deleted entry
                    continue
                dfile = e["data_file"]
                content = dfile.get("content", 0)
                if content == 0 and m.get("content", 0) == 1:
                    content = 1
                rec = {"path": dfile["file_path"],
                       "seq": (e.get("sequence_number")
                               or m.get("sequence_number", 0)),
                       "schema": emb, "content": content, "entry": e, "m": m}
                if content == 2:
                    rec["equality_ids"] = list(dfile.get("equality_ids")
                                               or [])
                out.append(rec)
        return out

    def _plan(
        self,
        md: dict,
        snapshot_id: Optional[int] = None,
        as_of_ms: Optional[int] = None,
        partition_filter: Optional[Dict[str, Any]] = None,
        column_filter: Optional[Sequence[Tuple[str, str, Any]]] = None,
        ref: Optional[str] = None,
    ) -> Tuple[List[dict], List[str], List[dict]]:
        """-> (data entries, position-delete paths, equality-delete entries)
        of the selected snapshot of ``md`` (default: main's head).

        Data entries are ``{"path", "seq", "schema"}`` — ``schema`` is the
        manifest's embedded write-time table schema (None for pre-evolution
        manifests), ``seq`` the data sequence number the equality-delete rule
        compares against. Equality entries are ``{"path", "seq",
        "equality_ids", "schema"}``.

        ``partition_filter`` maps *source column* -> literal; each file whose
        stored partition value differs from transform(literal) is pruned
        driver-side — the scan never opens it. ``column_filter`` is a list of
        (column, op, literal) triples checked against the manifests' per-file
        lower/upper bounds and null counts (`file_may_match`): a file whose
        stats envelope provably misses every matching row is skipped without
        being opened. Both are O(#files) metadata work.
        """
        snap = self._resolve_snapshot(md, snapshot_id, as_of_ms, ref=ref)
        if snap is None:
            return [], [], []
        keep = self._partition_keep_fn(md, partition_filter)
        fid_types = self._field_id_types(md) if column_filter else {}
        data_entries: List[dict] = []
        pos_deletes: List[str] = []
        eq_entries: List[dict] = []
        for r in self._live_files(
                self._read_manifest_list(snap["manifest-list"])):
            dfile = r["entry"]["data_file"]
            if r["content"] == 2:
                eq_entries.append({k: r[k] for k in
                                   ("path", "seq", "equality_ids", "schema")})
            elif r["content"] == 1:
                pos_deletes.append(r["path"])
            elif keep(dfile.get("partition") or {},
                      r["m"].get("partition_spec_id", 0)) and (
                    not column_filter
                    or file_may_match(dfile, column_filter, fid_types)):
                data_entries.append({k: r[k] for k in
                                     ("path", "seq", "schema")})
        return data_entries, pos_deletes, eq_entries

    def data_files(self, **kw) -> List[str]:
        return [e["path"] for e in self._plan(self.metadata(), **kw)[0]]

    def inspect(self, spark: SparkSession, kind: str) -> DataFrame:
        """Metadata tables as DataFrames — the engine-side parity surface
        for Spark-Iceberg's `tbl.snapshots` / `tbl.files` / `tbl.history`
        / `tbl.manifests` / `tbl.refs` / `tbl.partitions`. All driver-side
        metadata walks (O(#files), never opens a data file), so auditing a
        10^12-row table's layout costs manifest IO only.

        - ``snapshots``: snapshot_id, parent_id, committed_at_ms,
          operation, total_records, total_data_files
        - ``history``: made_current_at_ms, snapshot_id, is_current
        - ``refs``: name, type, snapshot_id
        - ``manifests``: path, length, partition_spec_id, content,
          added_files, existing_files, deleted_files, added_rows
        - ``files``: current snapshot's live entries — file_path, content
          (0 data / 1 position deletes / 2 equality deletes),
          record_count, file_size_bytes, spec_id, partition (JSON)
        - ``partitions``: live data files rolled up by partition value —
          partition (JSON), spec_id, file_count, record_count
        """
        import json as _json

        md = self.metadata()
        if kind == "snapshots":
            rows = [(s["snapshot-id"], s.get("parent-snapshot-id"),
                     s.get("timestamp-ms", 0),
                     s.get("summary", {}).get("operation"),
                     int(s.get("summary", {}).get("total-records", 0)),
                     int(s.get("summary", {}).get("total-data-files", 0)))
                    for s in md.get("snapshots", [])]
            return spark.createDataFrame(
                rows, "snapshot_id long, parent_id long, "
                      "committed_at_ms long, operation string, "
                      "total_records long, total_data_files long")
        if kind == "history":
            cur = md.get("current-snapshot-id")
            rows = [(e["timestamp-ms"], e["snapshot-id"],
                     e["snapshot-id"] == cur)
                    for e in md.get("snapshot-log", [])]
            return spark.createDataFrame(
                rows, "made_current_at_ms long, snapshot_id long, "
                      "is_current boolean")
        if kind == "refs":
            rows = [(name, r.get("type"), r.get("snapshot-id"))
                    for name, r in sorted((md.get("refs") or {}).items())]
            return spark.createDataFrame(
                rows, "name string, type string, snapshot_id long")
        snap = self._resolve_snapshot(md, None, None)
        manifests = (self._read_manifest_list(snap["manifest-list"])
                     if snap else [])
        if kind == "manifests":
            rows = [(m["manifest_path"], m["manifest_length"],
                     m.get("partition_spec_id", 0), m.get("content", 0),
                     m.get("added_files_count", 0),
                     m.get("existing_files_count", 0),
                     m.get("deleted_files_count", 0),
                     m.get("added_rows_count", 0))
                    for m in manifests]
            return spark.createDataFrame(
                rows, "path string, length long, partition_spec_id int, "
                      "content int, added_files int, existing_files int, "
                      "deleted_files int, added_rows long")
        if kind in ("files", "partitions"):
            frows = []
            for r in self._live_files(manifests):
                d = r["entry"]["data_file"]
                frows.append((r["path"], r["content"],
                              d.get("record_count", 0),
                              d.get("file_size_in_bytes", 0),
                              r["m"].get("partition_spec_id", 0),
                              _json.dumps(d.get("partition") or {},
                                          sort_keys=True, default=str)))
            if kind == "files":
                return spark.createDataFrame(
                    frows, "file_path string, content int, "
                           "record_count long, file_size_bytes long, "
                           "spec_id int, partition string")
            agg: Dict[Tuple[str, int], List[int]] = {}
            for _p, content, rc, _sz, sid, part in frows:
                if content != 0:
                    continue
                cur = agg.setdefault((part, sid), [0, 0])
                cur[0] += 1
                cur[1] += rc
            rows = [(part, sid, c[0], c[1])
                    for (part, sid), c in sorted(agg.items())]
            return spark.createDataFrame(
                rows, "partition string, spec_id int, file_count long, "
                      "record_count long")
        raise ValueError(
            f"unknown metadata table {kind!r} — one of snapshots, history, "
            "refs, manifests, files, partitions")

    def incremental_files(
        self, from_snapshot_id: int, to_snapshot_id: Optional[int] = None,
        column_filter: Optional[Sequence[Tuple[str, str, Any]]] = None,
        _paths_only: bool = True,
    ) -> List:
        """Data files ADDED strictly after `from_snapshot_id`, up to
        `to_snapshot_id` (default: current) — the validate-only-new-data
        path for checkpointed runs: a resumed contract run scans only the
        appended files, never the already-validated history. Manifests whose
        sequence_number predates the boundary are skipped without being
        opened (metadata work is O(#new manifests), not O(#snapshots))."""
        md = self.metadata()
        from_snap = self._resolve_snapshot(md, from_snapshot_id, None)
        to_snap = self._resolve_snapshot(md, to_snapshot_id, None)
        if to_snap is None:
            return []
        from_seq = from_snap["sequence-number"]
        fid_types = self._field_id_types(md) if column_filter else {}
        # compaction rewrites old rows into new files under a "replace"
        # snapshot — those are NOT new data, and an incremental consumer
        # (validate-only-new-data) must not re-validate them
        replace_ids = {s["snapshot-id"] for s in md.get("snapshots", [])
                       if s.get("summary", {}).get("operation") == "replace"}
        fresh = [m for m in self._read_manifest_list(to_snap["manifest-list"])
                 if m.get("sequence_number", 0) > from_seq
                 and m.get("content", 0) != 1
                 and m.get("added_snapshot_id") not in replace_ids]
        out = [{k: r[k] for k in ("path", "seq", "schema")}
               for r in self._live_files(fresh)
               if r["entry"].get("status") == 1 and r["content"] == 0
               and r["seq"] > from_seq
               and (not column_filter or file_may_match(
                   r["entry"]["data_file"], column_filter, fid_types))]
        return [e["path"] for e in out] if _paths_only else out

    def expire_snapshots(self, keep_last: int = 1) -> Dict[str, int]:
        """Table maintenance: drop all but the newest `keep_last`
        ref-reachable snapshots — plus EVERY snapshot no ref can reach,
        whatever its age — and physically delete files no retained snapshot
        references (manifest lists, manifests, data + delete files).
        Ref heads themselves never expire. Returns counts.

        The reachability walk is metadata-only (O(#files), driver-side,
        same as a catalog's expire action); time-travel to an expired
        snapshot subsequently raises, current reads are untouched. Files
        are deleted only after the commit, so a lost race deletes nothing.
        """
        md, v = self._load()
        snaps = list(md.get("snapshots", []))
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        by_id = {s["snapshot-id"]: s for s in snaps}
        # every ref head (tag or branch) is protected regardless of age;
        # so is anything REACHABLE from a ref head within the keep window.
        # Snapshots no ref can reach (e.g. audit-branch commits whose ref
        # was dropped after a red write-audit-publish run) are expirable
        # immediately, regardless of recency — Iceberg's retention rule.
        ref_heads = {r["snapshot-id"]
                     for r in (md.get("refs") or {}).values()}
        cur_id = md.get("current-snapshot-id")
        if cur_id and cur_id != -1:  # legacy tables without a refs map
            ref_heads.add(cur_id)
        reachable: set = set()
        for h in ref_heads:
            cur = h
            while cur is not None and cur in by_id and cur not in reachable:
                reachable.add(cur)
                cur = by_id[cur].get("parent-snapshot-id")
        reach_list = [s for s in snaps if s["snapshot-id"] in reachable]
        keep_ids = ({s["snapshot-id"] for s in reach_list[-keep_last:]}
                    | (ref_heads & set(by_id)))
        keep = [s for s in snaps if s["snapshot-id"] in keep_ids]
        drop = [s for s in snaps if s["snapshot-id"] not in keep_ids]
        if not drop:
            return {"snapshots_removed": 0, "files_deleted": 0}
        kept_manifests: set = set()
        kept_files: set = set()
        for s in keep:
            for m in self._read_manifest_list(s["manifest-list"]):
                kept_manifests.add(m["manifest_path"])
                for e in self._read_manifest_full(m["manifest_path"])[1]:
                    kept_files.add(e["data_file"]["file_path"])
        # the LIVE file set, before the walk below grows kept_files into
        # its visit-once ledger (bloom GC needs the real set)
        live_local = {os.path.abspath(self._local(p)) for p in kept_files}
        doomed: List[str] = []
        for s in drop:
            for m in self._read_manifest_list(s["manifest-list"]):
                mp = m["manifest_path"]
                if mp in kept_manifests:
                    # a manifest can appear in SEVERAL dropped snapshots'
                    # lists (append chains share manifests): visit it once
                    continue
                kept_manifests.add(mp)
                for e in self._read_manifest_full(mp)[1]:
                    p = e["data_file"]["file_path"]
                    if p not in kept_files:
                        kept_files.add(p)
                        doomed.append(p)
                doomed.append(mp)
            doomed.append(s["manifest-list"])
        kept_ids = {s["snapshot-id"] for s in keep}
        self._commit(md, v, {**md, "snapshots": keep, "snapshot-log": [
            e for e in md.get("snapshot-log", [])
            if e["snapshot-id"] in kept_ids]})
        deleted = 0
        for p in doomed:
            try:
                os.unlink(self._local(p))
                deleted += 1
            except FileNotFoundError:
                pass
        deleted += self._gc_blooms(live_local)
        return {"snapshots_removed": len(drop), "files_deleted": deleted}

    def remove_orphan_files(self, older_than_ms: Optional[int] = None,
                            dry_run: bool = False) -> Dict[str, int]:
        """Delete files under data/ that NO snapshot references — the
        complement of `expire_snapshots`: expiry reclaims files whose
        snapshots were dropped; orphans were never committed at all
        (crashed writers' staging leftovers, or data files of expired
        audit-branch snapshots a concurrent crash detached). The walk is
        metadata-vs-filesystem set difference, O(#files), driver-side.

        `older_than_ms` (epoch millis, on file mtime) protects files a
        live writer staged but has not yet committed; pass None only when
        no writer can be in flight (tests, offline maintenance windows).
        """
        md = self.metadata()
        referenced: set = set()
        for s in md.get("snapshots", []):
            for m in self._read_manifest_list(s["manifest-list"]):
                for e in self._read_manifest_full(m["manifest_path"])[1]:
                    referenced.add(
                        os.path.abspath(
                            self._local(e["data_file"]["file_path"])))
        scanned = 0
        removed = 0
        empty_dirs = []
        for root, dirs, files in os.walk(self.data_dir, topdown=False):
            for name in files:
                p = os.path.abspath(os.path.join(root, name))
                scanned += 1
                if p in referenced:
                    continue
                if older_than_ms is not None and \
                        os.path.getmtime(p) * 1000.0 > older_than_ms:
                    continue
                if not dry_run:
                    os.unlink(p)
                removed += 1
            if root != self.data_dir and not os.listdir(root):
                empty_dirs.append(root)
        if not dry_run:
            for d in empty_dirs:
                try:
                    os.rmdir(d)
                except OSError:
                    pass
            removed += self._gc_blooms(referenced)
        return {"files_scanned": scanned, "orphans_removed": removed}

    def _gc_blooms(self, live_local_paths: set) -> int:
        """Drop bloom-sidecar rows whose data file is no longer referenced.

        Without this, metadata/blooms grows one directory per historical
        commit forever: expiry and orphan cleanup reclaimed the data files
        but every pruned read still scanned the stale index rows, so both
        disk and per-lookup planning cost tracked TOTAL commits instead of
        live files. Driver-side pyarrow rewrite per sidecar dir (bloom rows
        are small: ~bits/8 bytes per live file); a dir whose every row is
        stale is removed outright. Returns files removed."""
        import pyarrow as pa
        import pyarrow.parquet as pq_

        blooms_dir = os.path.join(self.meta_dir, "blooms")
        if not os.path.isdir(blooms_dir):
            return 0
        removed = 0
        for d in sorted(os.listdir(blooms_dir)):
            sub = os.path.join(blooms_dir, d)
            if not os.path.isdir(sub):
                continue
            try:
                tbl = pq_.read_table(sub)
            except Exception:  # noqa: BLE001 — unreadable sidecar: leave it
                continue
            paths = tbl.column("file_path").to_pylist()
            alive = [os.path.abspath(self._local(p)) in live_local_paths
                     for p in paths]
            if all(alive):
                continue
            if not any(alive):
                shutil.rmtree(sub, ignore_errors=True)
                removed += 1
                continue
            kept = tbl.filter(pa.array(alive))
            shutil.rmtree(sub, ignore_errors=True)
            os.makedirs(sub, exist_ok=True)
            pq_.write_table(kept, os.path.join(sub, "part-0.parquet"))
        return removed

    def compact(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 * 1024 * 1024,
        small_file_bytes: Optional[int] = None,
        partition_filter: Optional[Dict[str, Any]] = None,
        rewrite_deletes: bool = True,
        cluster_by: Optional[Sequence[str]] = None,
        zorder_bits: int = 8,
        output_files: Optional[int] = None,
    ) -> Dict[str, int]:
        """Bin-pack small data files and materialize row-level deletes
        (the reference CLI has no table writer; this matches Spark's
        `rewrite_data_files` maintenance action).

        Candidates = in-scope data files smaller than ``small_file_bytes``
        (default ``target_file_bytes * 3 // 4``), plus (when
        ``rewrite_deletes``) files pinned by positional deletes or older
        than an equality delete. All candidates are read in ONE distributed
        scan with deletes applied, coalesced to ~``target_file_bytes``
        outputs (partition routing and the table write order still apply),
        and committed as a "replace" snapshot: new files ADDED at the new
        sequence number, rewritten files dropped by rewriting only the
        affected manifests (surviving entries keep status=existing, their
        original per-entry sequence numbers, AND the original embedded
        write-time schema, so field-id projection across evolutions is
        undisturbed); fully-applied delete files retire with them. Old
        snapshots still time-travel — nothing is physically deleted here
        (that's `expire_snapshots`).

        At 10^12 rows this is what keeps read amplification flat: appends
        land small, deletes pile up as extra anti-join inputs, and the
        periodic compact turns both back into full-size, delete-free files
        whose manifest stats envelopes prune like fresh writes.

        ``cluster_by`` switches the rewrite to Z-ORDER clustering (the
        shape of Delta's OPTIMIZE ZORDER / Iceberg's zorder rewrite
        strategy): every in-scope file is a candidate by default (the point
        is re-clustering, not just bin-packing), rows are range-shuffled on
        a Morton key over quantile-bucketed cluster columns
        (`zorder_value`), and the table write order is bypassed for this
        write — each output file then covers a compact hyper-rectangle in
        cluster space, so manifest stats prune `read(where=...)` on ANY of
        the cluster columns. One extra column-pruned quantile scan of the
        candidates pays for the bucketing. At 10^12 rows this is the only
        affordable multi-dimensional layout tool: a linear sort order
        prunes the leading column only.
        """
        if small_file_bytes is None:
            small_file_bytes = (float("inf") if cluster_by
                                else target_file_bytes * 3 // 4)
        nothing = {"rewritten_data_files": 0, "added_data_files": 0,
                   "removed_delete_files": 0, "rewritten_bytes": 0}
        md, v = self._load()
        snap = self._resolve_snapshot(md, None, None)
        if snap is None:
            return nothing
        keep = self._partition_keep_fn(md, partition_filter)
        mlist = self._read_manifest_list(snap["manifest-list"])
        recs = self._live_files(mlist)
        data_recs = [r for r in recs if r["content"] == 0]
        pos_recs = [r for r in recs if r["content"] == 1]
        eq_recs = [r for r in recs if r["content"] == 2]
        # positional-delete target file sets (delete files are small and
        # bounded; this is the same driver-side metadata work as planning)
        import pyarrow.parquet as pq

        def norm(p: str) -> str:
            # `_metadata.file_path` renders file:/x, manifests file:///x
            return re.sub(r"^file:/+", "/", p)

        pos_targets: Dict[str, set] = {}
        for r in pos_recs:
            tbl = pq.read_table(self._local(r["path"]),
                                columns=["file_path"])
            pos_targets[r["path"]] = {norm(p)
                                      for p in tbl["file_path"].to_pylist()}
        pinned = set()
        for targets in pos_targets.values():
            pinned |= targets
        max_eq_seq = max((r["seq"] for r in eq_recs), default=0)

        def size(r: dict) -> int:
            return r["entry"]["data_file"].get("file_size_in_bytes", 0)

        def is_candidate(r: dict) -> bool:
            if not keep(r["entry"]["data_file"].get("partition") or {},
                        r["m"].get("partition_spec_id", 0)):
                return False
            if size(r) < small_file_bytes:
                return True
            if rewrite_deletes and (norm(r["path"]) in pinned
                                    or r["seq"] < max_eq_seq):
                return True
            return False

        cands = [r for r in data_recs if is_candidate(r)]
        cand_paths = {r["path"] for r in cands}
        cand_norm = {norm(p) for p in cand_paths}
        carries_deletes = any(
            norm(r["path"]) in pinned or r["seq"] < max_eq_seq
            for r in cands)
        if not cands or (len(cands) < 2 and not carries_deletes):
            return nothing
        # -- one distributed read of the candidates, deletes applied --------
        df = self._read_entries(
            spark, md, cands,
            [r["path"] for r in pos_recs
             if pos_targets[r["path"]] & cand_norm],
            [r for r in eq_recs if any(c["seq"] < r["seq"] for c in cands)])
        cand_bytes = sum(size(r) for r in cands)
        n_out = (int(output_files) if output_files
                 else max(1, -(-cand_bytes // target_file_bytes)))
        # coalesce, not repartition: narrow (no shuffle) when the table is
        # unsorted; under a write order _write_data_files range-shuffles to
        # the incoming partition count anyway, so sizing still holds
        if cluster_by:
            df = zorder_value(df, list(cluster_by), bits=zorder_bits)
            df = (df.repartitionByRange(n_out, F.col("__ice_zval"))
                  .sortWithinPartitions("__ice_zval").drop("__ice_zval"))
            files = self._write_data_files(df, md, table_order=False)
        else:
            files = self._write_data_files(df.coalesce(n_out), md)
        # -- which delete files are now fully applied? ----------------------
        survivor_min_seq = min(
            (r["seq"] for r in data_recs if r["path"] not in cand_paths),
            default=None)
        dead_deletes = set()
        for r in pos_recs:
            if not (pos_targets[r["path"]] - cand_norm):
                dead_deletes.add(r["path"])  # every target was rewritten
        for r in eq_recs:
            if survivor_min_seq is None or survivor_min_seq >= r["seq"]:
                dead_deletes.add(r["path"])  # nothing older remains
        # -- commit: added manifest + rewritten survivors --------------------
        gone = cand_paths | dead_deletes
        snap_new = self._snapshot(md, "replace")
        snap_new["summary"]["deleted-data-files"] = str(len(cands))
        new_manifests = ([self._write_manifest(md, snap_new, _added(files), 0)]
                         if files else [])
        by_manifest: Dict[str, List[dict]] = {}
        for r in recs:
            by_manifest.setdefault(r["m"]["manifest_path"], []).append(r)
        for m in mlist:
            live = by_manifest.get(m["manifest_path"], [])
            if not any(r["path"] in gone for r in live):
                new_manifests.append(m)
                continue
            # survivors keep status=existing, their data sequence numbers
            # and the manifest's write-time schema and partition spec
            survivors = [{"status": 0, "data_file": r["entry"]["data_file"],
                          "sequence_number": r["seq"],
                          "file_sequence_number": (
                              r["entry"].get("file_sequence_number")
                              or r["seq"])}
                         for r in live if r["path"] not in gone]
            if survivors:
                new_manifests.append(self._write_manifest(
                    md, snap_new, survivors, m.get("content", 0),
                    seq=m.get("sequence_number", snap_new["sequence-number"]),
                    embed_schema=live[0]["schema"],
                    spec_id=m.get("partition_spec_id", 0)))
        self._commit(md, v, snap=snap_new, manifests=new_manifests)
        return {"rewritten_data_files": len(cands),
                "added_data_files": len(files),
                "removed_delete_files": sum(1 for r in recs
                                            if r["path"] in dead_deletes),
                "rewritten_bytes": cand_bytes}

    def verify_rewrite(
        self,
        spark: SparkSession,
        from_snapshot_id: Optional[int] = None,
        to_snapshot_id: Optional[int] = None,
        keys: Optional[Sequence[str]] = None,
        buckets: int = 4096,
    ):
        """Prove a rewrite preserved LOGICAL content — don't trust the
        rewriter (this class included). Every physical reorganization
        (compact bin-pack, z-order re-clustering, partition-evolution
        migration, delete materialization) must be invisible through
        ``read``: deletes are applied at BOTH snapshots, so the logical row
        multiset is invariant even when the rewrite bakes deletes in.

        Defaults compare the current snapshot against its parent. Without
        ``keys``: a whole-row multiset proof (reconcile.multiset_equal) —
        two scans folding to ``buckets`` digest rows each, zero row shuffle
        when identical, at any table size. With ``keys``: a full
        ``reconcile`` whose diff frame attributes every drifted key
        (missing/changed/cardinality) for rewrite forensics. Returns the
        corresponding MultisetResult / ReconcileResult."""
        from .reconcile import multiset_equal, reconcile as _reconcile

        to_id = to_snapshot_id or self.current_snapshot_id()
        if to_id is None:
            raise ValueError("table has no current snapshot to verify")
        if from_snapshot_id is None:
            by_id = {s["snapshot-id"]: s for s in self.snapshots()}
            parent = by_id.get(to_id, {}).get("parent-snapshot-id")
            if parent is None or parent not in by_id:
                raise ValueError(
                    f"snapshot {to_id} has no parent to verify against; "
                    "pass from_snapshot_id explicitly")
            from_snapshot_id = parent
        left = self.read(spark, snapshot_id=from_snapshot_id)
        right = self.read(spark, snapshot_id=to_id)
        if keys:
            return _reconcile(left, right, list(keys), buckets=buckets)
        return multiset_equal(left, right, buckets=buckets)

    def read_incremental(
        self, spark: SparkSession, from_snapshot_id: int,
        to_snapshot_id: Optional[int] = None,
        where: Optional[Sequence[Tuple[str, str, Any]]] = None,
    ) -> DataFrame:
        """The appended rows between two snapshots as one parquet scan,
        optionally stats-pruned + filtered like `read(where=...)`; files
        written before a schema evolution are projected to the current
        schema by field-id, like `read`."""
        entries = self.incremental_files(from_snapshot_id, to_snapshot_id,
                                         column_filter=where,
                                         _paths_only=False)
        if not entries:
            return spark.createDataFrame([], self.spark_schema())
        df = self._scan(spark, entries, self._current_schema(self.metadata()))
        if where:
            df = df.filter(_predicates_to_column(where))
        return df

    def _scan(
        self,
        spark: SparkSession,
        data_entries: List[dict],
        current: dict,
        with_meta: bool = False,
    ) -> DataFrame:
        """One parquet scan per distinct write-time schema, each projected
        to the CURRENT schema **by field-id**: renames resolve to the new
        name, promoted columns cast, added columns null-fill, dropped
        columns are simply not selected. A pre-evolution table has a single
        group — one plain scan, zero overhead. ``with_meta`` appends the
        ``_metadata`` hidden columns as ``__ice_fp``/``__ice_pos`` for the
        delete anti-joins."""
        groups: Dict[str, Tuple[Optional[dict], List[str]]] = {}
        for e in data_entries:
            key = (json.dumps(e["schema"], sort_keys=True)
                   if e["schema"] else "")
            groups.setdefault(key, (e["schema"], []))[1].append(e["path"])
        parts: List[DataFrame] = []
        for _k, (src_schema, paths) in sorted(groups.items()):
            src = src_schema or current
            df = spark.read.parquet(*[self._local(p) for p in paths])
            by_id = {f["id"]: f for f in src["fields"]}
            cols = []
            for f in current["fields"]:
                tgt = _field_spark_type(f)
                old = by_id.get(f["id"])
                if old is None or old["name"] not in df.columns:
                    cols.append(F.lit(None).cast(tgt).alias(f["name"]))
                    continue
                c = F.col(old["name"])
                if old["type"] != f["type"]:
                    c = c.cast(tgt)
                cols.append(c.alias(f["name"]))
            if with_meta:
                cols.append(F.col("_metadata.file_path").alias("__ice_fp"))
                cols.append(F.col("_metadata.row_index").alias("__ice_pos"))
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _apply_equality_deletes(
        self,
        spark: SparkSession,
        df: DataFrame,
        data_entries: List[dict],
        eq_entries: List[dict],
        current: dict,
    ) -> DataFrame:
        """Spec sequence rule: a data row is deleted when an equality-delete
        file with a STRICTLY GREATER data sequence number null-safe matches
        all its equality columns. Per-file data sequence numbers join in via
        a broadcast O(#files) map on the scan's hidden file path; each group
        of delete files sharing an equality_ids set applies as one broadcast
        anti-join (delete keysets are small next to the table)."""
        cur_by_id = {f["id"]: f for f in current["fields"]}
        # `_metadata.file_path` renders file:/x while manifests store
        # file:///x — join on the scheme-normalized local path
        seq_df = spark.createDataFrame(
            [(self._local(e["path"]), int(e["seq"])) for e in data_entries],
            "__ice_fp_norm string, __ice_dseq long")
        df = df.withColumn(
            "__ice_fp_norm",
            F.regexp_replace(F.col("__ice_fp"), "^file:/+", "/"))
        df = (df.join(F.broadcast(seq_df), "__ice_fp_norm", "left")
                .drop("__ice_fp_norm"))
        groups: Dict[Tuple[int, ...], List[dict]] = {}
        for e in eq_entries:
            groups.setdefault(tuple(sorted(e["equality_ids"])), []).append(e)
        for ids, dels in sorted(groups.items()):
            key_fields = []
            for fid in ids:
                f = cur_by_id.get(fid)
                if f is None:
                    raise ValueError(
                        f"equality delete references field id {fid} which is "
                        "not in the current schema (dropped?)")
                key_fields.append(f)
            parts: List[DataFrame] = []
            for e in dels:
                src = e["schema"] or current
                src_by_id = {f["id"]: f for f in src["fields"]}
                sel = []
                for f in key_fields:
                    old = src_by_id.get(f["id"], f)
                    c = F.col(old["name"])
                    if old["type"] != f["type"]:
                        c = c.cast(_field_spark_type(f))
                    sel.append(c.alias("__del_" + f["name"]))
                parts.append(
                    spark.read.parquet(self._local(e["path"]))
                    .select(*sel)
                    .withColumn("__ice_eseq", F.lit(int(e["seq"]))))
            dels_df = parts[0]
            for p in parts[1:]:
                dels_df = dels_df.unionByName(p)
            cond = F.col("__ice_dseq") < F.col("__ice_eseq")
            for f in key_fields:
                cond = cond & F.col(f["name"]).eqNullSafe(
                    F.col("__del_" + f["name"]))
            df = df.join(F.broadcast(dels_df), cond, "left_anti")
        return df.drop("__ice_dseq")

    def read(
        self,
        spark: SparkSession,
        snapshot_id: Optional[int] = None,
        as_of_ms: Optional[int] = None,
        partition_filter: Optional[Dict[str, Any]] = None,
        where: Optional[Sequence[Tuple[str, str, Any]]] = None,
        ref: Optional[str] = None,
    ) -> DataFrame:
        """The table as a DataFrame: snapshot-scoped file list -> one parquet
        scan per write-time schema (projected to the current schema by
        field-id), positional deletes applied as a (file_path, row_index)
        anti-join against Spark's `_metadata` hidden columns, equality
        deletes as sequence-aware broadcast anti-joins.

        ``where`` — (column, op, literal) triples, op in =, <, <=, >, >=,
        in, is_null, is_not_null — does double duty: files whose manifest
        stats envelope provably misses are skipped driver-side (never
        opened), and the SAME triples run as a Spark filter over the
        surviving files, so the result is exact regardless of how much the
        stats could prune. At 10^12 rows this is the difference between
        scanning a time/range slice and scanning the table."""
        md = self.metadata()
        data, pos_deletes, eq_entries = self._plan(
            md, snapshot_id, as_of_ms, partition_filter, where, ref)
        data = self._bloom_prune(spark, md, data, where)
        return self._read_entries(spark, md, data, pos_deletes, eq_entries,
                                  where)

    def _bloom_prune(
        self, spark: SparkSession, md: dict, data: List[dict],
        where: Optional[Sequence[Tuple[str, str, Any]]],
    ) -> List[dict]:
        """Drop planned files whose bloom sidecar provably misses every
        value of an ``=``/``in`` predicate on an indexed column — so any
        `read(where=...)` (validation scans, WAP increments, CLI --where)
        gets point-lookup pruning transparently, not just `lookup`.
        Conjunct semantics: each predicate may only shrink the file set."""
        if not where or not data:
            return data
        bcols = self._bloom_cols(md)
        if not bcols:
            return data
        from .bloomfilter import prune_files
        schema = iceberg_to_spark_schema(self._current_schema(md))
        for col, op, val in where:
            if col not in bcols or op not in ("=", "in") or not data:
                continue
            values = list(val) if op == "in" else [val]
            if not values:
                continue
            keep = set(prune_files(
                spark, os.path.join(self.meta_dir, "blooms"), col, values,
                schema[col].dataType, [e["path"] for e in data]))
            data = [e for e in data if e["path"] in keep]
        return data

    def _read_entries(
        self,
        spark: SparkSession,
        md: dict,
        data: List[dict],
        pos_deletes: List[str],
        eq_entries: List[dict],
        where: Optional[Sequence[Tuple[str, str, Any]]] = None,
    ) -> DataFrame:
        """Planned entries of ``md`` -> DataFrame (scan + deletes + exact
        filter); shared tail of `read` and `compact`."""
        current = self._current_schema(md)
        if not data:
            return spark.createDataFrame([], iceberg_to_spark_schema(current))
        need_meta = bool(pos_deletes) or bool(eq_entries)
        df = self._scan(spark, data, current, with_meta=need_meta)
        if where:
            df = df.filter(_predicates_to_column(where))
        if eq_entries:
            df = self._apply_equality_deletes(spark, df, data, eq_entries,
                                              current)
        if pos_deletes:
            pos = (spark.read.parquet(*[self._local(p) for p in pos_deletes])
                   .select(F.col("file_path").alias("__ice_fp"),
                           F.col("pos").alias("__ice_pos"))
                   .dropDuplicates(["__ice_fp", "__ice_pos"]))
            df = df.join(pos, ["__ice_fp", "__ice_pos"], "left_anti")
        if need_meta:
            df = df.drop("__ice_fp", "__ice_pos")
        return df

    def lookup_plan(
        self, spark: SparkSession, column: str, values: Sequence[Any],
        **plan_kw,
    ) -> Tuple[List[dict], List[dict], List[str], List[dict]]:
        """-> (surviving data entries, candidate entries, pos-delete paths,
        eq-delete entries) for a point lookup.

        Candidates come from the usual partition + manifest-stats pruning
        with the ``IN`` predicate; the bloom sidecar then drops every
        candidate file whose bitset provably misses all probe values.
        Surviving ⊆ candidates always; a file without a bloom row (written
        before `bloom.columns` was set) always survives."""
        where = [(column, "in", list(values))]
        md = self.metadata()
        data, pos_deletes, eq_entries = self._plan(
            md, column_filter=where, **plan_kw)
        survivors = self._bloom_prune(spark, md, data, where)
        return survivors, data, pos_deletes, eq_entries

    def lookup(self, spark: SparkSession, column: str,
               values: Sequence[Any], **plan_kw) -> DataFrame:
        """Point lookup: ``SELECT * WHERE column IN (values)`` that opens
        only the files the bloom index cannot rule out. Exactness never
        depends on the index — the surviving files are still filtered by
        the real ``IN`` predicate, so bloom false positives cost IO only.
        At 10^12 rows with `bloom.columns` on the key this is the
        difference between a thousand-file read and a table scan."""
        return self.read(spark, where=[(column, "in", list(values))],
                         **plan_kw)

    def build_blooms(self, spark: SparkSession) -> int:
        """Backfill bloom sidecars for current-snapshot data files that
        lack them (files written before `bloom.columns` was set, or after
        the property gained a column). Returns the number of files
        indexed. New writes index themselves in `_write_data_files`."""
        md = self.metadata()
        bcols = self._bloom_cols(md)
        if not bcols:
            return 0
        blooms_dir = os.path.join(self.meta_dir, "blooms")
        have: set = set()
        dirs = []
        if os.path.isdir(blooms_dir):
            dirs = [os.path.join(blooms_dir, d)
                    for d in sorted(os.listdir(blooms_dir))]
            dirs = [d for d in dirs if os.path.isdir(d)]
        if dirs:
            have = {(r.file_path, r.column) for r in
                    spark.read.parquet(*dirs)
                    .select("file_path", "column").distinct().collect()}
        todo = [e["path"] for e in self._plan(md)[0]
                if any((e["path"], c) not in have for c in bcols)]
        if not todo:
            return 0
        from .bloomfilter import write_blooms
        write_blooms(spark, blooms_dir, f"backfill-{_uuid.uuid4().hex[:12]}",
                     [self._local(p) for p in todo], bcols)
        return len(todo)


def read_iceberg_table(
    spark: SparkSession, location: str, **kw
) -> DataFrame:
    """Convenience: `IcebergTable(location).read(spark, **kw)`."""
    return IcebergTable(location).read(spark, **kw)


def write_results_iceberg(df: DataFrame, location: str) -> int:
    """Append a results/violations frame to an Iceberg table at `location`,
    creating it on first write — the north-star's 'Iceberg results table'
    sink, no catalog required."""
    t = IcebergTable(location)
    if not t.exists():
        t = IcebergTable.create(location, df.schema)
    return t.append(df)
