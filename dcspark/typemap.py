"""The one mapping between contract types and the type spellings of every
export and import format.

``_TABLE`` has one row per ``spec.DATACONTRACT_TYPES`` name, plus one for a
field without a type, and one column per target in ``TARGETS``. A cell is one of:

- a constant spelling (a string, a Spark ``DataType``, or a JSON fragment);
- a rule, ``rule(field, sub)``, for what depends on the field: decimal
  precision and scale, string length, and the element, key, value and child
  types of ``array``, ``map`` and ``struct``. ``sub(child, suffix)`` spells
  a nested field in the same target;
- ``RECORD``: the target declares nested records by name, so the exporter's
  own ``record(field, name)`` callback renders it;
- ``None``: the target has no spelling for the type. Looking it up raises
  ``ValueError`` naming both, instead of writing a stand-in type.

Importers read the same table backwards: :func:`source_type` inverts a
target's column and adds that source's own synonyms. A spelling that
several types share goes to the type of the same name; one that names none
of them must be listed as a synonym, so table order never decides an
import. JSON Schema and BigQuery, whose imports the inverse would mostly
override, list every spelling. A foreign spelling that none of these
knows raises.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Any, Callable, Dict, Optional

import pyspark.sql.types as T

from .spec import DATACONTRACT_TYPES, Field

TARGETS = ("spark", "jsonschema", "sql", "avro", "protobuf", "odcs", "bigquery",
           "sqlalchemy", "pydantic", "go", "avro-idl")

RECORD = object()  # cell marker: a named record the exporter renders

_STRING = Field(type="string")


def _p(f: Field) -> int:
    return f.precision or 38


def _s(f: Field) -> int:
    return f.scale or 0


# -- per-target rules ---------------------------------------------------------

def _spark_decimal(f, sub):
    return T.DecimalType(_p(f), _s(f))


def _spark_array(f, sub):
    return T.ArrayType(sub(f.items) if f.items is not None else T.NullType())


def _spark_map(f, sub):
    return T.MapType(sub(f.keys) if f.keys is not None else T.StringType(),
                     sub(f.values) if f.values is not None else T.NullType())


def _spark_struct(f, sub):
    return T.StructType([T.StructField(n, sub(c), nullable=not c.required)
                         for n, c in f.fields.items()])


def _sql_decimal(f, sub):
    return f"DECIMAL({_p(f)},{_s(f)})"


def _avro_decimal(f, sub):
    # the Avro spec requires precision on the decimal logical type
    out: Dict[str, Any] = {"type": "bytes", "logicalType": "decimal",
                           "precision": _p(f)}
    if f.scale is not None:
        out["scale"] = f.scale
    return out


def _avro_array(f, sub):
    return {"type": "array", "items": sub(f.items, "_item")}


def _avro_map(f, sub):
    return {"type": "map", "values": sub(f.values, "_value")}


def _scalar(f: Optional[Field], target: str) -> None:
    """proto3 and BigQuery cannot nest a repeated or map type in another."""
    if f is not None and (f.type or "").lower() in ("array", "map"):
        raise ValueError(f"contract type {f.type!r} has no {target} type as an "
                         "array element or map value")


def _proto_array(f, sub):
    _scalar(f.items, "protobuf")
    return "repeated " + sub(f.items, "_item")


def _proto_map(f, sub):
    _scalar(f.values, "protobuf")
    return f"map<{sub(f.keys)}, {sub(f.values, '_value')}>"


def _bq_array(f, sub):
    # the column's mode becomes REPEATED; its type is the element's
    _scalar(f.items, "bigquery")
    if f.items is not None and (f.items.type or "").lower() in ("object", "record", "struct"):
        return "RECORD"
    return sub(f.items)


def _bq_object(f, sub):
    return "RECORD" if f.fields else "JSON"


def _sa_numeric(f, sub):
    return f"Numeric({', '.join(str(x) for x in (f.precision, f.scale) if x is not None)})"


def _sa_string(base: str) -> Callable:
    return lambda f, sub: base if f.maxLength is None else f"{base}({f.maxLength})"


def _record_or(any_type: str) -> Callable:
    """A struct with children is a named record; one without is free-form."""
    return lambda f, sub: RECORD if f.fields else any_type


def _py_array(f, sub):
    return f"list[{sub(f.items, '_item') if f.items is not None else 'typing.Any'}]"


def _py_map(f, sub):
    return f"dict[{sub(f.keys)}, {sub(f.values, '_value')}]"


def _go_array(f, sub):
    return "[]" + sub(f.items, "_item")


def _go_map(f, sub):
    return "map[string]" + sub(f.values, "_value")


def _idl_decimal(f, sub):
    return f"decimal({_p(f)}, {_s(f)})"


def _idl_array(f, sub):
    return f"array<{sub(f.items, '_item')}>"


def _idl_map(f, sub):
    return f"map<{sub(f.values, '_value')}>"


# -- the table ----------------------------------------------------------------

_JSTR = {"type": "string"}
_JTS = {"type": "string", "format": "date-time"}
_JNUM = {"type": "number"}
_JINT = {"type": "integer"}
_JOBJ = {"type": "object"}
_ATS = {"type": "long", "logicalType": "timestamp-millis"}
_ANTZ = {"type": "long", "logicalType": "local-timestamp-millis"}
_PY_OBJ = _record_or("typing.Any")
_GO_OBJ = _record_or("interface{}")

_TABLE: Dict[Optional[str], tuple] = {
    # type:         spark, jsonschema, sql, avro, protobuf, odcs,
    #               bigquery, sqlalchemy, pydantic, go, avro-idl
    "string":        (T.StringType(), _JSTR, "VARCHAR", "string", "string", "string",
                      "STRING", _sa_string("String"), "str", "string", "string"),
    "text":          (T.StringType(), _JSTR, "VARCHAR", "string", "string", "string",
                      "STRING", _sa_string("Text"), "str", "string", "string"),
    "varchar":       (T.StringType(), _JSTR, "VARCHAR", "string", "string", "string",
                      "STRING", _sa_string("VARCHAR"), "str", "string", "string"),
    "number":        (_spark_decimal, _JNUM, _sql_decimal, _avro_decimal, "string", "number",
                      "NUMERIC", _sa_numeric, "float", "float64", _idl_decimal),
    "decimal":       (_spark_decimal, _JNUM, _sql_decimal, _avro_decimal, "string", "number",
                      "NUMERIC", _sa_numeric, "float", "float64", _idl_decimal),
    "numeric":       (_spark_decimal, _JNUM, _sql_decimal, _avro_decimal, "string", "number",
                      "NUMERIC", _sa_numeric, "float", "float64", _idl_decimal),
    "int":           (T.IntegerType(), _JINT, "INTEGER", "int", "int32", "integer",
                      "INTEGER", "Integer", "int", "int", "int"),
    "integer":       (T.IntegerType(), _JINT, "INTEGER", "int", "int32", "integer",
                      "INTEGER", "Integer", "int", "int", "int"),
    "long":          (T.LongType(), _JINT, "BIGINT", "long", "int64", "integer",
                      "INT64", "BigInteger", "int", "int64", "long"),
    "bigint":        (T.LongType(), _JINT, "BIGINT", "long", "int64", "integer",
                      "INT64", "BigInteger", "int", "int64", "long"),
    "float":         (T.FloatType(), _JNUM, "FLOAT", "float", "float", "number",
                      "FLOAT64", "Float", "float", "float64", "float"),
    "double":        (T.DoubleType(), _JNUM, "DOUBLE", "double", "double", "number",
                      "FLOAT64", "Double", "float", "float64", "double"),
    "boolean":       (T.BooleanType(), {"type": "boolean"}, "BOOLEAN", "boolean", "bool",
                      "boolean", "BOOL", "Boolean", "bool", "bool", "boolean"),
    "timestamp":     (T.TimestampType(), _JTS, "TIMESTAMP", _ATS, "int64", "date",
                      "TIMESTAMP", "TIMESTAMP", "datetime.datetime", "time.Time",
                      "timestamp_ms"),
    "timestamp_tz":  (T.TimestampType(), _JTS, "TIMESTAMP WITH TIME ZONE", _ATS, "int64",
                      "date", "TIMESTAMP", "TIMESTAMP", "datetime.datetime", "time.Time",
                      "timestamp_ms"),
    "timestamp_ntz": (T.TimestampNTZType(), _JTS, "TIMESTAMP", _ANTZ, "int64", "date",
                      "DATETIME", "TIMESTAMP", "datetime.datetime", "time.Time", "timestamp_ms"),
    "date":          (T.DateType(), {"type": "string", "format": "date"}, "DATE",
                      {"type": "int", "logicalType": "date"}, "int32", "date",
                      "DATE", "Date", "datetime.date", "time.Time", "date"),
    "array":         (_spark_array, {"type": "array"}, "ARRAY", _avro_array, _proto_array,
                      "array", _bq_array, "ARRAY", _py_array, _go_array, _idl_array),
    "map":           (_spark_map, _JOBJ, "MAP", _avro_map, _proto_map, None,
                      "JSON", None, _py_map, _go_map, _idl_map),
    "bytes":         (T.BinaryType(), _JSTR, "BLOB", "bytes", "bytes", "array",
                      "BYTES", "LargeBinary", "bytes", "[]byte", "bytes"),
    "object":        (_spark_struct, _JOBJ, "STRUCT", RECORD, RECORD, "object",
                      _bq_object, None, _PY_OBJ, _GO_OBJ, RECORD),
    "record":        (_spark_struct, _JOBJ, "STRUCT", RECORD, RECORD, "object",
                      _bq_object, None, _PY_OBJ, _GO_OBJ, RECORD),
    "struct":        (_spark_struct, _JOBJ, "STRUCT", RECORD, RECORD, "object",
                      "STRUCT", None, _PY_OBJ, _GO_OBJ, RECORD),
    "null":          (T.NullType(), {"type": "null"}, "NULL", "null", None, None,
                      "STRING", None, "None", None, "null"),
    # no type: the field holds any value. JSON Schema and ODCS write no type
    # at all; the other targets write their most permissive spelling, or for
    # Spark and Avro their null type, which Iceberg has no type for.
    None:            (T.NullType(), None, "VARCHAR", "null", "string", None,
                      "STRING", "String", "typing.Any", "interface{}", "string"),
}

_COLUMN = {t: i for i, t in enumerate(TARGETS)}


def target_type(field: Field, target: str,
                record: Optional[Callable[[Field, str], Any]] = None,
                name: str = "") -> Any:
    """How ``target`` spells ``field``'s contract type.

    A field without a type reads the untyped row. ``record(field, name)``
    renders a struct for targets whose cell is, or whose rule returns,
    ``RECORD``; ``name`` is the field's name, suffixed ``_item``/``_value``
    down into array elements and map values so nested records get distinct
    names. A missing element type
    reads as ``string``. Raises ``ValueError`` naming the type and the target
    when the cell is empty."""
    row = _TABLE.get(field.type.lower() if field.type else None)
    cell = row[_COLUMN[target]] if row is not None else None
    if cell is None:
        raise ValueError(f"contract type {field.type!r} has no {target} type")
    if callable(cell):
        cell = cell(field, lambda child, suffix="": target_type(
            _STRING if child is None else child, target, record, name + suffix))
    return record(field, name) if cell is RECORD else cell


# -- the table read backwards -------------------------------------------------

def _spark_simple(dt: T.DataType) -> str:
    return dt.simpleString().split("(")[0].split("<")[0]


# source: (column it inverts, cell -> foreign spelling, the source's synonyms)
_SOURCES: Dict[str, tuple] = {
    "spark": ("spark", lambda c: c.typeName(), {"byte": "integer", "short": "integer"}),
    "hive": ("spark", _spark_simple, {
        "tinyint": "integer", "smallint": "integer", "int": "integer",
        "integer": "integer", "bigint": "long", "long": "long",
        "char": "string", "varchar": "varchar"}),
    "arrow": ("spark", _spark_simple, {
        "large_string": "string", "utf8": "string", "large_utf8": "string",
        "int8": "integer", "int16": "integer", "int32": "integer",
        "uint8": "integer", "uint16": "integer",
        "int64": "long", "uint32": "long", "uint64": "long",
        "halffloat": "float", "bool": "boolean", "date32[day]": "date",
        "date64[ms]": "date", "large_binary": "bytes", "null": "null"}),
    "pandas": (None, None, {
        "object": "string", "string": "string", "int64": "long", "Int64": "long",
        "int32": "integer", "Int32": "integer", "float64": "double",
        "float32": "float", "bool": "boolean", "boolean": "boolean",
        "datetime64[ns]": "timestamp_ntz"}),
    "jsonschema": (None, None, {
        "string": "string", "string/date-time": "timestamp", "string/date": "date",
        "integer": "long", "number": "double", "boolean": "boolean",
        "object": "struct", "array": "array", "null": "null"}),
    "sql": ("sql", lambda c: c.split("(")[0], {
        "CHAR": "string", "CHARACTER": "string", "NCHAR": "string", "STRING": "string",
        "CHARACTER VARYING": "varchar", "NVARCHAR": "varchar", "TEXT": "text",
        "CLOB": "text", "INT": "integer", "SMALLINT": "integer", "TINYINT": "integer",
        "SERIAL": "integer", "BIGSERIAL": "bigint", "REAL": "float",
        "DOUBLE PRECISION": "double", "NUMERIC": "decimal", "NUMBER": "decimal",
        "BOOL": "boolean", "TIMESTAMPTZ": "timestamp_tz",
        "TIMESTAMP WITHOUT TIME ZONE": "timestamp_ntz", "DATETIME": "timestamp",
        "BYTEA": "bytes", "BINARY": "bytes", "VARBINARY": "bytes", "JSON": "object"}),
    "avro": ("avro", lambda c: c if isinstance(c, str) else c.get("logicalType") or c["type"], {
        "timestamp-millis": "timestamp", "timestamp-micros": "timestamp",
        "local-timestamp-micros": "timestamp_ntz", "fixed": "bytes", "enum": "string"}),
    "protobuf": ("protobuf", str, {
        "int32": "integer", "sint32": "integer", "uint32": "integer",
        "fixed32": "integer", "sfixed32": "integer", "int64": "long",
        "sint64": "long", "uint64": "long", "fixed64": "long", "sfixed64": "long"}),
    "bigquery": (None, None, {
        "STRING": "string", "BYTES": "bytes", "INTEGER": "int", "INT64": "bigint",
        "FLOAT": "float", "FLOAT64": "double", "BOOLEAN": "boolean", "BOOL": "boolean",
        "TIMESTAMP": "timestamp", "DATETIME": "timestamp_ntz", "DATE": "date",
        "NUMERIC": "numeric", "BIGNUMERIC": "double",
        "GEOGRAPHY": "object", "JSON": "object"}),
}


@lru_cache(maxsize=None)
def source_types(source: str) -> Dict[str, str]:
    """Every foreign spelling ``source`` knows -> its contract type."""
    column, spell, synonyms = _SOURCES[source]
    shared: Dict[str, list] = {}
    for ctype in DATACONTRACT_TYPES if column else ():
        try:
            key = spell(target_type(Field(type=ctype), column,
                                    record=lambda f, n: "record"))
        except ValueError:
            continue
        shared.setdefault(key, []).append(ctype)
    inverse = {key: key.lower() if key.lower() in ctypes else ctypes[0]
               for key, ctypes in shared.items()
               if len(ctypes) == 1 or key.lower() in ctypes}
    return {**inverse, **synonyms}


def source_type(spelling: str, source: str) -> str:
    """The contract type ``source``'s ``spelling`` names; ``ValueError``
    naming both when the source has no such type."""
    ctype = source_types(source).get(spelling)
    if ctype is None:
        raise ValueError(f"{source} type {spelling!r} has no contract type")
    return ctype
