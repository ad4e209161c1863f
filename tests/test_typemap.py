"""The one contract-type table: every (type, target) cell maps or fails
closed, the exporters and importers round-trip through it, and no
per-format type dict grows back in the export/import modules."""

import ast
import json
import os

import pytest
from hypothesis import HealthCheck, assume, given, settings, strategies as st

import pyspark.sql.types as T

from dcspark.export import export, to_avro_schema, to_iceberg_schema, to_jsonschema
from dcspark.imports import (
    import_contract, import_from_avro, import_from_iceberg, import_from_jsonschema,
    import_from_odcs_v3,
)
from dcspark.spec import (
    DATACONTRACT_TYPES, DataContractSpecification, Field, Model, from_spark_schema,
    to_spark_data_type, to_spark_schema,
)
from dcspark.typemap import _SOURCES, TARGETS, source_type, source_types, target_type

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the (type, target) pairs with no spelling: the target has no such type
EMPTY = {("map", "odcs"), ("null", "odcs"), ("null", "protobuf"), ("null", "go"),
         ("map", "sqlalchemy"), ("object", "sqlalchemy"), ("record", "sqlalchemy"),
         ("struct", "sqlalchemy"), ("null", "sqlalchemy")}


def _example(ctype):
    return Field(type=ctype, precision=10, scale=2, items=Field(type="int"),
                 keys=Field(type="string"), values=Field(type="long"),
                 fields={"a": Field(type="int", required=True)})


@pytest.mark.parametrize("target", TARGETS)
@pytest.mark.parametrize("ctype", DATACONTRACT_TYPES)
def test_every_cell_maps_or_names_type_and_target(ctype, target):
    if (ctype, target) in EMPTY:
        with pytest.raises(ValueError) as e:
            target_type(_example(ctype), target, lambda f, name: "Rec", "f")
        assert repr(ctype) in str(e.value) and target in str(e.value)
    else:
        assert target_type(_example(ctype), target, lambda f, name: "Rec", "f")


@pytest.mark.parametrize("target", TARGETS)
def test_undeclared_type_raises_for_every_target(target):
    with pytest.raises(ValueError, match=f"'wat' has no {target} type"):
        target_type(Field(type="wat"), target, lambda f, name: "Rec")


def test_odcs_export_raises_on_undeclared_type():
    spec = DataContractSpecification.from_string(
        "id: o\nmodels:\n  m:\n    fields:\n      f: {type: wat}\n")
    with pytest.raises(ValueError, match="'wat' has no odcs type"):
        export(spec, "odcs")


#: an untyped field holds any value; each target's spelling of it
UNTYPED = {"spark": T.NullType(), "sql": "VARCHAR", "avro": "null", "protobuf": "string",
           "bigquery": "STRING", "sqlalchemy": "String", "pydantic": "typing.Any",
           "go": "interface{}", "avro-idl": "string"}


@pytest.mark.parametrize("target", TARGETS)
def test_untyped_field_spelling(target):
    if target in UNTYPED:
        assert target_type(Field(), target) == UNTYPED[target]
    else:  # JSON Schema and ODCS write no type at all
        with pytest.raises(ValueError, match=f"None has no {target} type"):
            target_type(Field(), target)


def test_untyped_json_schema_property_exports_as_any():
    spec = import_from_jsonschema({"type": "object", "properties": {"f": {}}})
    assert "f: typing.Optional[typing.Any] = None" in export(spec, "pydantic-model")
    assert "F *interface{}" in export(spec, "go")
    assert to_jsonschema(_model(spec))["properties"]["f"] == {}


@pytest.mark.parametrize("ctype", ["object", "record", "struct"])
def test_struct_without_children_is_free_form(ctype):
    rec = lambda f, name: "Rec"  # noqa: E731
    assert target_type(Field(type=ctype), "pydantic", rec) == "typing.Any"
    assert target_type(Field(type=ctype), "go", rec) == "interface{}"
    nested = Field(type=ctype, fields={"a": Field(type="int")})
    assert target_type(nested, "pydantic", rec) == target_type(nested, "go", rec) == "Rec"


def test_avro_reads_unknown_logical_type_as_its_base_type():
    doc = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": {"type": "string", "logicalType": "uuid"}},
        {"name": "t_ms", "type": {"type": "int", "logicalType": "time-millis"}},
        {"name": "t_us", "type": {"type": "long", "logicalType": "time-micros"}},
        {"name": "ns", "type": {"type": "long", "logicalType": "timestamp-nanos"}},
        {"name": "d", "type": {"type": "fixed", "size": 12, "name": "d",
                               "logicalType": "duration"}},
        {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-millis"}},
    ]}
    fields = import_from_avro(doc).models["r"].fields
    assert {n: f.type for n, f in fields.items()} == {
        "id": "string", "t_ms": "int", "t_us": "long", "ns": "long", "d": "bytes",
        "ts": "timestamp"}


@pytest.mark.parametrize("source", sorted(s for s, (column, _, _) in _SOURCES.items() if column))
def test_every_exported_spelling_imports_without_table_order(source):
    """A spelling several types share imports as the type of the same name
    or as a listed synonym; reading the table in reverse changes nothing."""
    column, spell, synonyms = _SOURCES[source]
    shared = {}
    for ctype in DATACONTRACT_TYPES:
        try:
            key = spell(target_type(Field(type=ctype), column, lambda f, n: "record"))
        except ValueError:
            continue
        shared.setdefault(key, set()).add(ctype)
        assert key in source_types(source), (source, ctype, key)
    for key, ctypes in shared.items():
        assert source_types(source)[key] in ctypes | {synonyms.get(key)}
        assert len(ctypes) == 1 or key.lower() in ctypes or key in synonyms, (source, key)


def test_bigquery_and_jsonschema_import_spellings():
    for ctype in DATACONTRACT_TYPES:  # every spelling the exporters write is listed
        bq = target_type(_example(ctype), "bigquery", lambda f, n: "RECORD")
        assert bq in source_types("bigquery") or bq in ("RECORD", "STRUCT"), ctype
        js = target_type(_example(ctype), "jsonschema")
        assert "/".join(filter(None, (js["type"], js.get("format")))) in source_types("jsonschema")
    assert source_types("bigquery")["INT64"] == "bigint"
    assert source_types("bigquery")["INTEGER"] == "int"
    assert source_types("jsonschema")["integer"] == "long"
    assert source_types("jsonschema")["string/date-time"] == "timestamp"


def test_bigquery_zone_less_timestamp_is_datetime():
    """BigQuery's zone-less timestamp is DATETIME; TIME is a time of day,
    which no contract type names, so it fails closed."""
    assert target_type(Field(type="timestamp_ntz"), "bigquery") == "DATETIME"
    assert source_type("DATETIME", "bigquery") == "timestamp_ntz"
    with pytest.raises(ValueError, match="bigquery type 'TIME'"):
        source_type("TIME", "bigquery")


def test_unknown_foreign_type_raises():
    with pytest.raises(ValueError, match="protobuf type 'google.Any'"):
        source_type("google.Any", "protobuf")
    with pytest.raises(ValueError, match="'VARIANT'"):
        import_contract("sql", "CREATE TABLE t (a VARIANT);")
    with pytest.raises(ValueError, match="unknown iceberg type 'geometry'"):
        import_from_iceberg({"fields": [
            {"id": 1, "name": "g", "required": False, "type": "geometry"}]})


def test_iceberg_exports_nested_types():
    model = DataContractSpecification.from_string("""
models:
  m:
    primaryKey: [k]
    fields:
      s: {type: struct, fields: {a: {type: int}}}
      k: {type: string, required: true}
      m: {type: map, keys: {type: string}, values: {type: double}}
""").models["m"]
    ice = to_iceberg_schema(model)
    by_name = {f["name"]: f for f in ice["fields"]}
    assert by_name["s"]["type"]["type"] == "struct"
    assert by_name["m"]["type"]["type"] == "map"
    assert ice["identifier-field-ids"] == [by_name["k"]["id"]]
    back = import_from_iceberg(ice, model_name="m").models["m"]
    assert to_spark_schema(back) == to_spark_schema(model)
    assert back.primaryKey == ["k"] and back.fields["k"].primaryKey


def test_dbml_import_keeps_decimal_columns():
    spec = import_contract("dbml", 'Table "t" {\n  "amt" "DECIMAL(10,2)" [not null]\n'
                                   '  "id" "VARCHAR" [pk]\n}\n')
    amt = spec.models["t"].fields["amt"]
    assert (amt.type, amt.precision, amt.scale, amt.required) == ("decimal", 10, 2, True)
    with pytest.raises(ValueError, match="amt: decimal"):
        import_contract("dbml", 'Table "t" {\n  amt: decimal\n}\n')


def test_odcs_import_prefers_physical_type():
    spec = DataContractSpecification.from_string("""
id: o
models:
  m:
    fields:
      ts: {type: timestamp}
      amt: {type: decimal, precision: 10, scale: 2}
      kv: {type: map, keys: {type: string}, values: {type: string}}
      nothing: {type: "null"}
""")
    back = import_from_odcs_v3(export(spec, "odcs")).models["m"].fields
    assert back["ts"].type == "timestamp"
    assert (back["amt"].type, back["amt"].precision, back["amt"].scale) == ("decimal", 10, 2)
    assert back["kv"].type == "map" and back["nothing"].type == "null"


# ---------------------------------------------------------------------------
# round trips: export(import(export(c))) == export(c), and the Spark type of
# every field survives except the format's listed lossy types
# ---------------------------------------------------------------------------

def _model(spec):
    return next(iter(spec.models.values()))


def _spec(model):
    return DataContractSpecification(id="c", models={"m": model})


#: format -> (export model -> text, import text -> model, contract types that
#: do not keep their Spark type, each with the reason)
FORMATS = {
    "avro": (lambda m: json.dumps(to_avro_schema("m", m)),
             lambda s: _model(import_from_avro(json.loads(s))),
             {"map-key"}),  # Avro map keys are strings
    "jsonschema": (lambda m: json.dumps(to_jsonschema(m)),
                   lambda s: _model(import_from_jsonschema(json.loads(s))),
                   {"int", "integer",  # integer reads back as long
                    "number", "decimal", "numeric", "float",  # number reads back as double
                    "timestamp_ntz",  # date-time reads back as timestamp
                    "bytes",  # a plain string
                    "map-key"}),  # object keys are strings
    "iceberg": (lambda m: json.dumps(to_iceberg_schema(m)),
                lambda s: _model(import_from_iceberg(json.loads(s))), set()),
    "bigquery": (lambda m: export(_spec(m), "bigquery"),
                 lambda s: _model(import_contract("bigquery", s)),
                 {"float",  # FLOAT64 reads back as double
                  "null",  # written as STRING
                  "map"}),  # written as JSON
    "sql": (lambda m: export(_spec(m), "sql"),
            lambda s: _model(import_contract("sql", s)),
            {"array", "map", "object", "record", "struct",  # bare ARRAY/MAP/STRUCT
             "timestamp_ntz"}),  # TIMESTAMP reads back as timestamp
    "dbml": (lambda m: export(_spec(m), "dbml"),
             lambda s: _model(import_contract("dbml", s)),
             {"array", "map", "object", "record", "struct", "timestamp_ntz"}),
    "protobuf": (lambda m: export(_spec(m), "protobuf"),
                 lambda s: _model(import_contract("protobuf", s)),
                 {"number", "decimal", "numeric",  # decimals as string
                  "timestamp", "timestamp_tz", "timestamp_ntz",  # epoch int64
                  "date"}),  # epoch-day int32
    "odcs": (lambda m: export(_spec(m), "odcs"),
             lambda s: _model(import_from_odcs_v3(s)),
             {"array", "map", "object", "record", "struct"}),  # children not exported
    "spark": (lambda m: json.dumps(to_spark_schema(m).jsonValue()),
              lambda s: from_spark_schema(T.StructType.fromJson(json.loads(s))), set()),
}

#: the target whose empty cells a format cannot be asked to write
TARGET_OF = {"avro": "avro", "jsonschema": "jsonschema", "iceberg": "spark",
             "bigquery": "bigquery", "sql": "sql", "dbml": "sql",
             "protobuf": "protobuf", "odcs": "odcs", "spark": "spark"}

SCALARS = [t for t in DATACONTRACT_TYPES
           if t not in ("array", "map", "object", "record", "struct")]
STRINGS = ("string", "text", "varchar")


def _fields(fmt, depth):
    target = TARGET_OF[fmt]
    scalars = [t for t in SCALARS if (t, target) not in EMPTY
               and not (fmt == "iceberg" and t == "null")]  # Iceberg has no null type

    def scalar(t, p_s):
        p, s = p_s
        if t in ("number", "decimal", "numeric"):
            return Field(type=t, precision=p, scale=s)
        return Field(type=t)

    decimals = st.one_of(st.just((None, None)), st.integers(1, 38).flatmap(
        lambda p: st.tuples(st.just(p), st.integers(0, p))))
    leaf = st.builds(scalar, st.sampled_from(scalars), decimals)
    if depth == 0:
        return leaf
    inner = _fields(fmt, depth - 1)
    nested = [
        st.builds(lambda i: Field(type="array", items=i), inner),
        st.builds(lambda k, v: Field(type="map", keys=Field(type=k), values=v),
                  st.sampled_from(["string", "int", "long"]), inner),
        st.builds(lambda t, kids: Field(type=t, fields={
            f"s{i}": k for i, k in enumerate(kids)}),
            st.sampled_from(["object", "record", "struct"]),
            st.lists(_required(inner), max_size=3)),
    ]
    return st.one_of(leaf, *nested)


def _required(fields):
    return st.builds(lambda f, r: f.model_copy(update={"required": r}),
                     fields, st.sampled_from([None, True, False]))


def _models(fmt):
    return st.builds(lambda kids: Model(fields={f"c{i}": k for i, k in enumerate(kids)}),
                     st.lists(_required(_fields(fmt, 2)), min_size=1, max_size=4))


def _types(f):
    """Every contract type in ``f``'s tree, plus ``map-key`` for a map
    whose keys are not strings."""
    out = {(f.type or "null").lower()}
    if out == {"map"} and (f.keys.type if f.keys else "string") not in STRINGS:
        out.add("map-key")
    for child in [f.items, f.keys, f.values, *f.fields.values()]:
        if child is not None:
            out |= _types(child)
    return out


def _loose(dt):
    """``dt`` with every nullability flag set: formats differ in which
    nested levels carry ``required``; the property compares types."""
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _loose(f.dataType)) for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_loose(dt.elementType))
    if isinstance(dt, T.MapType):
        return T.MapType(_loose(dt.keyType), _loose(dt.valueType))
    return dt


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_round_trip_property(fmt):
    dump, load, lossy = FORMATS[fmt]

    @settings(max_examples=100, deadline=None, derandomize=True, database=None,
              suppress_health_check=list(HealthCheck))
    @given(model=_models(fmt))
    def case(model):
        try:
            text = dump(model)
        except ValueError:
            assume(False)  # an array or map nested where proto3 or BigQuery cannot
        back = load(text)
        assert dump(back) == text
        assert list(back.fields) == list(model.fields)
        for name, f in model.fields.items():
            if not _types(f) & lossy:
                assert _loose(to_spark_data_type(back.fields[name])) == \
                    _loose(to_spark_data_type(f)), (name, text)

    case()


# ---------------------------------------------------------------------------
# source guard: no per-format type dict outside dcspark/typemap.py
# ---------------------------------------------------------------------------

GUARDED = ["export.py", "export_extra.py", "imports.py", "imports_extra.py", "spec.py"]


def type_dicts(source):
    """Line numbers of dict literals whose keys, compared case-insensitively,
    include three or more contract type names."""
    names = set(DATACONTRACT_TYPES)
    return [node.lineno for node in ast.walk(ast.parse(source))
            if isinstance(node, ast.Dict)
            and len({k.value.lower() for k in node.keys
                     if isinstance(k, ast.Constant) and isinstance(k.value, str)}
                    & names) >= 3]


def test_guard_detects_the_old_shapes():
    src = '''
_SQL_TYPES = {"string": "VARCHAR", "int": "INTEGER", "date": "DATE"}
_BQ_TO_CONTRACT = {"STRING": "string", "BYTES": "bytes", "DATE": "date", "INT64": "bigint"}
_NOT_TYPES = {"name": 1, "string": 2, "format": 3}

def f():
    return {"TIMESTAMP": 1, "Bytes": 2, "null": 3}
'''
    assert type_dicts(src) == [2, 3, 7]


@pytest.mark.parametrize("module", GUARDED)
def test_type_spellings_live_in_typemap(module):
    with open(os.path.join(ROOT, "dcspark", module), encoding="utf-8") as f:
        assert type_dicts(f.read()) == []
