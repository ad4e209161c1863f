"""Contract model, $ref inlining, type mapping, period parsing — no Spark needed."""

import pyspark.sql.types as T
import pytest

from dcspark.spec import (
    DataContractSpecification, Field, Model,
    to_spark_data_type, to_spark_schema, from_spark_schema,
)
from dcspark.compile import period_to_seconds

CONTRACT = """
dataContractSpecification: 1.1.0
id: t
info: {title: T, version: 0.0.1, owner: x}
definitions:
  money:
    type: decimal
    precision: 10
    scale: 2
    minimum: 0
models:
  tbl:
    type: table
    fields:
      a: {type: string, required: true, unique: true, pattern: "^x"}
      b: {type: int, minimum: 5, maximum: 9}
      c: {$ref: "#/definitions/money", maximum: 100}
      d: {type: array, items: {type: long}}
      e: {type: struct, fields: {e1: {type: string}, e2: {type: double}}}
      f: {type: map, keys: {type: string}, values: {type: int}}
"""


def test_yaml_parse_and_ref_inline():
    spec = DataContractSpecification.from_string(CONTRACT)
    assert spec.id == "t"
    c = spec.models["tbl"].fields["c"]
    # $ref inlined: definition values present, field-local override wins
    assert c.type == "decimal" and c.precision == 10 and c.scale == 2
    assert c.minimum == 0 and c.maximum == 100 and c.ref is None


def test_type_mapping_parity():
    # parity: /root/reference/datacontract/export/spark_converter.py:110-153
    assert to_spark_data_type(Field(type="varchar")) == T.StringType()
    assert to_spark_data_type(Field(type="number")) == T.DecimalType(38, 0)
    assert to_spark_data_type(Field(type="decimal", precision=10, scale=2)) == T.DecimalType(10, 2)
    assert to_spark_data_type(Field(type="int")) == T.IntegerType()
    assert to_spark_data_type(Field(type="bigint")) == T.LongType()
    assert to_spark_data_type(Field(type="timestamp_tz")) == T.TimestampType()
    assert to_spark_data_type(Field(type="timestamp_ntz")) == T.TimestampNTZType()
    assert to_spark_data_type(Field(type="bytes")) == T.BinaryType()
    assert to_spark_data_type(Field(type="array", items=Field(type="int"))) == T.ArrayType(T.IntegerType())
    with pytest.raises(ValueError, match="'weird\\?' has no spark type"):
        to_spark_data_type(Field(type="weird?"))  # undeclared types fail closed


def test_schema_roundtrip():
    spec = DataContractSpecification.from_string(CONTRACT)
    schema = to_spark_schema(spec.models["tbl"])
    assert schema["a"].nullable is False  # required -> not nullable
    assert schema["b"].nullable is True
    assert isinstance(schema["e"].dataType, T.StructType)
    assert isinstance(schema["f"].dataType, T.MapType)
    back = from_spark_schema(schema)
    assert back.fields["a"].required is True
    assert back.fields["d"].items.type == "long"


@pytest.mark.parametrize("period,expected", [
    ("30d", 30 * 86400), ("24h", 86400), ("60m", 3600), ("45s", 45),
    ("1w", 604800), ("1y", 31536000),
    ("P1D", 86400), ("PT24H", 86400), ("P1DT2H30M", 86400 + 9000), ("PT30S", 30),
])
def test_period_to_seconds(period, expected):
    # semantics parity: data_contract_checks.py:674-712
    assert period_to_seconds(period) == expected


def test_period_invalid():
    with pytest.raises(ValueError):
        period_to_seconds("eventually")


ODCS_V3 = """
apiVersion: v3.0.1
kind: DataContract
id: odcs-audio
name: Audio Clips ODCS
version: 2.0.0
description: {purpose: validate audio clips}
schema:
  - name: AudioClips
    physicalName: audio_clips
    description: clips table
    properties:
      - name: clip_id
        logicalType: string
        required: true
        unique: true
        primaryKey: true
      - name: sr_hz
        logicalType: integer
        required: true
        quality:
          - type: sql
            query: "SELECT count(*) FROM {model} WHERE sr_hz <= 0"
            mustBe: 0
      - name: weird
        logicalType: hyperloglog++   # unmappable -> skipped
  - name: Pairs
    properties:
      - {name: a, logicalType: string, primaryKey: true}
      - {name: b, logicalType: string, primaryKey: true}
"""


def test_odcs_v3_auto_detect_from_string():
    """An ODCS v3 document loads through the normal from_string path
    (parity: lint/resolve.py:248-252 auto-import branch)."""
    spec = DataContractSpecification.from_string(ODCS_V3)
    assert spec.id == "odcs-audio"
    assert spec.info.title == "Audio Clips ODCS" and spec.info.version == "2.0.0"
    assert spec.info.description == "validate audio clips"

    m = spec.models["audio_clips"]          # physicalName wins
    assert m.title == "AudioClips"
    assert m.fields["clip_id"].required and m.fields["clip_id"].unique
    assert m.fields["clip_id"].primaryKey
    assert m.fields["sr_hz"].type == "integer"
    assert m.fields["sr_hz"].quality[0].mustBe == 0
    assert "weird" not in m.fields          # unmappable logical type skipped

    pairs = spec.models["Pairs"]            # composite PK -> model-level list
    assert pairs.primaryKey == ["a", "b"]
    assert not pairs.fields["a"].primaryKey


def test_odcs_v3_checks_compile():
    """The converted spec runs through the check compiler like a native one."""
    from dcspark.compile import create_checks

    spec = DataContractSpecification.from_string(ODCS_V3)
    keys = {c.key for c in create_checks(spec)["audio_clips"]}
    assert "audio_clips__clip_id__field_required" in keys
    assert "audio_clips__clip_id__field_unique" in keys
    assert any("quality_sql" in k for k in keys)
