"""Contract object model + YAML resolution + contract-type -> Spark type mapping.

Shape parity with the reference's pydantic model
(/root/reference/datacontract/model/data_contract_specification.py:52-327) and its
authoritative contract-type -> Spark mapping
(/root/reference/datacontract/export/spark_converter.py:110-153), re-expressed from
scratch for a PySpark-native engine. Pure driver code; no Spark session needed to
load or lint a contract.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional, Union

import yaml
from pydantic import BaseModel, ConfigDict, Field as PydanticField

import pyspark.sql.types as T

# Declared type vocabulary (parity:
# /root/reference/datacontract/model/data_contract_specification.py:7-31, plus "map").
DATACONTRACT_TYPES = [
    "string", "text", "varchar",
    "number", "decimal", "numeric",
    "int", "integer", "long", "bigint",
    "float", "double",
    "boolean",
    "timestamp", "timestamp_tz", "timestamp_ntz", "date",
    "array", "map", "bytes",
    "object", "record", "struct",
    "null",
]


class Quality(BaseModel):
    """A quality rule. Reference shape: data_contract_specification.py:124-142.

    ``type`` values executed by this engine: "sql" (scalar query + threshold),
    plus engine extensions "drift" (method: ks|psi) and "audio"
    (invariant: decode-conformance). Threshold family mirrors the reference's
    eight mustBe* forms.
    """

    model_config = ConfigDict(extra="allow")

    type: Optional[str] = None
    description: Optional[str] = None
    query: Optional[str] = None
    mustBe: Optional[Any] = None
    mustNotBe: Optional[Any] = None
    mustBeGreaterThan: Optional[float] = None
    mustBeGreaterThanOrEqualTo: Optional[float] = None
    mustBeLessThan: Optional[float] = None
    mustBeLessThanOrEqualTo: Optional[float] = None
    mustBeBetween: Optional[List[float]] = None
    mustNotBeBetween: Optional[List[float]] = None
    # engine extensions (SURVEY.md §2.5)
    method: Optional[str] = None        # drift: "ks" | "psi"
    column: Optional[str] = None        # drift target column
    threshold: Optional[float] = None   # drift threshold
    metric: Optional[str] = None        # metric/group: "count"|"sum"|"avg"|"min"|"max" (+"stddev" for metric)
    over: Optional[str] = None          # group: column the per-group metric aggregates
    expression: Optional[str] = None    # expression: row-level SQL boolean invariant
    invariant: Optional[str] = None     # audio: "decode-conformance" | "transcript-equality"
    snr_db: Optional[float] = None      # audio SNR floor (default 30)
    minimum: Optional[float] = None     # audio signal-quality: feature lower bound
    maximum: Optional[float] = None     # audio signal-quality: feature upper bound
    accuracy: Optional[int] = None      # metric pNN: quantile-sketch accuracy
                                        # (rank error <= n/accuracy; default 10000)
    ref: Optional[str] = None           # transcript-equality: reference model name
    key: Optional[str] = None           # transcript-equality: join key (default clip_id)
    ref_column: Optional[str] = None    # transcript-equality: reference text column
    # SodaCL-style per-check row scope: a SQL boolean expression; rows where
    # it is FALSE or NULL are out of scope for this rule (metric aggregates,
    # expression invariants, and group thresholds). The reference reaches
    # this only through hand-written SodaCL; here it is first-class.
    filter: Optional[str] = None
    # history checks (method: change | anomaly over the engine's results table)
    watch: Optional[str] = None         # history: watched check key or check_type shorthand
    window: Optional[int] = None        # history: trailing runs in the baseline frame
    agg: Optional[str] = None           # history change: avg|median|min|max|last baseline
    min_history: Optional[int] = None   # history: runs required before the rule can fail


class Field(BaseModel):
    """A column with constraints. Reference shape: data_contract_specification.py:145-187."""

    model_config = ConfigDict(extra="allow", populate_by_name=True)

    type: Optional[str] = None
    title: Optional[str] = None
    description: Optional[str] = None
    required: Optional[bool] = None
    unique: Optional[bool] = None
    primaryKey: Optional[bool] = None
    references: Optional[str] = None
    pattern: Optional[str] = None
    format: Optional[str] = None
    minLength: Optional[int] = None
    maxLength: Optional[int] = None
    # int BEFORE float in the union: pydantic tries members left to right,
    # so integral YAML bounds stay exact ints — a bare float type would
    # round a 64-bit id bound past 2^53 and the compiled range check (and
    # suggest's round-trip guarantee) would silently compare against the
    # wrong value
    minimum: Optional[Union[int, float]] = None
    maximum: Optional[Union[int, float]] = None
    exclusiveMinimum: Optional[Union[int, float]] = None
    exclusiveMaximum: Optional[Union[int, float]] = None
    enum: Optional[List[Any]] = None
    precision: Optional[int] = None
    scale: Optional[int] = None
    pii: Optional[bool] = None
    classification: Optional[str] = None
    fields: Dict[str, "Field"] = {}
    items: Optional["Field"] = None
    keys: Optional["Field"] = None
    values: Optional["Field"] = None
    quality: List[Quality] = []
    # engine extension: SQL boolean row scope applied to every CONSTRAINT
    # check of this field (required/unique/length/range/enum/regex/format/
    # references) — rows where it is FALSE or NULL are out of scope. The
    # field's own quality rules take their scope from Quality.filter instead.
    filter: Optional[str] = None
    ref: Optional[str] = PydanticField(default=None, alias="$ref")
    config: Dict[str, Any] = {}


class Definition(Field):
    """Reusable field definition, inlined via $ref (reference: lint/resolve.py:75-101)."""

    name: Optional[str] = None
    domain: Optional[str] = None


class Model(BaseModel):
    """A table. Reference shape: data_contract_specification.py:190-204."""

    model_config = ConfigDict(extra="allow")

    type: Optional[str] = "table"
    title: Optional[str] = None
    description: Optional[str] = None
    fields: Dict[str, Field] = {}
    quality: List[Quality] = []
    primaryKey: List[str] = []
    config: Dict[str, Any] = {}
    # engine extension — SodaCL "dataset filter" analog: a SQL boolean scoping
    # EVERY check of this model to matching rows (e.g. the current ingest date
    # partition). Pushed into the scan, so partition pruning applies; at
    # 10^12 rows this is how a contract validates a slice instead of history.
    filter: Optional[str] = None


class Server(BaseModel):
    """A connection. Reference shape: data_contract_specification.py:52-80."""

    model_config = ConfigDict(extra="allow", populate_by_name=True)

    type: Optional[str] = None
    format: Optional[str] = None
    path: Optional[str] = None
    location: Optional[str] = None
    catalog: Optional[str] = None
    schema_: Optional[str] = PydanticField(default=None, alias="schema")
    topic: Optional[str] = None
    delimiter: Optional[str] = None
    # warehouse/JDBC connections (parity: engines/soda/connections/*.py)
    host: Optional[str] = None
    port: Optional[int] = None
    database: Optional[str] = None
    dataset: Optional[str] = None
    project: Optional[str] = None
    account: Optional[str] = None
    driver: Optional[str] = None


class Freshness(BaseModel):
    model_config = ConfigDict(extra="allow")
    threshold: Optional[str] = None
    timestampField: Optional[str] = None


class Retention(BaseModel):
    model_config = ConfigDict(extra="allow")
    period: Optional[str] = None
    timestampField: Optional[str] = None
    unlimited: Optional[bool] = None


class ServiceLevel(BaseModel):
    """Reference shape: data_contract_specification.py:279-286."""

    model_config = ConfigDict(extra="allow")
    freshness: Optional[Freshness] = None
    retention: Optional[Retention] = None


class Info(BaseModel):
    model_config = ConfigDict(extra="allow")
    title: Optional[str] = None
    version: Optional[str] = None
    owner: Optional[str] = None
    description: Optional[str] = None


class DataContractSpecification(BaseModel):
    """Contract root. Reference shape: data_contract_specification.py:289-327."""

    model_config = ConfigDict(extra="allow")

    dataContractSpecification: Optional[str] = None
    id: Optional[str] = None
    info: Optional[Info] = None
    servers: Dict[str, Server] = {}
    models: Dict[str, Model] = {}
    definitions: Dict[str, Definition] = {}
    servicelevels: Optional[ServiceLevel] = None
    quality: Optional[Any] = None  # deprecated root quality passthrough

    @classmethod
    def from_string(cls, text: str) -> "DataContractSpecification":
        return resolve_data_contract_from_dict(yaml.safe_load(text))

    @classmethod
    def from_file(cls, path: str) -> "DataContractSpecification":
        with open(path, "r", encoding="utf-8") as f:
            return cls.from_string(f.read())


def _inline_refs(spec: DataContractSpecification) -> None:
    """Inline $ref definitions into fields (reference: lint/resolve.py:75-101).

    Supports local refs of the form ``#/definitions/<name>``. Field-local values
    win over definition values (the field overrides the definition).
    """

    def resolve_field(field: Field) -> None:
        if field.ref and field.ref.startswith("#/definitions/"):
            name = field.ref.split("/")[-1]
            definition = spec.definitions.get(name)
            if definition is not None:
                merged = definition.model_dump(exclude_none=True, exclude_defaults=True)
                merged.pop("name", None)
                merged.pop("domain", None)
                own = field.model_dump(exclude_none=True, exclude_defaults=True, by_alias=False)
                own.pop("ref", None)
                merged.update(own)
                resolved = Field(**merged)
                for attr in resolved.model_fields_set:
                    setattr(field, attr, getattr(resolved, attr))
                field.ref = None
        for child in field.fields.values():
            resolve_field(child)
        if field.items is not None:
            resolve_field(field.items)

    for model in spec.models.values():
        for field in model.fields.values():
            resolve_field(field)


def is_open_data_contract_standard(data: dict) -> bool:
    """ODCS v3 document detection (parity: model/odcs.py:1-11)."""
    return (
        isinstance(data, dict)
        and data.get("kind") == "DataContract"
        and str(data.get("apiVersion", "")).startswith("v3")
    )


def resolve_data_contract_from_dict(data: dict) -> DataContractSpecification:
    if is_open_data_contract_standard(data):
        # ODCS v3 auto-detect (parity: lint/resolve.py:248-252) — convert to
        # the internal spec instead of parsing as a native contract
        from .imports import import_from_odcs_v3

        return import_from_odcs_v3(data)
    spec = DataContractSpecification(**data)
    _inline_refs(spec)
    return spec


def to_spark_data_type(field: Field) -> T.DataType:
    """Contract type -> Spark type, read from the one type table
    (``typemap``); an undeclared type raises ``ValueError``."""
    from .typemap import target_type

    return target_type(field, "spark")


def to_spark_schema(model: Model) -> T.StructType:
    """Contract model -> StructType (nullability = not required; spark_converter.py:107)."""
    return T.StructType(
        [
            T.StructField(name, to_spark_data_type(field), nullable=not bool(field.required))
            for name, field in model.fields.items()
        ]
    )


def resolve_schema_field(schema: T.StructType, path: str) -> Optional[T.StructField]:
    """Resolve a (possibly dotted) field path against a schema -> StructField.

    ``a.b.c`` walks nested StructTypes; returns None when any segment is
    missing or a non-struct is traversed. Powers nested-field constraints
    (the reference's native engine is top-level-only)."""
    current: T.DataType = schema
    found: Optional[T.StructField] = None
    for part in path.split("."):
        if not isinstance(current, T.StructType):
            return None
        found = next((f for f in current.fields if f.name == part), None)
        if found is None:
            return None
        current = found.dataType
    return found


def from_spark_schema(schema: T.StructType) -> Model:
    """Spark StructType -> contract Model: the type table read backwards
    (parity: imports/spark_importer.py:115-158). A Spark type the table
    has no contract type for raises ``ValueError``."""
    from .typemap import source_type

    def from_dtype(dtype: T.DataType, nullable: bool = True) -> Field:
        f = Field(type=source_type(dtype.typeName(), "spark"))
        if not nullable:
            f.required = True
        if isinstance(dtype, T.DecimalType):
            f.precision, f.scale = dtype.precision, dtype.scale
        elif isinstance(dtype, T.ArrayType):
            f.items = from_dtype(dtype.elementType)
        elif isinstance(dtype, T.MapType):
            f.keys, f.values = from_dtype(dtype.keyType), from_dtype(dtype.valueType)
        elif isinstance(dtype, T.StructType):
            f.fields = {c.name: from_dtype(c.dataType, c.nullable) for c in dtype.fields}
        return f

    return Model(type="table", fields={
        sf.name: from_dtype(sf.dataType, sf.nullable) for sf in schema.fields})


def model_pk(spec: "DataContractSpecification", model_name: str, df) -> str:
    """The column that identifies a row of ``model_name``: the model-level
    primaryKey's first column, else the first field declaring
    ``primaryKey: true``, else the frame's first column. Shared by the
    engine's media passes and the CLI snapshot command so both label
    decoded frames with the same id."""
    model = spec.models.get(model_name)
    if model:
        if model.primaryKey:
            return model.primaryKey[0]
        for fname, f_ in model.fields.items():
            if f_.primaryKey:
                return fname
    return df.columns[0]
