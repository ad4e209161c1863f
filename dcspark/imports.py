"""Schema importers: build a contract from existing data/schemas.

Parity targets (the formats our engine needs of the reference's 14,
SURVEY.md §2.4): a live Spark DataFrame/StructType
(imports/spark_importer.py:33-69), a parquet footer
(imports/parquet_importer.py), and CSV header sniffing
(imports/csv_importer.py:20-25). Importing never starts a Spark job — parquet
uses the pyarrow footer, CSV uses a bounded pandas sniff.
"""

from __future__ import annotations

import os
import re
from typing import Dict, List, Optional

from .spec import (
    DataContractSpecification,
    Field,
    Info,
    Model,
    from_spark_schema,
)
from .typemap import source_type, source_types


def _base_spec(contract_id: str, title: str) -> DataContractSpecification:
    return DataContractSpecification(
        dataContractSpecification="1.1.0",
        id=contract_id,
        info=Info(title=title, version="0.0.1"),
    )


def import_from_spark(df_or_schema, model_name: str = "imported",
                      contract_id: str = "imported") -> DataContractSpecification:
    """DataFrame or StructType -> contract (parity: spark_importer.py:33-50)."""
    schema = df_or_schema.schema if hasattr(df_or_schema, "schema") else df_or_schema
    spec = _base_spec(contract_id, model_name)
    spec.models[model_name] = from_spark_schema(schema)
    return spec


def _arrow_field_to_contract(arrow_type) -> Field:
    import pyarrow as pa

    if pa.types.is_timestamp(arrow_type):
        return Field(type="timestamp" if arrow_type.tz else "timestamp_ntz")
    if pa.types.is_decimal(arrow_type):
        return Field(type="decimal", precision=arrow_type.precision, scale=arrow_type.scale)
    if pa.types.is_list(arrow_type) or pa.types.is_large_list(arrow_type):
        return Field(type="array", items=_arrow_field_to_contract(arrow_type.value_type))
    if pa.types.is_map(arrow_type):
        return Field(
            type="map",
            keys=_arrow_field_to_contract(arrow_type.key_type),
            values=_arrow_field_to_contract(arrow_type.item_type),
        )
    if pa.types.is_struct(arrow_type):
        return Field(type="struct", fields={
            arrow_type.field(i).name: _arrow_field_to_contract(arrow_type.field(i).type)
            for i in range(arrow_type.num_fields)
        })
    return Field(type=source_type(str(arrow_type), "arrow"))


def import_from_parquet(path: str, model_name: Optional[str] = None,
                        contract_id: str = "imported") -> DataContractSpecification:
    """Parquet footer -> contract; no data read (parity: parquet_importer.py)."""
    import pyarrow.parquet as pq

    name = model_name or os.path.splitext(os.path.basename(path.rstrip("/")))[0]
    arrow_schema = pq.read_schema(path)
    spec = _base_spec(contract_id, name)
    fields: Dict[str, Field] = {}
    for f in arrow_schema:
        cf = _arrow_field_to_contract(f.type)
        if not f.nullable:
            cf.required = True
        fields[f.name] = cf
    spec.models[name] = Model(type="table", fields=fields)
    return spec


def import_from_csv(path: str, model_name: Optional[str] = None,
                    delimiter: str = ",", sniff_rows: int = 1000,
                    contract_id: str = "imported") -> DataContractSpecification:
    """CSV header + bounded type sniff -> contract (parity: csv_importer.py:20-25)."""
    import pandas as pd

    name = model_name or os.path.splitext(os.path.basename(path))[0]
    sample = pd.read_csv(path, sep=delimiter, nrows=sniff_rows)
    spec = _base_spec(contract_id, name)
    fields: Dict[str, Field] = {}
    for col in sample.columns:
        dtype = str(sample[col].dtype)
        ctype = source_type(dtype, "pandas")
        if ctype == "string" and sample[col].notna().any():
            # try datetime promotion on non-numeric object columns
            try:
                pd.to_datetime(sample[col].dropna().iloc[:50], format="ISO8601")
                ctype = "timestamp_ntz"
            except (ValueError, TypeError):
                pass
        fields[col] = Field(type=ctype)
    spec.models[name] = Model(type="table", fields=fields)
    return spec


def import_from_iceberg(schema_json, model_name: str = "imported",
                        contract_id: str = "imported") -> DataContractSpecification:
    """Iceberg schema JSON (dict or path) -> contract through the table
    format's own Spark converter, nested types included; identifier-field-ids
    become primaryKey (parity: imports/iceberg_importer.py:49-56,126-172)."""
    import json as _json

    from .iceberg import iceberg_to_spark_schema

    if isinstance(schema_json, str):
        with open(schema_json, "r", encoding="utf-8") as f:
            schema_json = _json.load(f)
    spec = _base_spec(contract_id, model_name)
    model = from_spark_schema(iceberg_to_spark_schema(schema_json))
    ident = set(schema_json.get("identifier-field-ids", []))
    model.primaryKey = [f["name"] for f in schema_json.get("fields", []) if f.get("id") in ident]
    for name in model.primaryKey:
        model.fields[name].primaryKey = True
    spec.models[model_name] = model
    return spec


def _avro_field_to_contract(atype) -> Field:
    # nullable union ["null", T] -> optional T
    required = True
    if isinstance(atype, list):
        non_null = [t for t in atype if t != "null"]
        required = "null" not in atype
        atype = non_null[0] if non_null else "null"
    if not isinstance(atype, dict):
        atype = {"type": atype}
    base = atype.get("type")
    # a reader ignores a logical type it does not know and reads the base type
    logical = atype.get("logicalType")
    f = Field(type=source_type(logical if logical in source_types("avro") else base, "avro"))
    if f.type == "decimal":
        f.precision, f.scale = atype.get("precision"), atype.get("scale")
    elif base == "array":
        f.items = _avro_field_to_contract(atype.get("items"))
    elif base == "map":
        f.keys, f.values = Field(type="string"), _avro_field_to_contract(atype.get("values"))
    elif base == "record":
        f.fields = {fd["name"]: _avro_field_to_contract(fd["type"])
                    for fd in atype.get("fields", [])}
    elif base == "enum":
        f.enum = list(atype.get("symbols", []))
    if not required:
        f.required = False
    return f


def import_from_avro(schema_json, model_name: Optional[str] = None,
                     contract_id: str = "imported") -> DataContractSpecification:
    """Avro record schema (dict or path) -> contract; ["null", T] unions become
    optional fields, logical types map back to timestamp/date/decimal
    (parity: imports/avro_importer.py)."""
    import json as _json

    if isinstance(schema_json, str):
        with open(schema_json, "r", encoding="utf-8") as f:
            schema_json = _json.load(f)
    name = model_name or schema_json.get("name", "imported")
    spec = _base_spec(contract_id, name)
    fields: Dict[str, Field] = {}
    for fdef in schema_json.get("fields", []):
        cf = _avro_field_to_contract(fdef.get("type"))
        if cf.required is None:
            cf.required = True  # avro fields are required unless null-union
        if fdef.get("doc"):
            cf.description = fdef["doc"]
        fields[fdef["name"]] = cf
    spec.models[name] = Model(type="table", fields=fields)
    return spec


def _jsonschema_prop_to_contract(prop: dict) -> Field:
    jtype = prop.get("type")
    if isinstance(jtype, list):  # ["string", "null"] union
        jtype = next((t for t in jtype if t != "null"), "null")
    values = prop.get("additionalProperties")
    if jtype is None:  # an untyped property validates any value
        f = Field()
    elif jtype == "object" and isinstance(values, dict) and "properties" not in prop:
        f = Field(type="map", keys=Field(type="string"),
                  values=_jsonschema_prop_to_contract(values))
    else:
        spelled = f"{jtype}/{prop.get('format')}"
        f = Field(type=source_types("jsonschema").get(spelled) or source_type(jtype, "jsonschema"))
    if f.type == "struct":
        f.fields = _jsonschema_properties(prop)
    elif f.type == "array" and "items" in prop:
        f.items = _jsonschema_prop_to_contract(prop["items"])
    for src, dst in (("pattern", "pattern"), ("enum", "enum"),
                     ("minLength", "minLength"), ("maxLength", "maxLength"),
                     ("minimum", "minimum"), ("maximum", "maximum")):
        if prop.get(src) is not None:
            setattr(f, dst, prop[src])
    if prop.get("description"):
        f.description = prop["description"]
    return f


def _jsonschema_properties(obj: dict) -> Dict[str, Field]:
    required = set(obj.get("required", []))
    fields: Dict[str, Field] = {}
    for name, prop in obj.get("properties", {}).items():
        fields[name] = _jsonschema_prop_to_contract(prop)
        if name in required:
            fields[name].required = True
    return fields


def import_from_jsonschema(schema_json, model_name: str = "imported",
                           contract_id: str = "imported") -> DataContractSpecification:
    """JSON Schema (draft-07 object schema; dict or path) -> contract —
    the inverse of export.to_jsonschema (constraints round-trip)."""
    import json as _json

    if isinstance(schema_json, str):
        with open(schema_json, "r", encoding="utf-8") as f:
            schema_json = _json.load(f)
    spec = _base_spec(contract_id, model_name)
    spec.models[model_name] = Model(type="table", fields=_jsonschema_properties(schema_json))
    return spec


def import_from_odcs_v3(doc, contract_id: Optional[str] = None) -> DataContractSpecification:
    """Open Data Contract Standard v3 (dict, YAML string, or path) -> contract
    (parity: imports/odcs_v3_importer.py:39-304).

    Maps: top-level id/name/version/description.purpose; `schema[]` entries to
    models (physicalName wins over name); `properties[]` to fields via
    logicalType with required/unique/primaryKey/classification and per-field
    quality; model-level quality passes through.
    """
    import yaml as _yaml

    from .spec import DATACONTRACT_TYPES, Info, Quality

    if isinstance(doc, str):
        if "\n" not in doc and doc.endswith((".yaml", ".yml")):
            with open(doc, "r", encoding="utf-8") as f:
                doc = f.read()
        doc = _yaml.safe_load(doc)

    spec = DataContractSpecification(
        dataContractSpecification="1.1.0",
        id=contract_id or doc.get("id"),
        info=Info(
            title=doc.get("name") or "",
            version=doc.get("version"),
            description=(doc.get("description") or {}).get("purpose")
            if isinstance(doc.get("description"), dict) else None,
        ),
    )

    def field_type(prop: dict) -> Optional[Field]:
        """physicalType when it names a contract type (``decimal(10,2)``
        included), else logicalType when that does, else None."""
        m = re.match(r"(\w+)(?:\((\d+),(\d+)\))?$", str(prop.get("physicalType")).lower())
        if m and m.group(1) in DATACONTRACT_TYPES:
            p, s = m.group(2), m.group(3)
            return Field(type=m.group(1), precision=p and int(p), scale=s and int(s))
        logical = str(prop.get("logicalType")).lower()
        return Field(type=logical) if logical in DATACONTRACT_TYPES else None

    def field_of(prop: dict, primary_key: bool) -> Optional[Field]:
        """The field of one ODCS property (None when its type does not
        map); an array's ``items`` and a struct's ``properties`` become
        its element and fields."""
        f = field_type(prop)
        if f is None:
            return None  # unmappable type: skip (reference logs + skips)
        # ODCS docs in the wild carry either `required` or `nullable`
        # (the reference exporter writes nullable but its importer reads
        # only required — accepting both closes our own round-trip)
        required = prop.get("required")
        if required is None and prop.get("nullable") is not None:
            required = not prop["nullable"]
        f.description = prop.get("description")
        f.required = required
        f.unique = prop.get("unique")
        f.primaryKey = primary_key
        f.classification = prop.get("classification")
        # constraints round-trip via logicalTypeOptions (reference
        # odcs_v3_importer reads these back; exporter writes them at
        # odcs_v3_exporter.py:252-268)
        lto = prop.get("logicalTypeOptions") or {}
        for attr in ("minLength", "maxLength", "pattern", "minimum",
                     "maximum", "exclusiveMinimum", "exclusiveMaximum"):
            if lto.get(attr) is not None:
                setattr(f, attr, lto[attr])
        if prop.get("quality"):
            f.quality = [Quality.model_validate(q) for q in prop["quality"]]
        if prop.get("items"):
            f.items = field_of(prop["items"], False)
        f.fields = fields_of(prop.get("properties") or [])
        return f

    def fields_of(props: List[dict]) -> Dict[str, Field]:
        # composite PKs live on the model, not per-field (reference
        # odcs_v3_importer.py:259-262,286-288)
        single_pk = sum(1 for p in props if p.get("primaryKey")) == 1
        fields: Dict[str, Field] = {}
        for prop in props:
            f = field_of(prop, single_pk and bool(prop.get("primaryKey")))
            if f is not None:
                fields[prop["name"]] = f
        return fields

    for schema in doc.get("schema") or []:
        model_name = schema.get("physicalName") or schema.get("name")
        props = schema.get("properties") or []
        pk_count = sum(1 for p in props if p.get("primaryKey"))
        fields = fields_of(props)
        model = Model(
            type="table",
            title=schema.get("name"),
            description=schema.get("description"),
            fields=fields,
        )
        if pk_count > 1:
            model.primaryKey = [p["name"] for p in props if p.get("primaryKey")]
        if schema.get("quality"):
            model.quality = [Quality.model_validate(q) for q in schema["quality"]]
        spec.models[model_name] = model

    # slaProperties retention -> servicelevels (parity: odcs_v3_importer
    # import_servicelevels :163-181; value+unit recompose to e.g. "30d")
    retention = next(
        (p for p in doc.get("slaProperties") or [] if p.get("property") == "retention"),
        None,
    )
    if retention is not None and retention.get("value") is not None:
        from .spec import Retention, ServiceLevel

        spec.servicelevels = ServiceLevel(
            retention=Retention(period=f"{retention['value']}{retention.get('unit') or 'd'}")
        )
    return spec


def import_contract(fmt: str, source, **kwargs) -> DataContractSpecification:
    """Factory (parity: imports/importer_factory).

    ``model_name=None`` means "use the importer's default"; ODCS documents
    carry their own model names, so the kwarg is dropped for that format.
    """
    fmt = fmt.lower()
    if kwargs.get("model_name") is None:
        kwargs.pop("model_name", None)
    if fmt in ("odcs", "odcs_v3", "bigquery", "unity", "glue", "sql", "dbt",
               "dbml", "protobuf"):
        # these sources carry their own model names
        kwargs.pop("model_name", None)
    if fmt in ("bigquery", "unity", "glue", "sql", "dbt", "dbml", "protobuf"):
        from . import imports_extra as x

        fn = {
            "bigquery": x.import_from_bigquery,
            "unity": x.import_from_unity,
            "glue": x.import_from_glue,
            "sql": x.import_from_sql,
            "dbt": x.import_from_dbt,
            "dbml": x.import_from_dbml,
            "protobuf": x.import_from_protobuf,
        }[fmt]
        return fn(source, **kwargs)
    if fmt == "spark":
        return import_from_spark(source, **kwargs)
    if fmt == "parquet":
        return import_from_parquet(source, **kwargs)
    if fmt == "csv":
        return import_from_csv(source, **kwargs)
    if fmt == "iceberg":
        return import_from_iceberg(source, **kwargs)
    if fmt == "avro":
        return import_from_avro(source, **kwargs)
    if fmt == "jsonschema":
        return import_from_jsonschema(source, **kwargs)
    if fmt in ("odcs", "odcs_v3"):
        return import_from_odcs_v3(source, **kwargs)
    raise ValueError(f"unsupported import format: {fmt}")
