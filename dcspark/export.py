"""Contract exporters (SURVEY.md §2.4). All pure driver code.

Formats and their reference parity targets: spark StructType + DDL
(export/spark_converter.py), JSON Schema draft-07
(export/jsonschema_converter.py:34-157), the compiled-check document (our
analog of export/sodacl_converter.py:15-30 — what `datacontract export
--format sodacl` shows, here the Spark check plan), Iceberg schema JSON
(export/iceberg_converter.py), ANSI SQL DDL + column-list query
(export/sql_converter.py), Avro record schema (export/avro_converter.py),
proto3 (export/protobuf_converter.py), dbt sources with constraint->test
mapping (export/dbt_converter.py), Great Expectations suites
(export/great_expectations_converter.py), and markdown docs
(export/markdown_converter.py).
"""

from __future__ import annotations

import json
from typing import Any, Dict, Optional

from .compile import create_checks
from .spec import DataContractSpecification, Field, Model, to_spark_schema
from .typemap import target_type

# ---------------------------------------------------------------------------
# spark
# ---------------------------------------------------------------------------

def to_spark_ddl(spec: DataContractSpecification) -> str:
    """One `CREATE TABLE`-style DDL block per model (simpleString types)."""
    blocks = []
    for mname, model in spec.models.items():
        schema = to_spark_schema(model)
        cols = ",\n".join(
            f"  {f.name} {f.dataType.simpleString()}"
            + ("" if f.nullable else " NOT NULL")
            for f in schema.fields
        )
        blocks.append(f"CREATE TABLE {mname} (\n{cols}\n)")
    return "\n\n".join(blocks)


def to_spark_dict(spec: DataContractSpecification) -> Dict[str, Any]:
    """model -> StructType JSON (round-trippable via StructType.fromJson)."""
    return {mname: to_spark_schema(m).jsonValue() for mname, m in spec.models.items()}


# ---------------------------------------------------------------------------
# jsonschema (draft-07; parity: export/jsonschema_converter.py:34-128)
# ---------------------------------------------------------------------------

def _field_to_jsonschema(field: Field) -> Dict[str, Any]:
    out: Dict[str, Any] = {}
    if field.type:  # an untyped field validates any value
        out.update(target_type(field, "jsonschema"))
        if not field.required:
            # nullable union unless required (jsonschema_converter.py:40-47)
            out["type"] = [out["type"], "null"]
    if field.format in ("uuid", "email", "uri"):
        out["format"] = field.format
    if field.pattern:
        out["pattern"] = field.pattern
    if field.enum:
        out["enum"] = field.enum
    if field.minLength is not None:
        out["minLength"] = field.minLength
    if field.maxLength is not None:
        out["maxLength"] = field.maxLength
    if field.minimum is not None:
        out["minimum"] = field.minimum
    if field.maximum is not None:
        out["maximum"] = field.maximum
    if field.exclusiveMinimum is not None:
        out["exclusiveMinimum"] = field.exclusiveMinimum
    if field.exclusiveMaximum is not None:
        out["exclusiveMaximum"] = field.exclusiveMaximum
    ftype = (field.type or "").lower()
    if ftype == "array" and field.items is not None:
        out["items"] = _field_to_jsonschema(field.items)
    if ftype == "map" and field.values is not None:
        out["additionalProperties"] = _field_to_jsonschema(field.values)
    if ftype in ("object", "record", "struct") and field.fields:
        out["properties"] = {n: _field_to_jsonschema(f) for n, f in field.fields.items()}
        req = [n for n, f in field.fields.items() if f.required]
        if req:
            out["required"] = req
    if field.description:
        out["description"] = field.description
    return out


def to_jsonschema(model: Model) -> Dict[str, Any]:
    """Model -> JSON Schema draft-07 (parity: to_jsonschema, :145-157)."""
    properties = {n: _field_to_jsonschema(f) for n, f in model.fields.items()}
    required = [n for n, f in model.fields.items() if f.required]
    schema: Dict[str, Any] = {
        "$schema": "http://json-schema.org/draft-07/schema#",
        "type": "object",
        "properties": properties,
    }
    if required:
        schema["required"] = required
    return schema


def to_jsonschema_all(spec: DataContractSpecification) -> Dict[str, Any]:
    return {mname: to_jsonschema(m) for mname, m in spec.models.items()}


# ---------------------------------------------------------------------------
# compiled checks (our sodacl analog — the executable plan as a document)
# ---------------------------------------------------------------------------

def to_checks_dict(spec: DataContractSpecification,
                   server_format: Optional[str] = None) -> Dict[str, Any]:
    """The full compiled check plan as a plain dict (golden-testable; analog of
    the reference's merged SodaCL doc, export/sodacl_converter.py:15-30)."""
    out: Dict[str, Any] = {}
    for mname, checks in create_checks(spec, server_format).items():
        out[mname] = [
            {
                "key": c.key,
                "type": c.check_type,
                "category": c.category,
                "field": c.field,
                "kind": c.kind,
                "implementation": c.implementation,
            }
            for c in checks
        ]
    return out


# ---------------------------------------------------------------------------
# iceberg schema (parity: export/iceberg_converter.py)
# ---------------------------------------------------------------------------

def to_iceberg_schema(model: Model) -> Dict[str, Any]:
    """Model -> Iceberg schema JSON through the table format's own Spark
    converter, nested types included; identifier-field-ids from primaryKey
    (parity: export/iceberg_converter.py:83-92)."""
    from .iceberg import spark_to_iceberg_schema

    out, _ = spark_to_iceberg_schema(to_spark_schema(model))
    pks = set(model.primaryKey or []) | {n for n, f in model.fields.items() if f.primaryKey}
    identifier_ids = [f["id"] for f in out["fields"] if f["name"] in pks]
    if identifier_ids:
        out["identifier-field-ids"] = identifier_ids
    return out


# ---------------------------------------------------------------------------
# sql / sql-query (parity: export/sql_converter.py, sql_type_converter.py:5-24)
# ---------------------------------------------------------------------------

def to_sql_ddl(spec: DataContractSpecification) -> str:
    """ANSI `CREATE TABLE` DDL per model with NOT NULL + PRIMARY KEY."""
    blocks = []
    for mname, model in spec.models.items():
        lines = []
        pks = list(model.primaryKey or [])
        for name, f in model.fields.items():
            line = f"  {name} {target_type(f, 'sql')}"
            if f.required:
                line += " NOT NULL"
            lines.append(line)
            if f.primaryKey and name not in pks:
                pks.append(name)
        if pks:
            lines.append(f"  PRIMARY KEY ({', '.join(pks)})")
        blocks.append(f"CREATE TABLE {mname} (\n" + ",\n".join(lines) + "\n);")
    return "\n\n".join(blocks)


def to_sql_query(spec: DataContractSpecification, model: Optional[str] = None) -> str:
    """Column-list SELECT per model (parity: sql_converter.to_sql_query)."""
    names = [model] if model else list(spec.models)
    out = [f"-- Data Contract: {spec.id}"]
    for mname in names:
        cols = ",\n".join(f"    {c}" for c in spec.models[mname].fields)
        out.append(f"SELECT\n{cols}\nFROM {mname};")
    return "\n".join(out)


# ---------------------------------------------------------------------------
# avro (parity: export/avro_converter.py:62-110 type map)
# ---------------------------------------------------------------------------

def _avro_type(f: Field, name: str):
    return target_type(f, "avro", lambda rec, n: _avro_record(n, rec.fields), name)


def _avro_record(name: str, fields: Dict[str, Field]) -> Dict[str, Any]:
    out_fields = []
    for fname, f in fields.items():
        atype = _avro_type(f, fname)
        required = f.required if f.required is not None else True
        entry: Dict[str, Any] = {"name": fname,
                                 "type": atype if required else ["null", atype]}
        if f.description:
            entry["doc"] = f.description
        out_fields.append(entry)
    return {"type": "record", "name": name, "fields": out_fields}


def to_avro_schema(model_name: str, model: Model) -> Dict[str, Any]:
    """Avro record schema: nullable = union with null, logical types for
    timestamp/date/decimal, recursive arrays/structs/maps."""
    rec = _avro_record(model_name, model.fields)
    if model.description:
        rec["doc"] = model.description
    return rec


# ---------------------------------------------------------------------------
# protobuf (parity: export/protobuf_converter.py)
# ---------------------------------------------------------------------------

def to_protobuf(spec: DataContractSpecification) -> str:
    """proto3 document: one message per model, enums from `enum` constraints,
    `repeated` for arrays, nested messages for structs."""
    # Enum names are scoped per (message, field) — two same-named fields in
    # different models with different value sets get distinct enums — and the
    # constants are prefixed with the enum name: proto3 enum constants share
    # the enclosing scope's namespace, so bare values would collide across
    # enums (e.g. two enums both containing ACTIVE).
    enums: Dict[str, list] = {}
    msgs = []

    def field_line(scope: str, name: str, f: Field, idx: int, nested: list) -> str:
        if f.enum:
            ename = f"{scope.capitalize()}_{name.capitalize()}_Enum"
            enums[ename] = list(f.enum)
            ptype = ename
        else:
            def record(rec: Field, path: str) -> str:
                nested.append(message(path.capitalize(), rec.fields))
                return path.capitalize()

            ptype = target_type(f, "protobuf", record, name)
        return f"  {ptype} {name} = {idx};"

    def message(name: str, fields: Dict[str, Field]) -> str:
        nested: list = []
        lines = [field_line(name, fname, f, i + 1, nested)
                 for i, (fname, f) in enumerate(fields.items())]
        body = "\n".join(nested + lines)
        return f"message {name} {{\n{body}\n}}"

    for mname, model in spec.models.items():
        msgs.append(message(mname, model.fields))
    header = 'syntax = "proto3";\n'
    for ename, values in enums.items():
        prefix = ename.upper().replace("-", "_")
        consts = "\n".join(
            f"  {prefix}_{str(v).upper().replace(' ', '_').replace('-', '_')} = {i};"
            for i, v in enumerate(values)
        )
        header += f"\nenum {ename} {{\n{consts}\n}}\n"
    return header + "\n" + "\n\n".join(msgs) + "\n"


# ---------------------------------------------------------------------------
# dbt sources (parity: export/dbt_converter.py) — constraints become dbt tests
# ---------------------------------------------------------------------------

def to_dbt_sources(spec: DataContractSpecification) -> Dict[str, Any]:
    """dbt `sources:` YAML document; contract constraints map onto dbt's
    built-in tests (not_null, unique, accepted_values, relationships)."""
    tables = []
    for mname, model in spec.models.items():
        cols = []
        for fname, f in model.fields.items():
            tests: list = []
            if f.required:
                tests.append("not_null")
            if f.unique:
                tests.append("unique")
            if f.enum:
                tests.append({"accepted_values": {"values": list(f.enum)}})
            if f.references:
                parent, _, pfield = f.references.rpartition(".")
                tests.append({"relationships": {
                    "to": f"source('{spec.id or 'contract'}', '{parent}')",
                    "field": pfield}})
            col: Dict[str, Any] = {"name": fname, "data_type": target_type(f, "sql").lower()}
            if f.description:
                col["description"] = f.description
            if tests:
                col["tests"] = tests
            cols.append(col)
        table: Dict[str, Any] = {"name": mname, "columns": cols}
        if model.description:
            table["description"] = model.description
        tables.append(table)
    return {"version": 2, "sources": [{
        "name": spec.id or "contract",
        "description": (spec.info.title if spec.info else None) or "",
        "tables": tables,
    }]}


# ---------------------------------------------------------------------------
# great expectations (parity: export/great_expectations_converter.py)
# ---------------------------------------------------------------------------

def to_great_expectations(model_name: str, model: Model) -> Dict[str, Any]:
    """Expectation-suite JSON from the model's constraint vocabulary."""
    exps: list = [{
        "expectation_type": "expect_table_columns_to_match_ordered_list",
        "kwargs": {"column_list": list(model.fields)},
    }]
    for fname, f in model.fields.items():
        if f.required:
            exps.append({"expectation_type": "expect_column_values_to_not_be_null",
                         "kwargs": {"column": fname}})
        if f.unique:
            exps.append({"expectation_type": "expect_column_values_to_be_unique",
                         "kwargs": {"column": fname}})
        if f.enum:
            exps.append({"expectation_type": "expect_column_values_to_be_in_set",
                         "kwargs": {"column": fname, "value_set": list(f.enum)}})
        if f.pattern:
            exps.append({"expectation_type": "expect_column_values_to_match_regex",
                         "kwargs": {"column": fname, "regex": f.pattern}})
        if f.minimum is not None or f.maximum is not None:
            exps.append({"expectation_type": "expect_column_values_to_be_between",
                         "kwargs": {"column": fname, "min_value": f.minimum,
                                    "max_value": f.maximum}})
        if f.minLength is not None or f.maxLength is not None:
            exps.append({
                "expectation_type": "expect_column_value_lengths_to_be_between",
                "kwargs": {"column": fname, "min_value": f.minLength,
                           "max_value": f.maxLength}})
    return {"expectation_suite_name": f"{model_name}.suite", "expectations": exps}


# ---------------------------------------------------------------------------
# markdown (parity: export/markdown_converter.py) — human-readable doc
# ---------------------------------------------------------------------------

def to_markdown(spec: DataContractSpecification) -> str:
    out = [f"# {spec.info.title if spec.info else spec.id}", ""]
    if spec.info and spec.info.version:
        out.append(f"Version: {spec.info.version}  ")
    if spec.info and spec.info.owner:
        out.append(f"Owner: {spec.info.owner}")
    for mname, model in spec.models.items():
        out += ["", f"## {mname}", ""]
        if model.description:
            out += [model.description, ""]
        out.append("| field | type | required | constraints |")
        out.append("|---|---|---|---|")
        for fname, f in model.fields.items():
            cons = []
            if f.unique:
                cons.append("unique")
            if f.primaryKey:
                cons.append("primary key")
            if f.enum:
                cons.append(f"enum {f.enum}")
            if f.pattern:
                cons.append(f"pattern `{f.pattern}`")
            if f.minimum is not None or f.maximum is not None:
                cons.append(f"range [{f.minimum}, {f.maximum}]")
            if f.minLength is not None or f.maxLength is not None:
                cons.append(f"length [{f.minLength}, {f.maxLength}]")
            if f.references:
                cons.append(f"references {f.references}")
            out.append(
                f"| {fname} | {f.type or ''} | {'yes' if f.required else 'no'} | "
                f"{'; '.join(cons)} |")
    return "\n".join(out) + "\n"


# ---------------------------------------------------------------------------
# factory (parity: export/exporter_factory.py)
# ---------------------------------------------------------------------------

def export(spec: DataContractSpecification, fmt: str,
           model: Optional[str] = None, server: Optional[str] = None,
           template: Optional[str] = None) -> str:
    fmt = fmt.lower()
    if fmt == "spark":
        return to_spark_ddl(spec)
    if fmt == "spark-json":
        return json.dumps(to_spark_dict(spec), indent=2)
    if fmt == "jsonschema":
        if model:
            return json.dumps(to_jsonschema(spec.models[model]), indent=2)
        return json.dumps(to_jsonschema_all(spec), indent=2)
    if fmt in ("checks", "sodacl"):
        return json.dumps(to_checks_dict(spec), indent=2)
    if fmt == "iceberg":
        target = spec.models[model] if model else next(iter(spec.models.values()))
        return json.dumps(to_iceberg_schema(target), indent=2)
    if fmt == "sql":
        return to_sql_ddl(spec)
    if fmt == "sql-query":
        return to_sql_query(spec, model)
    if fmt == "avro":
        name = model or next(iter(spec.models))
        return json.dumps(to_avro_schema(name, spec.models[name]), indent=2)
    if fmt == "protobuf":
        return to_protobuf(spec)
    if fmt == "dbt-sources":
        import yaml

        return yaml.safe_dump(to_dbt_sources(spec), sort_keys=False)
    if fmt == "great-expectations":
        name = model or next(iter(spec.models))
        return json.dumps(to_great_expectations(name, spec.models[name]), indent=2)
    if fmt == "markdown":
        return to_markdown(spec)

    from . import export_extra as x

    if fmt in ("odcs", "odcs_v3"):
        return x._dump_yaml(x.to_odcs_v3(spec))
    if fmt == "html":
        return x.to_html(spec)
    if fmt == "dbt":
        return x._dump_yaml(x.to_dbt_models(spec))
    if fmt == "dbt-staging-sql":
        return x.to_dbt_staging_sql(spec, model)
    if fmt == "bigquery":
        return json.dumps(x.to_bigquery_schema(spec, model), indent=2)
    if fmt == "dbml":
        return x.to_dbml(spec)
    if fmt == "sqlalchemy":
        return x.to_sqlalchemy_model(spec)
    if fmt == "pydantic-model":
        return x.to_pydantic_model(spec)
    if fmt == "terraform":
        return x.to_terraform(spec)
    if fmt == "rdf":
        return x.to_rdf_n3(spec)
    if fmt == "go":
        return x.to_go_types(spec)
    if fmt == "avro-idl":
        return x.to_avro_idl(spec)
    if fmt == "data-caterer":
        return x._dump_yaml(x.to_data_caterer(spec, server))
    if fmt == "dcs":
        return x.spec_to_yaml(spec)
    if fmt == "custom":
        if not template:
            raise ValueError("export to custom requires a template argument")
        return x.to_custom(spec, template)
    raise ValueError(f"unsupported export format: {fmt}")
