"""Second exporter batch (SURVEY.md §2.4 / VERDICT r01 gap #2). Pure driver code.

Formats and their reference parity targets:
odcs (export/odcs_v3_exporter.py — round-trips with imports.import_from_odcs_v3),
html (export/html_export.py — here a dependency-free self-contained page),
dbt models + dbt-staging-sql (export/dbt_converter.py),
bigquery schema JSON (export/bigquery_converter.py),
dbml diagram (export/dbml_converter.py),
sqlalchemy + pydantic model source (export/sqlalchemy_converter.py,
export/pydantic_converter.py — emitted as plain source text, no ast dance),
terraform aws_s3_bucket resources (export/terraform_converter.py),
rdf/N3 (export/rdf_converter.py — hand-serialized Turtle, no rdflib in sandbox),
go structs (export/go_converter.py),
avro-idl protocol (export/avro_idl_converter.py),
data-caterer generation YAML (export/data_caterer_converter.py),
dcs passthrough (export/dcs_exporter.py),
custom jinja2 template (export/custom_converter.py).
"""

from __future__ import annotations

import html as _html
import json
import re
from typing import Any, Dict, List, Optional

from .spec import DATACONTRACT_TYPES, DataContractSpecification, Field, Model
from .typemap import target_type


def _dump_yaml(doc: Any) -> str:
    import yaml

    return yaml.safe_dump(doc, indent=2, sort_keys=False, allow_unicode=True)


def spec_to_yaml(spec: DataContractSpecification) -> str:
    """The resolved contract itself as YAML (= the reference's `dcs` format)."""
    return _dump_yaml(spec.model_dump(exclude_none=True, exclude_defaults=True, by_alias=True))


# ---------------------------------------------------------------------------
# odcs v3 (round-trips with imports.import_from_odcs_v3)
# ---------------------------------------------------------------------------

def to_odcs_v3(spec: DataContractSpecification) -> Dict[str, Any]:
    """Open Data Contract Standard v3 document (dict; YAML via export())."""
    info = spec.info
    doc: Dict[str, Any] = {
        "apiVersion": "v3.0.1",
        "kind": "DataContract",
        "id": spec.id,
        "name": info.title if info else None,
        "version": info.version if info else None,
        "status": "active",
    }
    if info and info.description:
        doc["description"] = {"purpose": info.description}
    doc["schema"] = []
    for mname, model in spec.models.items():
        schema: Dict[str, Any] = {
            "name": mname,
            "physicalName": mname,
            "logicalType": "object",
            "physicalType": model.type,
        }
        if model.description:
            schema["description"] = model.description
        props = []
        for fname, f in model.fields.items():
            prop: Dict[str, Any] = {"name": fname}
            if f.title:
                prop["businessName"] = f.title
            if f.type:
                if f.type.lower() not in DATACONTRACT_TYPES:
                    raise ValueError(f"contract type {f.type!r} has no odcs type")
                try:
                    prop["logicalType"] = target_type(f, "odcs")
                except ValueError:
                    pass  # map and null have none; a null one fails validation
                # the exact contract type, which the importer prefers
                prop["physicalType"] = f.type if f.precision is None else (
                    f"{f.type}({f.precision},{f.scale or 0})")
            if f.description:
                prop["description"] = f.description
            if f.required is not None:
                prop["nullable"] = not f.required
            if f.unique is not None:
                prop["unique"] = f.unique
            if f.classification:
                prop["classification"] = f.classification
            if f.primaryKey:
                prop["primaryKey"] = True
                prop["primaryKeyPosition"] = 1
            if f.pii is not None:
                prop["customProperties"] = [{"property": "pii", "value": f.pii}]
            # field constraints ride logicalTypeOptions so the documented
            # round-trip keeps them (reference odcs_v3_exporter.py:252-268)
            lto: Dict[str, Any] = {}
            for attr in ("minLength", "maxLength", "pattern", "minimum",
                         "maximum", "exclusiveMinimum", "exclusiveMaximum"):
                v = getattr(f, attr, None)
                if v is not None:
                    lto[attr] = v
            if lto:
                prop["logicalTypeOptions"] = lto
            if f.quality:
                prop["quality"] = [
                    q.model_dump(exclude_none=True, exclude_defaults=True) for q in f.quality
                ]
            props.append(prop)
        if props:
            schema["properties"] = props
        if model.quality:
            schema["quality"] = [
                q.model_dump(exclude_none=True, exclude_defaults=True) for q in model.quality
            ]
        doc["schema"].append(schema)
    if spec.servers:
        servers = []
        for sname, srv in spec.servers.items():
            sdict: Dict[str, Any] = {"server": sname}
            for key in ("type", "format", "path", "location", "catalog", "topic", "delimiter"):
                val = getattr(srv, key, None)
                if val is not None:
                    sdict[key] = val
            if srv.schema_ is not None:
                sdict["schema"] = srv.schema_
            servers.append(sdict)
        doc["servers"] = servers
    if spec.servicelevels and spec.servicelevels.retention and spec.servicelevels.retention.period:
        # reference parity (odcs_v3_exporter slaProperties): "30d" -> value+unit
        m = re.match(r"^(\d+)\s*([a-zA-Z]+)$", spec.servicelevels.retention.period.strip())
        if m:
            doc["slaProperties"] = [{
                "property": "retention", "value": int(m.group(1)), "unit": m.group(2),
            }]
    if info and info.owner:
        doc["customProperties"] = [{"property": "owner", "value": info.owner}]
    return {k: v for k, v in doc.items() if v is not None}


# ---------------------------------------------------------------------------
# html (self-contained page; the reference renders a jinja template package —
# same information architecture: header, per-model field tables, raw YAML)
# ---------------------------------------------------------------------------

def to_html(spec: DataContractSpecification) -> str:
    e = _html.escape
    info = spec.info
    title = e((info.title if info else None) or spec.id or "Data Contract")
    head = f"""<!DOCTYPE html>
<html lang="en"><head><meta charset="utf-8"><title>{title}</title>
<style>
body{{font-family:system-ui,sans-serif;margin:2rem auto;max-width:60rem;color:#1a202c}}
table{{border-collapse:collapse;width:100%;margin:1rem 0}}
th,td{{border:1px solid #cbd5e0;padding:.4rem .6rem;text-align:left;font-size:.9rem}}
th{{background:#edf2f7}} code{{background:#f7fafc;padding:.1rem .3rem}}
pre{{background:#f7fafc;padding:1rem;overflow-x:auto;border:1px solid #e2e8f0}}
.badge{{background:#e2e8f0;border-radius:.5rem;padding:.1rem .5rem;font-size:.8rem;margin-right:.3rem}}
</style></head><body>
<h1>{title}</h1>"""
    parts = [head]
    meta = []
    if spec.id:
        meta.append(f"<span class=badge>id: {e(spec.id)}</span>")
    if info and info.version:
        meta.append(f"<span class=badge>version: {e(info.version)}</span>")
    if info and info.owner:
        meta.append(f"<span class=badge>owner: {e(info.owner)}</span>")
    if meta:
        parts.append("<p>" + "".join(meta) + "</p>")
    if info and info.description:
        parts.append(f"<p>{e(info.description)}</p>")
    if spec.servers:
        parts.append("<h2>Servers</h2><table><tr><th>name</th><th>type</th><th>format</th>"
                     "<th>path/location</th></tr>")
        for sname, srv in spec.servers.items():
            parts.append(
                f"<tr><td>{e(sname)}</td><td>{e(srv.type or '')}</td>"
                f"<td>{e(srv.format or '')}</td><td>{e(srv.path or srv.location or '')}</td></tr>")
        parts.append("</table>")
    for mname, model in spec.models.items():
        parts.append(f"<h2>Model: {e(mname)}</h2>")
        if model.description:
            parts.append(f"<p>{e(model.description)}</p>")
        parts.append("<table><tr><th>field</th><th>type</th><th>required</th>"
                     "<th>constraints</th><th>description</th></tr>")
        for fname, f in model.fields.items():
            cons = []
            if f.unique:
                cons.append("unique")
            if f.primaryKey:
                cons.append("primary key")
            if f.enum:
                cons.append("enum " + ", ".join(str(v) for v in f.enum))
            if f.pattern:
                cons.append(f"pattern <code>{e(f.pattern)}</code>")
            if f.minimum is not None or f.maximum is not None:
                cons.append(f"range [{f.minimum}, {f.maximum}]")
            if f.minLength is not None or f.maxLength is not None:
                cons.append(f"length [{f.minLength}, {f.maxLength}]")
            if f.references:
                cons.append(f"references {e(f.references)}")
            parts.append(
                f"<tr><td>{e(fname)}</td><td>{e(f.type or '')}</td>"
                f"<td>{'yes' if f.required else 'no'}</td>"
                f"<td>{'; '.join(cons)}</td><td>{e(f.description or '')}</td></tr>")
        parts.append("</table>")
    parts.append("<h2>Contract YAML</h2>")
    parts.append(f"<pre>{e(spec_to_yaml(spec))}</pre>")
    parts.append("</body></html>")
    return "\n".join(parts)


# ---------------------------------------------------------------------------
# dbt models + dbt staging sql
# ---------------------------------------------------------------------------

def to_dbt_models(spec: DataContractSpecification) -> Dict[str, Any]:
    """dbt `models:` YAML: enforced contract + constraint tests per column."""
    models = []
    for mname, model in spec.models.items():
        cols = []
        for fname, f in model.fields.items():
            col: Dict[str, Any] = {"name": fname, "data_type": target_type(f, "sql").lower()}
            if f.description:
                col["description"] = f.description
            constraints = []
            if f.required:
                constraints.append({"type": "not_null"})
            if constraints:
                col["constraints"] = constraints
            tests: List[Any] = []
            if f.unique:
                tests.append("unique")
            if f.enum:
                tests.append({"accepted_values": {"values": list(f.enum)}})
            if tests:
                col["tests"] = tests
            cols.append(col)
        entry: Dict[str, Any] = {
            "name": mname,
            "config": {
                "meta": {"data_contract": spec.id},
                "materialized": "table",
                "contract": {"enforced": True},
            },
        }
        if spec.info and spec.info.owner:
            entry["config"]["meta"]["owner"] = spec.info.owner
        if model.description:
            entry["description"] = model.description
        if cols:
            entry["columns"] = cols
        models.append(entry)
    return {"version": 2, "models": models}


def to_dbt_staging_sql(spec: DataContractSpecification, model: Optional[str] = None) -> str:
    """Staging SELECT over the dbt source for one model (first model default)."""
    mname = model or next(iter(spec.models))
    cols = ",\n    ".join(spec.models[mname].fields)
    return f"select\n    {cols}\nfrom {{{{ source('{spec.id}', '{mname}') }}}}\n"


# ---------------------------------------------------------------------------
# bigquery schema JSON
# ---------------------------------------------------------------------------

def _bq_field(name: str, f: Field) -> Dict[str, Any]:
    out: Dict[str, Any] = {
        "name": name,
        "type": target_type(f, "bigquery"),
        "mode": "REQUIRED" if f.required else "NULLABLE",
    }
    if f.description is not None:
        out["description"] = f.description
    if (f.type or "").lower() == "array":
        out["mode"] = "REPEATED"
        f = f.items or f
    if out["type"] in ("RECORD", "STRUCT"):
        out["fields"] = [_bq_field(n, c) for n, c in (f.fields or {}).items()]
    # the tables API rejects null-valued properties — omit, never emit null
    if out["type"] == "STRING" and f.maxLength is not None:
        out["maxLength"] = f.maxLength
    if out["type"] in ("NUMERIC", "BIGNUMERIC"):
        if f.precision is not None:
            out["precision"] = f.precision
        if f.scale is not None:
            out["scale"] = f.scale
    return out


def to_bigquery_schema(spec: DataContractSpecification,
                       model: Optional[str] = None) -> Dict[str, Any]:
    mname = model or next(iter(spec.models))
    m = spec.models[mname]
    return {
        "kind": "bigquery#table",
        "tableReference": {"tableId": mname},
        "description": m.description,
        "schema": {"fields": [_bq_field(n, f) for n, f in m.fields.items()]},
    }


# ---------------------------------------------------------------------------
# dbml
# ---------------------------------------------------------------------------

def to_dbml(spec: DataContractSpecification) -> str:
    info = spec.info
    out = [
        f'Project "{(info.title if info else None) or spec.id}" {{',
        f"  Note: '''{(info.description if info else None) or ''}'''",
        "}", "",
    ]
    refs = []
    for mname, model in spec.models.items():
        out.append(f'Table "{mname}" {{')
        if model.description:
            out.append(f"  Note: '''{model.description}'''")
        for fname, f in model.fields.items():
            settings = []
            if f.primaryKey:
                settings.append("pk")
            if f.required:
                settings.append("not null")
            if f.unique:
                settings.append("unique")
            if f.description:
                settings.append(f"note: '{f.description}'")
            suffix = f" [{', '.join(settings)}]" if settings else ""
            out.append(f'  "{fname}" "{target_type(f, "sql")}"{suffix}')
            if f.references:
                parent, _, pfield = f.references.rpartition(".")
                refs.append(f'Ref: "{mname}"."{fname}" > "{parent}"."{pfield}"')
        out.append("}")
        out.append("")
    out.extend(refs)
    return "\n".join(out).rstrip() + "\n"


# ---------------------------------------------------------------------------
# sqlalchemy model source
# ---------------------------------------------------------------------------

def _py_ident(name: str) -> str:
    ident = re.sub(r"\W", "_", name)
    return f"_{ident}" if ident[:1].isdigit() else ident


def to_sqlalchemy_model(spec: DataContractSpecification) -> str:
    lines = [
        "from sqlalchemy.orm import DeclarativeBase",
        "from sqlalchemy import (Column, Date, Integer, Numeric, String, Text, VARCHAR,",
        "                        BigInteger, Float, Double, Boolean, ARRAY, LargeBinary,",
        "                        TIMESTAMP)",
        "",
        "",
        "class Base(DeclarativeBase):",
        "    pass",
    ]
    for mname, model in spec.models.items():
        lines += ["", "", f"class {_py_ident(mname).capitalize()}(Base):"]
        if model.description:
            lines.append(f'    """{model.description}"""')
        lines.append(f"    __tablename__ = {mname!r}")
        for fname, f in model.fields.items():
            kwargs = []
            if f.primaryKey:
                kwargs.append("primary_key=True")
            kwargs.append(f"nullable={not bool(f.required)}")
            if f.unique:
                kwargs.append("unique=True")
            if f.description:
                kwargs.append(f"comment={f.description!r}")
            lines.append(
                f"    {_py_ident(fname)} = Column({target_type(f, 'sqlalchemy')}, {', '.join(kwargs)})")
    return "\n".join(lines) + "\n"


# ---------------------------------------------------------------------------
# pydantic model source
# ---------------------------------------------------------------------------

def to_pydantic_model(spec: DataContractSpecification) -> str:
    out = ["import datetime", "import typing", "", "import pydantic"]

    def clsname(*parts: str) -> str:
        return "".join(_py_ident(p).capitalize() for p in parts)

    def annotate(scope: str, fname: str, f: Field, nested: List[str]) -> str:
        def record(rec: Field, path: str) -> str:
            nested.append(render_class(clsname(scope, path), rec.fields))
            return clsname(scope, path)

        return target_type(f, "pydantic", record, fname)

    def render_class(name: str, fields: Dict[str, Field]) -> str:
        nested: List[str] = []
        body = []
        for fname, f in fields.items():
            ann = annotate(name, fname, f, nested)
            if not f.required:
                # pydantic v2: Optional[X] alone is still REQUIRED; the
                # default makes the field actually omittable
                body.append(
                    f"    {_py_ident(fname)}: typing.Optional[{ann}] = None")
            else:
                body.append(f"    {_py_ident(fname)}: {ann}")
        block = "\n\n".join(nested + [
            f"class {name}(pydantic.BaseModel):\n" + ("\n".join(body) or "    pass")
        ])
        return block

    for mname, model in spec.models.items():
        out += ["", "", render_class(clsname(mname), model.fields)]
    return "\n".join(out) + "\n"


# ---------------------------------------------------------------------------
# terraform (aws_s3_bucket per s3 server)
# ---------------------------------------------------------------------------

def to_terraform(spec: DataContractSpecification) -> str:
    blocks = []
    for sname, srv in spec.servers.items():
        if srv.type != "s3":
            continue
        m = re.search(r"s3://([^/]+)", srv.location or "")
        bucket = m.group(1) if m else ""
        blocks.append(
            f'resource "aws_s3_bucket" "{spec.id}_{sname}" {{\n'
            f'  bucket = "{bucket}"\n\n'
            f"  tags = {{\n"
            f'    Name         = "{spec.info.title if spec.info else spec.id}"\n'
            f'    DataContract = "{spec.id}"\n'
            f'    Server       = "{sname}"\n'
            f"  }}\n"
            f"}}"
        )
    return "\n\n".join(blocks) + ("\n" if blocks else "")


# ---------------------------------------------------------------------------
# rdf / N3 (hand-serialized Turtle; rdflib absent in the sandbox)
# ---------------------------------------------------------------------------

def _n3_literal(v: Any) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return json.dumps(v)
    return json.dumps(str(v))


def to_rdf_n3(spec: DataContractSpecification, base: Optional[str] = None) -> str:
    dc = "https://datacontract.com/DataContractSpecification/1.1.0/"
    out = [f"@prefix dc: <{dc}> ."]
    if base:
        out.insert(0, f"@base <{base}> .")
    this = f"<{spec.id}>"
    out += ["", f"{this} a dc:DataContract ;",
            f"    dc:dataContractSpecification {_n3_literal(spec.dataContractSpecification or '1.1.0')} ;"]
    if spec.info:
        if spec.info.title:
            out.append(f"    dc:title {_n3_literal(spec.info.title)} ;")
        if spec.info.version:
            out.append(f"    dc:version {_n3_literal(spec.info.version)} ;")
        if spec.info.owner:
            out.append(f"    dc:owner <{spec.info.owner}> ;")
    for mname in spec.models:
        out.append(f"    dc:model <{spec.id}/model/{mname}> ;")
    out[-1] = out[-1].rstrip(" ;") + " ."
    for mname, model in spec.models.items():
        out += ["", f"<{spec.id}/model/{mname}> a dc:Model ;",
                f"    dc:name {_n3_literal(mname)} ;"]
        if model.description:
            out.append(f"    dc:description {_n3_literal(model.description)} ;")
        for fname in model.fields:
            out.append(f"    dc:field <{spec.id}/model/{mname}/field/{fname}> ;")
        out[-1] = out[-1].rstrip(" ;") + " ."
        for fname, f in model.fields.items():
            out += ["", f"<{spec.id}/model/{mname}/field/{fname}> a dc:Field ;",
                    f"    dc:name {_n3_literal(fname)} ;"]
            for attr in ("type", "description", "required", "unique", "pattern",
                         "minimum", "maximum", "minLength", "maxLength",
                         "pii", "classification"):
                v = getattr(f, attr, None)
                if v is not None:
                    out.append(f"    dc:{attr} {_n3_literal(v)} ;")
            out[-1] = out[-1].rstrip(" ;") + " ."
    return "\n".join(out) + "\n"


# ---------------------------------------------------------------------------
# go structs
# ---------------------------------------------------------------------------

def _camel(name: str) -> str:
    return "".join(
        w.capitalize() for w in re.split(r"[^0-9a-zA-Z]+|(?<!^)(?=[A-Z])", name) if w
    )


def to_go_types(spec: DataContractSpecification) -> str:
    out = ["package main", ""]

    def struct(name: str, fields: Dict[str, Field]) -> List[str]:
        nested: List[str] = []
        lines = [f"type {name} struct {{"]
        for fname, f in fields.items():
            camel = _camel(fname)

            def record(rec: Field, path: str) -> str:
                nested.extend(struct(name + _camel(path), rec.fields))
                return name + _camel(path)

            go_type = target_type(f, "go", record, fname)
            if not f.required:
                go_type = "*" + go_type
                json_tag = f"{fname},omitempty"
            else:
                json_tag = fname
            comment = f"  // {f.description}" if f.description else ""
            lines.append(f'    {camel} {go_type} `json:"{json_tag}" avro:"{fname}"`{comment}')
        lines.append("}")
        return nested + lines

    for mname, model in spec.models.items():
        out += struct(_camel(mname), model.fields) + [""]
    return "\n".join(out)


# ---------------------------------------------------------------------------
# avro idl
# ---------------------------------------------------------------------------

def _avro_idl_type(f: Field, scope: str, nested: List[str]) -> str:
    def record(rec: Field, path: str) -> str:
        body = []
        for fname, child in rec.fields.items():
            t = _avro_idl_type(child, f"{path}_{fname}", nested)
            if not child.required:
                t = f"{t}?"
            body.append(f"        {t} {fname};")
        nested.append("    record " + _camel(path) + " {\n" + "\n".join(body) + "\n    }")
        return _camel(path)

    return target_type(f, "avro-idl", record, scope)


def to_avro_idl(spec: DataContractSpecification) -> str:
    """Avro IDL protocol: one record per model, `?` unions for optionals."""
    name = _camel(spec.id or "contract")
    records = []
    for mname, model in spec.models.items():
        nested: List[str] = []
        body = []
        for fname, f in model.fields.items():
            t = _avro_idl_type(f, f"{mname}_{fname}", nested)
            if not f.required:
                t = f"{t}?"
            doc = f"        /** {f.description} */\n" if f.description else ""
            body.append(f"{doc}        {t} {fname};")
        doc = f"    /** {model.description} */\n" if model.description else ""
        records += nested + [
            doc + "    record " + _camel(mname) + " {\n" + "\n".join(body) + "\n    }"
        ]
    header = f"/** {spec.info.description} */\n" if spec.info and spec.info.description else ""
    return header + "protocol " + name + " {\n" + "\n\n".join(records) + "\n}\n"


# ---------------------------------------------------------------------------
# data caterer generation YAML
# ---------------------------------------------------------------------------

def to_data_caterer(spec: DataContractSpecification,
                    server: Optional[str] = None) -> Dict[str, Any]:
    srv = None
    if server and server in spec.servers:
        srv = spec.servers[server]
    elif spec.servers:
        srv = next(iter(spec.servers.values()))
    steps = []
    for mname, model in spec.models.items():
        if srv is not None and srv.type in ("s3", "gcs", "azure", "local"):
            step_type = srv.format or "csv"
            options = {"path": srv.path or srv.location or "/tmp/data"}
        elif srv is not None and srv.type == "kafka":
            step_type = "kafka"
            options = {"topic": srv.topic}
        elif srv is not None and srv.type is not None:
            step_type = srv.type
            options = {"table": mname, **({"schema": srv.schema_} if srv.schema_ else {})}
        else:
            step_type = "csv"
            options = {}
        fields = []
        for fname, f in model.fields.items():
            entry: Dict[str, Any] = {"name": fname, "type": f.type or "string"}
            opts: Dict[str, Any] = {}
            if f.enum:
                opts["oneOf"] = list(f.enum)
            if f.pattern:
                opts["regex"] = f.pattern
            if f.minimum is not None:
                opts["min"] = f.minimum
            if f.maximum is not None:
                opts["max"] = f.maximum
            if f.unique:
                opts["isUnique"] = True
            if opts:
                entry["options"] = opts
            fields.append(entry)
        steps.append({"name": mname, "type": step_type, "options": options,
                      "fields": fields})
    return {"name": (spec.info.title if spec.info else None) or spec.id, "steps": steps}


# ---------------------------------------------------------------------------
# custom (jinja2 template)
# ---------------------------------------------------------------------------

def to_custom(spec: DataContractSpecification, template_path: str) -> str:
    """Render the contract through a user jinja2 template (var: data_contract)."""
    import os

    from jinja2 import Environment, FileSystemLoader

    path = os.path.abspath(template_path)
    env = Environment(loader=FileSystemLoader(os.path.dirname(path)))
    return env.get_template(os.path.basename(path)).render(data_contract=spec)
