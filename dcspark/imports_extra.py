"""Second importer batch (SURVEY.md §2.4 / VERDICT r01 gap #3). Pure driver code.

Formats and their reference parity targets:
bigquery schema JSON (imports/bigquery_importer.py — the JSON-file path; the
API path needs google-cloud-bigquery, absent here),
unity TableInfo JSON (imports/unity_importer.py — column ``type_json`` is a
Spark ``StructField.jsonValue()``, parsed with the real Spark JSON parser),
glue GetTable JSON (imports/glue_importer.py — the boto3 path is API-only in
the reference; here the same table document as a JSON file, with the Hive
type-string grammar ``array<..> struct<..:..> map<..,..> decimal(p,s)``),
sql CREATE TABLE DDL (imports/sql_importer.py — reference uses sqlglot, absent
in this sandbox; a regex parser covering ANSI CREATE TABLE incl. our own
export round-trip),
dbt manifest.json (imports/dbt_importer.py — reference needs dbt-core; here
the manifest is read as plain JSON: nodes -> models, columns -> fields),
dbml (imports/dbml_importer.py — round-trips with export_extra.to_dbml),
protobuf (imports/protobuf_importer.py — proto3 message grammar subset).
"""

from __future__ import annotations

import json
import re
from typing import Any, Dict, List, Optional, Tuple

from .spec import DataContractSpecification, Field, Info, Model
from .typemap import source_type, source_types


def _base(contract_id: str) -> DataContractSpecification:
    return DataContractSpecification(
        dataContractSpecification="1.1.0", id=contract_id,
        info=Info(title=contract_id, version="0.0.1"),
    )


def _load_json(source) -> dict:
    if isinstance(source, dict):
        return source
    if isinstance(source, str) and "{" not in source:
        with open(source, "r", encoding="utf-8") as f:
            return json.load(f)
    return json.loads(source)


def _read_text(source: str) -> str:
    # heuristics: path-like strings (no newline, plausible extension) are read
    if "\n" not in source and re.search(r"\.(sql|dbml|proto|txt)$", source):
        with open(source, "r", encoding="utf-8") as f:
            return f.read()
    return source


# ---------------------------------------------------------------------------
# bigquery
# ---------------------------------------------------------------------------

def _bq_fields(cols: List[dict]) -> Dict[str, Field]:
    out: Dict[str, Field] = {}
    for col in cols or []:
        btype = col.get("type")
        if btype in ("RECORD", "STRUCT"):
            f = Field(type="object" if btype == "RECORD" else "struct",
                      fields=_bq_fields(col.get("fields")))
        else:
            f = Field(type=source_type(btype, "bigquery"))
        if btype == "STRING" and col.get("maxLength") is not None:
            f.maxLength = int(col["maxLength"])
        if btype in ("NUMERIC", "BIGNUMERIC"):
            if col.get("precision") is not None:
                f.precision = int(col["precision"])
            if col.get("scale") is not None:
                f.scale = int(col["scale"])
        if col.get("mode") == "REPEATED":  # the column's type is the element's
            f = Field(type="array", items=f)
        f.required = col.get("mode") == "REQUIRED" or None
        f.description = col.get("description")
        out[col.get("name")] = f
    return out


def import_from_bigquery(source, contract_id: str = "imported") -> DataContractSpecification:
    """BigQuery table JSON (``bq show --format=json`` / tables.get repr)."""
    doc = _load_json(source)
    spec = _base(contract_id)
    table_id = (doc.get("tableReference") or {}).get("tableId") or "imported"
    bq_type = doc.get("type")
    model = Model(
        type="view" if bq_type in ("VIEW", "MATERIALIZED_VIEW") else "table",
        fields=_bq_fields((doc.get("schema") or {}).get("fields")),
    )
    if doc.get("description"):
        model.description = doc["description"]
    if doc.get("friendlyName"):
        model.title = doc["friendlyName"]
    spec.models[table_id] = model
    return spec


# ---------------------------------------------------------------------------
# unity catalog
# ---------------------------------------------------------------------------

def import_from_unity(source, contract_id: str = "imported") -> DataContractSpecification:
    """Unity Catalog TableInfo JSON: each column's ``type_json`` is a Spark
    StructField.jsonValue() — parsed with Spark's own schema parser and mapped
    through the same StructType -> contract path as the spark importer."""
    import pyspark.sql.types as T

    from .spec import from_spark_schema

    doc = _load_json(source)
    spec = _base(contract_id)
    struct_fields = []
    simple_types: Dict[str, str] = {}
    for col in doc.get("columns") or []:
        if col.get("type_json"):
            struct_fields.append(T.StructField.fromJson(json.loads(col["type_json"])))
        else:
            simple_types[col.get("name")] = col.get("type_name") or col.get("type_text") or "string"
    model = from_spark_schema(T.StructType(struct_fields)) if struct_fields else Model(type="table")
    for name, tname in simple_types.items():
        model.fields[name] = hive_type_to_field(tname)
    for col in doc.get("columns") or []:
        f = model.fields.get(col.get("name"))
        if f is not None and col.get("comment"):
            f.description = col["comment"]
        if f is not None and col.get("nullable") is False:
            f.required = True
    name = doc.get("name") or doc.get("table_id") or "imported"
    model.title = doc.get("name")
    if doc.get("comment"):
        model.description = doc["comment"]
    spec.models[name] = model
    return spec


# ---------------------------------------------------------------------------
# glue (Hive type-string grammar)
# ---------------------------------------------------------------------------

def _split_top(s: str, sep: str = ",") -> List[str]:
    """Split on sep at angle/paren nesting depth 0."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts


def hive_type_to_field(dtype: str) -> Field:
    """Hive/Glue type string -> contract Field (array<>/struct<>/map<>/decimal)."""
    t = dtype.strip().lower().replace(" ", "")
    if t.startswith("array<") and t.endswith(">"):
        return Field(type="array", items=hive_type_to_field(t[6:-1]))
    if t.startswith("struct<") and t.endswith(">"):
        fields = {}
        for part in _split_top(t[7:-1]):
            name, _, inner = part.partition(":")
            if name:
                fields[name] = hive_type_to_field(inner)
        return Field(type="struct", fields=fields)
    if t.startswith("map<") and t.endswith(">"):
        kv = _split_top(t[4:-1])
        return Field(
            type="map",
            keys=hive_type_to_field(kv[0]) if kv else Field(type="string"),
            values=hive_type_to_field(kv[1]) if len(kv) > 1 else Field(type="string"),
        )
    m = re.match(r"decimal\((\d+),(\d+)\)$", t)
    if m:
        return Field(type="decimal", precision=int(m.group(1)), scale=int(m.group(2)))
    m = re.match(r"(?:varchar|char)\((\d+)\)$", t)
    if m:
        return Field(type="varchar", maxLength=int(m.group(1)))
    return Field(type=source_type(t, "hive"))


def import_from_glue(source, contract_id: str = "imported") -> DataContractSpecification:
    """AWS Glue GetTable-response JSON (Table.StorageDescriptor.Columns).

    The reference imports via the boto3 API; this is the same document as a
    JSON file (``aws glue get-table ... > table.json``). Hive partition keys
    become required fields, matching the reference.
    """
    doc = _load_json(source)
    table = doc.get("Table") or doc
    spec = _base(contract_id)
    cols = list(((table.get("StorageDescriptor") or {}).get("Columns")) or [])
    fields: Dict[str, Field] = {}
    for col in cols:
        f = hive_type_to_field(col.get("Type", "string"))
        if col.get("Comment"):
            f.description = col["Comment"]
        fields[col["Name"]] = f
    for pk in table.get("PartitionKeys") or []:
        f = hive_type_to_field(pk.get("Type", "string"))
        f.required = True  # hive partitions are required, not primary keys
        if pk.get("Comment"):
            f.description = pk["Comment"]
        fields[pk["Name"]] = f
    spec.models[table.get("Name", "imported")] = Model(type="table", fields=fields)
    return spec


# ---------------------------------------------------------------------------
# sql CREATE TABLE DDL
# ---------------------------------------------------------------------------

def _is_table_constraint(part: str) -> bool:
    """True for table-level constraint clauses, never for column definitions.

    Word boundaries matter: a column named ``constraint_id`` or ``key`` must
    NOT be swallowed by the constraint filter. ``KEY idx (c)`` (MySQL) and a
    column ``key varchar(10)`` share the shape ``key <word>(...)``; the
    second word being a known SQL type is what marks it as a column."""
    p = part.strip().lower()
    if re.match(r"(constraint\b|foreign\s+key\b|unique\s*\(|check\s*\()", p):
        return True
    m = re.match(r"(?:key|index)\s+(\w+)", p)
    if m:
        return not any(k.split()[0] == m.group(1).upper() for k in source_types("sql"))
    return bool(re.match(r"(?:key|index)\s*\(", p))


def _sql_col_type(raw: str) -> Field:
    """The leading SQL type of a column definition -> contract Field; the
    longest known spelling wins (``double precision`` over ``double``)."""
    t = raw.strip().upper()
    for spelling in sorted(source_types("sql"), key=len, reverse=True):
        # (?!\w) instead of \b: after "varchar(255)" the next char is a space
        # and ")"+" " has no word boundary, so \b silently dropped maxLength
        # whenever constraints followed the type
        m = re.match(re.escape(spelling) + r"(?:\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\))?(?!\w)", t)
        if m:
            f = Field(type=source_type(spelling, "sql"))
            if f.type == "varchar" and m.group(1):
                f.maxLength = int(m.group(1))
            if f.type == "decimal" and m.group(2):
                f.precision, f.scale = int(m.group(1)), int(m.group(2))
            return f
    raise ValueError(f"sql type {raw.strip()!r} has no contract type")


def import_from_sql(source: str, contract_id: str = "imported") -> DataContractSpecification:
    """ANSI CREATE TABLE DDL -> contract (round-trips with export.to_sql_ddl).

    Regex-grammar parser (the reference leans on sqlglot, not shipped here):
    handles multiple statements, NOT NULL, inline + table-level PRIMARY KEY,
    and quoted identifiers.
    """
    ddl = _read_text(source)
    spec = _base(contract_id)
    for stmt in re.finditer(
        r"create\s+(?:or\s+replace\s+)?table\s+(?:if\s+not\s+exists\s+)?"
        r"[\"'`]?([\w.]+)[\"'`]?\s*\((.*?)\)\s*(?:;|$)",
        ddl, re.IGNORECASE | re.DOTALL,
    ):
        tname = stmt.group(1).split(".")[-1]
        body = stmt.group(2)
        fields: Dict[str, Field] = {}
        pks: List[str] = []
        for part in _split_top(body.strip()):
            part = part.strip().rstrip(",").strip()
            if not part:
                continue
            m = re.match(
                r"(?:constraint\s+\w+\s+)?primary\s+key\s*\(([^)]*)\)",
                part, re.IGNORECASE)
            if m:
                pks += [c.strip().strip('"`') for c in m.group(1).split(",")]
                continue
            if _is_table_constraint(part):
                continue
            cm = re.match(r"[\"'`]?(\w+)[\"'`]?\s+(.+)", part, re.DOTALL)
            if not cm:
                continue
            cname, rest = cm.group(1), cm.group(2)
            f = _sql_col_type(rest)
            if re.search(r"\bnot\s+null\b", rest, re.IGNORECASE):
                f.required = True
            if re.search(r"\bprimary\s+key\b", rest, re.IGNORECASE):
                f.primaryKey = True
            fields[cname] = f
        if len(pks) == 1 and pks[0] in fields:
            fields[pks[0]].primaryKey = True
        model = Model(type="table", fields=fields)
        if len(pks) > 1:
            model.primaryKey = pks
        spec.models[tname] = model
    return spec


# ---------------------------------------------------------------------------
# dbt manifest.json
# ---------------------------------------------------------------------------

def import_from_dbt(source, contract_id: Optional[str] = None,
                    resource_types: Optional[List[str]] = None) -> DataContractSpecification:
    """dbt manifest.json -> contract (nodes of resource_type 'model').

    Reads the manifest as plain JSON (the reference requires dbt-core to be
    installed): node name/description, columns with data_type/description, and
    not_null/unique generic tests attached to the column.
    """
    doc = _load_json(source)
    project = (doc.get("metadata") or {}).get("project_name") or "imported"
    spec = _base(contract_id or project)
    keep = set(resource_types or ["model"])
    # column-level generic tests: test nodes carry column_name + test name
    tests_by_model_col: Dict[Tuple[str, str], set] = {}
    for node in (doc.get("nodes") or {}).values():
        if node.get("resource_type") == "test" and node.get("column_name"):
            meta = node.get("test_metadata") or {}
            attached = node.get("attached_node") or ""
            tests_by_model_col.setdefault(
                (attached.split(".")[-1], node["column_name"]), set()
            ).add(meta.get("name") or node.get("name", ""))
    for node in (doc.get("nodes") or {}).values():
        if node.get("resource_type") not in keep:
            continue
        mname = node.get("name")
        fields: Dict[str, Field] = {}
        for cname, col in (node.get("columns") or {}).items():
            f = Field()
            if col.get("data_type"):
                f = _sql_col_type(str(col["data_type"]))
            if col.get("description"):
                f.description = col["description"]
            tests = tests_by_model_col.get((mname, cname), set())
            if "not_null" in tests:
                f.required = True
            if "unique" in tests:
                f.unique = True
            for c in col.get("constraints") or []:
                if (c.get("type") if isinstance(c, dict) else c) == "not_null":
                    f.required = True
            fields[cname] = f
        model = Model(type="table", fields=fields)
        if node.get("description"):
            model.description = node["description"]
        spec.models[mname] = model
    return spec


# ---------------------------------------------------------------------------
# dbml
# ---------------------------------------------------------------------------

def import_from_dbml(source: str, contract_id: str = "imported") -> DataContractSpecification:
    """DBML document -> contract (round-trips with export_extra.to_dbml)."""
    text = _read_text(source)
    spec = _base(contract_id)
    for tm in re.finditer(
        r'Table\s+"?([\w.]+)"?\s*\{(.*?)\n\}', text, re.DOTALL
    ):
        tname = tm.group(1).split(".")[-1]
        fields: Dict[str, Field] = {}
        # index blocks and (possibly multi-line) notes are not columns
        body = re.sub(r"\bindexes\s*\{[^}]*\}|\b[Nn]ote:\s*'''.*?'''", "",
                      tm.group(2), flags=re.DOTALL)
        for line in body.splitlines():
            line = line.strip()
            if not line or line.startswith(("Note:", "note:", "//")):
                continue
            cm = re.match(r'"?([\w]+)"?\s+"?([\w(),\s]+?)"?\s*(\[(.*)\])?$', line)
            if not cm:
                raise ValueError(f"dbml table {tname!r}: cannot parse column line {line!r}")
            cname, ctype, settings = cm.group(1), cm.group(2), cm.group(4) or ""
            f = _sql_col_type(ctype)
            nm = re.search(r"note:\s*'([^']*)'", settings)
            if nm:
                f.description = nm.group(1)
            # parse the settings LIST, note text excluded — a description
            # containing the words 'unique' or 'pk' must not invent
            # constraints (substring matching over the raw bracket body did)
            cleaned = re.sub(r"note:\s*'[^']*'", "", settings)
            tokens = {t.strip().lower() for t in cleaned.split(",") if t.strip()}
            if "pk" in tokens or "primary key" in tokens:
                f.primaryKey = True
            if "not null" in tokens:
                f.required = True
            if "unique" in tokens:
                f.unique = True
            fields[cname] = f
        spec.models[tname] = Model(type="table", fields=fields)
    for rm in re.finditer(
        r'Ref:\s*"?([\w.]+)"?\."?(\w+)"?\s*>\s*"?([\w.]+)"?\."?(\w+)"?', text
    ):
        child_t, child_c, parent_t, parent_c = rm.groups()
        model = spec.models.get(child_t.split(".")[-1])
        if model and child_c in model.fields:
            model.fields[child_c].references = f"{parent_t.split('.')[-1]}.{parent_c}"
    return spec


# ---------------------------------------------------------------------------
# protobuf
# ---------------------------------------------------------------------------

def import_from_protobuf(source: str, contract_id: str = "imported") -> DataContractSpecification:
    """proto3 document -> contract: one model per top-level message; enums map
    to string fields with `enum` constraints; `repeated` -> array; message-typed
    fields -> struct (round-trips with export.to_protobuf)."""
    text = _read_text(source)
    spec = _base(contract_id)

    def parse_block(body: str) -> Tuple[Dict[Tuple[str, str], str], str]:
        """((kind, name) -> inner body for each TOP-LEVEL `message`/`enum`
        block, ``body`` with those blocks cut out).

        Depth-aware, and matches that start inside an already-captured block
        are skipped — a nested `message LineItem {...}` belongs to its parent
        as a struct field, never to the model list (a phantom top-level model
        would make the engine look for a table that doesn't exist)."""
        blocks, rest = {}, []
        pos = 0
        for m in re.finditer(r"\b(message|enum)\s+(\w+)\s*\{", body):
            if m.start() < pos:
                continue  # nested inside the previous top-level block
            depth, i = 1, m.end()
            while i < len(body) and depth:
                if body[i] == "{":
                    depth += 1
                elif body[i] == "}":
                    depth -= 1
                i += 1
            blocks[(m.group(1), m.group(2))] = body[m.end():i - 1]
            rest.append(body[pos:m.start()])
            pos = i
        return blocks, "".join(rest) + body[pos:]

    top, _ = parse_block(text)
    enums: Dict[str, List[str]] = {}
    for (kind, name), body in top.items():
        if kind == "enum":
            prefix = name.upper().replace("-", "_") + "_"
            values = [
                em.group(1) for em in re.finditer(r"^\s*(\w+)\s*=\s*\d+\s*;", body, re.MULTILINE)
            ]
            # our exporter prefixes constants with the enum name (proto3 shared
            # constant namespace); strip it back off on the way in
            enums[name] = [
                v[len(prefix):] if v.startswith(prefix) else v for v in values
            ]

    def fields_of(body: str, scope_msgs: Dict[str, str]) -> Dict[str, Field]:
        out: Dict[str, Field] = {}
        blocks, flat = parse_block(body)
        scope_msgs = {**scope_msgs, **{n: b for (k, n), b in blocks.items() if k == "message"}}

        def field_of(ptype: str) -> Field:
            if ptype in enums:
                return Field(type="string", enum=list(enums[ptype]))
            if ptype in scope_msgs:
                return Field(type="struct", fields=fields_of(scope_msgs[ptype], scope_msgs))
            return Field(type=source_type(ptype, "protobuf"))

        for fm in re.finditer(
            r"^\s*(repeated\s+|optional\s+)?(?:map\s*<\s*([\w.]+)\s*,\s*([\w.]+)\s*>|([\w.]+))"
            r"\s+(\w+)\s*=\s*\d+\s*;", flat, re.MULTILINE
        ):
            label, name = fm.group(1) or "", fm.group(5)
            if fm.group(4) is None:
                f = Field(type="map", keys=field_of(fm.group(2)), values=field_of(fm.group(3)))
            else:
                f = field_of(fm.group(4))
            if label.strip() == "repeated":
                f = Field(type="array", items=f)
            out[name] = f
        return out

    msg_bodies = {name: body for (kind, name), body in top.items() if kind == "message"}
    for name, body in msg_bodies.items():
        spec.models[name] = Model(type="table", fields=fields_of(body, msg_bodies))
    return spec
