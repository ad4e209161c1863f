"""Linters, breaking diff, exporters, importers, output writers, CLI."""

import json
import os

import pytest
import yaml

from dcspark import DataContractSpecification
from dcspark.breaking import breaking, changelog
from dcspark.export import (
    export, to_checks_dict, to_iceberg_schema, to_jsonschema, to_spark_ddl,
)
from dcspark.imports import import_from_csv, import_from_parquet, import_from_spark
from dcspark.lint import lint
from dcspark.output import exit_code, format_console, to_junit_xml
from dcspark.run_model import ResultEnum

CONTRACT = """
id: test-contract
info: {title: T, version: 1.0.0, description: d, owner: o}
models:
  t:
    description: model d
    fields:
      id: {type: string, required: true, unique: true, primaryKey: true, description: d,
           pattern: "^x[0-9]+$"}
      n: {type: int, minimum: 0, maximum: 10, description: d}
      e: {type: string, enum: [a, b], description: d}
"""

BAD_CONTRACT = """
id: bad
models:
  t:
    fields:
      a: {type: string, pattern: "([unclosed"}
      b: {type: int, minimum: 10, maximum: 1}
      c: {type: wat}
      d: {type: string, references: nope.q}
      e: {type: int, pattern: "x"}
"""


def test_lint_passes_clean_contract():
    run = lint(DataContractSpecification.from_string(CONTRACT))
    by = {c.key: c.result for c in run.checks}
    assert by["lint__field_pattern"] == ResultEnum.passed
    assert by["lint__field_reference"] == ResultEnum.passed
    assert by["lint__valid_constraints"] == ResultEnum.passed


def test_lint_flags_bad_contract():
    run = lint(DataContractSpecification.from_string(BAD_CONTRACT))
    by = {c.key: c for c in run.checks}
    assert by["lint__field_pattern"].result == ResultEnum.warning
    assert "does not compile" in by["lint__field_pattern"].reason
    assert by["lint__field_reference"].result == ResultEnum.warning
    assert by["lint__valid_constraints"].result == ResultEnum.warning
    reason = by["lint__valid_constraints"].reason
    assert "minimum > maximum" in reason
    assert "unknown type" in reason
    assert "pattern on non-string" in reason


def test_breaking_rules():
    old = DataContractSpecification.from_string(CONTRACT)
    new_yaml = CONTRACT.replace("type: int", "type: string").replace(
        "id: {type: string, required: true", "id: {type: string, required: false")
    new = DataContractSpecification.from_string(new_yaml)
    # drop a field entirely
    del new.models["t"].fields["e"]
    ch = breaking(old, new)
    rules = {c.rule for c in ch.changes}
    assert "field_type_updated" in rules
    assert "field_removed" in rules
    assert ch.has_errors
    # changelog includes info-level additions
    new2 = DataContractSpecification.from_string(CONTRACT)
    new2.models["extra"] = new2.models["t"]
    log = changelog(old, new2)
    assert any(c.rule == "model_added" for c in log.changes)


def test_breaking_identical_is_empty():
    a = DataContractSpecification.from_string(CONTRACT)
    b = DataContractSpecification.from_string(CONTRACT)
    assert breaking(a, b).changes == []


def test_export_spark_ddl():
    spec = DataContractSpecification.from_string(CONTRACT)
    ddl = to_spark_ddl(spec)
    assert "CREATE TABLE t" in ddl
    assert "id string NOT NULL" in ddl
    assert "n int" in ddl


def test_export_jsonschema():
    spec = DataContractSpecification.from_string(CONTRACT)
    js = to_jsonschema(spec.models["t"])
    assert js["$schema"].endswith("draft-07/schema#")
    assert js["properties"]["id"]["type"] == "string"        # required: no null union
    assert js["properties"]["n"]["type"] == ["integer", "null"]
    assert js["properties"]["n"]["minimum"] == 0
    assert js["properties"]["e"]["enum"] == ["a", "b"]
    assert js["required"] == ["id"]


def test_export_checks_doc():
    spec = DataContractSpecification.from_string(CONTRACT)
    doc = to_checks_dict(spec)
    keys = {c["key"] for c in doc["t"]}
    assert "t__id__field_unique" in keys
    assert "t__n__field_minimum" in keys
    assert "t__e__field_enum" in keys


def test_export_iceberg():
    spec = DataContractSpecification.from_string(CONTRACT)
    ice = to_iceberg_schema(spec.models["t"])
    assert ice["type"] == "struct"
    by_name = {f["name"]: f for f in ice["fields"]}
    assert by_name["id"]["required"] is True
    assert by_name["n"]["type"] == "int"
    assert ice["identifier-field-ids"] == [by_name["id"]["id"]]


def test_export_factory_formats():
    spec = DataContractSpecification.from_string(CONTRACT)
    for fmt in ["spark", "spark-json", "jsonschema", "checks", "iceberg",
                "sql", "sql-query", "avro", "protobuf", "dbt-sources",
                "great-expectations", "markdown",
                "odcs", "html", "dbt", "dbt-staging-sql", "bigquery", "dbml",
                "sqlalchemy", "pydantic-model", "rdf", "go", "avro-idl",
                "data-caterer", "dcs"]:
        out = export(spec, fmt)
        assert out, fmt
    with pytest.raises(ValueError):
        export(spec, "nope")
    with pytest.raises(ValueError):
        export(spec, "custom")  # custom requires a template


def test_export_new_formats_content(tmp_path):
    spec = DataContractSpecification.from_string(CONTRACT)
    html = export(spec, "html")
    assert "<h2>Model: t</h2>" in html and "^x[0-9]+$" in html
    dbml = export(spec, "dbml")
    assert 'Table "t" {' in dbml and '"id" "VARCHAR" [pk, not null, unique' in dbml
    go = export(spec, "go")
    assert "type T struct {" in go and "Id string" in go and "*int" in go
    sa = export(spec, "sqlalchemy")
    compile(sa, "<sa>", "exec")  # generated source must be valid Python
    assert "__tablename__ = 't'" in sa and "primary_key=True" in sa
    pyd = export(spec, "pydantic-model")
    compile(pyd, "<pyd>", "exec")
    assert "class T(pydantic.BaseModel):" in pyd and "typing.Optional[int]" in pyd
    idl = export(spec, "avro-idl")
    assert "protocol TestContract {" in idl and "record T {" in idl and "int? n;" in idl
    staging = export(spec, "dbt-staging-sql")
    assert "from {{ source('test-contract', 't') }}" in staging
    bq = json.loads(export(spec, "bigquery"))
    cols = {f["name"]: f for f in bq["schema"]["fields"]}
    assert cols["id"]["mode"] == "REQUIRED" and cols["n"]["type"] == "INTEGER"
    rdf = export(spec, "rdf")
    assert "a dc:DataContract" in rdf and "dc:field" in rdf
    tpl = tmp_path / "tpl.j2"
    tpl.write_text("contract={{ data_contract.id }} models={{ data_contract.models | length }}")
    assert export(spec, "custom", template=str(tpl)) == "contract=test-contract models=1"


def test_import_sql_roundtrip():
    from dcspark.imports import import_contract

    spec = DataContractSpecification.from_string(CONTRACT)
    ddl = export(spec, "sql")
    back = import_contract("sql", ddl)
    t = back.models["t"].fields
    assert set(t) == {"id", "n", "e"}
    assert t["id"].type == "varchar" and t["id"].required and t["id"].primaryKey
    assert t["n"].type == "integer"


def test_import_protobuf_roundtrip():
    from dcspark.imports import import_contract

    spec = DataContractSpecification.from_string(CONTRACT)
    proto = export(spec, "protobuf")
    back = import_contract("protobuf", proto)
    t = back.models["t"].fields
    assert t["id"].type == "string"
    assert t["n"].type == "integer"
    # enum values recovered modulo proto3 constant uppercasing
    assert t["e"].enum == ["A", "B"]


def test_import_dbml_roundtrip():
    from dcspark.imports import import_contract

    spec = DataContractSpecification.from_string(CONTRACT)
    back = import_contract("dbml", export(spec, "dbml"))
    t = back.models["t"].fields
    assert t["id"].primaryKey and t["id"].required and t["id"].unique
    assert t["n"].type == "integer" and t["id"].description == "d"


def test_import_bigquery_roundtrip():
    from dcspark.imports import import_contract

    spec = DataContractSpecification.from_string(CONTRACT)
    back = import_contract("bigquery", export(spec, "bigquery"))
    t = back.models["t"].fields
    assert t["id"].type == "string" and t["id"].required
    assert t["n"].type == "int"


def test_import_glue_json():
    from dcspark.imports import import_contract

    doc = {"Table": {
        "Name": "clips",
        "StorageDescriptor": {"Columns": [
            {"Name": "clip_id", "Type": "string", "Comment": "pk"},
            {"Name": "scores", "Type": "array<double>"},
            {"Name": "meta", "Type": "struct<sr:int,codec:string>"},
            {"Name": "tags", "Type": "map<string,int>"},
            {"Name": "price", "Type": "decimal(10,2)"},
        ]},
        "PartitionKeys": [{"Name": "dt", "Type": "string"}],
    }}
    spec = import_contract("glue", doc)
    f = spec.models["clips"].fields
    assert f["clip_id"].type == "string" and f["clip_id"].description == "pk"
    assert f["scores"].type == "array" and f["scores"].items.type == "double"
    assert f["meta"].type == "struct" and f["meta"].fields["sr"].type == "integer"
    assert f["tags"].type == "map" and f["tags"].values.type == "integer"
    assert f["price"].precision == 10 and f["price"].scale == 2
    assert f["dt"].required  # hive partition keys are required


def test_import_unity_json():
    import pyspark.sql.types as T

    from dcspark.imports import import_contract

    cols = [
        {"name": "clip_id", "comment": "the id",
         "type_json": json.dumps(T.StructField("clip_id", T.StringType(), False).jsonValue())},
        {"name": "dur_ms",
         "type_json": json.dumps(T.StructField("dur_ms", T.IntegerType(), True).jsonValue())},
        {"name": "emb",
         "type_json": json.dumps(
             T.StructField("emb", T.ArrayType(T.FloatType()), True).jsonValue())},
    ]
    spec = import_contract("unity", {"name": "clips", "comment": "audio", "columns": cols})
    f = spec.models["clips"].fields
    assert f["clip_id"].required and f["clip_id"].description == "the id"
    assert f["dur_ms"].type == "integer"
    assert f["emb"].type == "array" and f["emb"].items.type == "float"
    assert spec.models["clips"].description == "audio"


def test_import_dbt_manifest():
    from dcspark.imports import import_contract

    manifest = {
        "metadata": {"project_name": "analytics"},
        "nodes": {
            "model.analytics.clips": {
                "resource_type": "model", "name": "clips", "description": "clip table",
                "columns": {
                    "clip_id": {"name": "clip_id", "data_type": "varchar", "description": "id"},
                    "dur_ms": {"name": "dur_ms", "data_type": "bigint"},
                },
            },
            "test.analytics.not_null_clips_clip_id": {
                "resource_type": "test", "column_name": "clip_id",
                "attached_node": "model.analytics.clips",
                "test_metadata": {"name": "not_null"},
            },
            "test.analytics.unique_clips_clip_id": {
                "resource_type": "test", "column_name": "clip_id",
                "attached_node": "model.analytics.clips",
                "test_metadata": {"name": "unique"},
            },
        },
    }
    spec = import_contract("dbt", manifest)
    assert spec.id == "analytics"
    f = spec.models["clips"].fields
    assert f["clip_id"].required and f["clip_id"].unique
    assert f["dur_ms"].type == "bigint"
    assert spec.models["clips"].description == "clip table"


def test_export_terraform_s3():
    spec = DataContractSpecification.from_string(
        CONTRACT + "\nservers:\n  prod:\n    type: s3\n    location: s3://my-bucket/data/*.parquet\n"
    )
    tf = export(spec, "terraform")
    assert 'resource "aws_s3_bucket" "test-contract_prod"' in tf
    assert 'bucket = "my-bucket"' in tf
    # data-caterer picks the server up for step typing
    dc = yaml.safe_load(export(spec, "data-caterer"))
    assert dc["steps"][0]["options"]["path"].startswith("s3://")


def test_export_odcs_roundtrip():
    """odcs export -> odcs import recovers the model shape (VERDICT r01 #4)."""
    from dcspark.imports import import_contract

    spec = DataContractSpecification.from_string(
        CONTRACT + "\nservicelevels:\n  retention: {period: 30d}\n")
    odcs_yaml = export(spec, "odcs")
    back = import_contract("odcs", odcs_yaml)
    assert back.id == spec.id
    assert set(back.models["t"].fields) == set(spec.models["t"].fields)
    t = back.models["t"].fields
    assert t["id"].required and t["id"].unique and t["id"].primaryKey
    assert t["n"].type in ("integer", "int")
    # slaProperties retention survives the round trip
    assert back.servicelevels.retention.period == "30d"


def test_export_odcs_roundtrip_keeps_field_constraints():
    """ADVICE r02 #4: logicalTypeOptions must carry min/max/pattern/length
    bounds through the odcs export->import round trip (reference
    odcs_v3_exporter.py:252-268)."""
    import yaml

    from dcspark.imports import import_contract

    spec = DataContractSpecification.from_string("""
id: lto-rt
info: {title: t, version: 0.1.0}
models:
  t:
    fields:
      name: {type: string, minLength: 2, maxLength: 10, pattern: "^[a-z]+$"}
      qty: {type: integer, minimum: 0, maximum: 100}
      rate: {type: double, exclusiveMinimum: 0.0, exclusiveMaximum: 1.0}
""")
    odcs_yaml = export(spec, "odcs")
    doc = yaml.safe_load(odcs_yaml)
    props = {p["name"]: p for p in doc["schema"][0]["properties"]}
    assert props["name"]["logicalTypeOptions"] == {
        "minLength": 2, "maxLength": 10, "pattern": "^[a-z]+$"}
    assert props["qty"]["logicalTypeOptions"] == {"minimum": 0, "maximum": 100}
    back = import_contract("odcs", odcs_yaml).models["t"].fields
    assert back["name"].minLength == 2 and back["name"].maxLength == 10
    assert back["name"].pattern == "^[a-z]+$"
    assert back["qty"].minimum == 0 and back["qty"].maximum == 100
    assert back["rate"].exclusiveMinimum == 0.0
    assert back["rate"].exclusiveMaximum == 1.0


def test_export_sql_ddl():
    spec = DataContractSpecification.from_string(CONTRACT)
    ddl = export(spec, "sql")
    assert "CREATE TABLE t (" in ddl
    assert "id VARCHAR NOT NULL" in ddl
    assert "n INTEGER" in ddl
    assert "PRIMARY KEY (id)" in ddl
    q = export(spec, "sql-query")
    assert "SELECT" in q and "FROM t;" in q


def test_export_avro_schema():
    avro_contract = """
id: avro-c
models:
  t:
    fields:
      id: {type: string, required: true}
      opt: {type: int, required: false}
      ts: {type: timestamp, required: true}
      tags: {type: array, required: true, items: {type: string}}
"""
    spec = DataContractSpecification.from_string(avro_contract)
    doc = json.loads(export(spec, "avro", model="t"))
    assert doc["type"] == "record" and doc["name"] == "t"
    by_name = {f["name"]: f for f in doc["fields"]}
    assert by_name["id"]["type"] == "string"            # required -> bare type
    assert by_name["opt"]["type"] == ["null", "int"]    # optional -> null union
    assert by_name["ts"]["type"] == {"type": "long", "logicalType": "timestamp-millis"}
    assert by_name["tags"]["type"] == {"type": "array", "items": "string"}


def test_export_protobuf():
    spec = DataContractSpecification.from_string(CONTRACT)
    proto = export(spec, "protobuf")
    assert 'syntax = "proto3";' in proto
    assert "message t {" in proto
    # enums scoped per (message, field); constants prefixed with the enum name
    # (proto3 enum constants share the enclosing scope's namespace)
    assert "enum T_E_Enum {" in proto and "T_E_ENUM_A = 0;" in proto
    assert "T_E_Enum e = 3;" in proto
    assert "string id = 1;" in proto


def test_export_dbt_sources_tests_mapping():
    spec = DataContractSpecification.from_string(CONTRACT)
    doc = yaml.safe_load(export(spec, "dbt-sources"))
    table = doc["sources"][0]["tables"][0]
    cols = {c["name"]: c for c in table["columns"]}
    assert "not_null" in cols["id"]["tests"] and "unique" in cols["id"]["tests"]
    accepted = [t for t in cols["e"]["tests"] if isinstance(t, dict)][0]
    assert accepted["accepted_values"]["values"] == ["a", "b"]


def test_export_great_expectations():
    spec = DataContractSpecification.from_string(CONTRACT)
    doc = json.loads(export(spec, "great-expectations", model="t"))
    types = {e["expectation_type"] for e in doc["expectations"]}
    assert {"expect_table_columns_to_match_ordered_list",
            "expect_column_values_to_not_be_null",
            "expect_column_values_to_be_unique",
            "expect_column_values_to_be_in_set",
            "expect_column_values_to_match_regex",
            "expect_column_values_to_be_between"} <= types


def test_avro_export_import_roundtrip():
    """export avro -> import avro preserves types, requiredness, and nesting."""
    from dcspark.imports import import_from_avro

    contract = """
id: rt
models:
  t:
    fields:
      id: {type: string, required: true}
      opt: {type: int, required: false}
      ts: {type: timestamp, required: true}
      amount: {type: decimal, precision: 10, scale: 2, required: true}
      tags: {type: array, required: true, items: {type: string}}
"""
    spec = DataContractSpecification.from_string(contract)
    doc = json.loads(export(spec, "avro", model="t"))
    back = import_from_avro(doc)
    f = back.models["t"].fields
    assert f["id"].type == "string" and f["id"].required
    assert f["opt"].type == "int" and f["opt"].required is False
    assert f["ts"].type == "timestamp"
    assert f["amount"].type == "decimal" and f["amount"].precision == 10
    assert f["tags"].type == "array" and f["tags"].items.type == "string"


def test_jsonschema_export_import_roundtrip():
    """export jsonschema -> import jsonschema round-trips the constraint set."""
    from dcspark.imports import import_from_jsonschema

    spec = DataContractSpecification.from_string(CONTRACT)
    doc = json.loads(export(spec, "jsonschema", model="t"))
    back = import_from_jsonschema(doc, model_name="t")
    f = back.models["t"].fields
    assert f["id"].required and f["id"].pattern == "^x[0-9]+$"
    assert f["n"].minimum == 0 and f["n"].maximum == 10
    assert f["e"].enum == ["a", "b"]


def test_export_markdown_doc():
    spec = DataContractSpecification.from_string(CONTRACT)
    md = export(spec, "markdown")
    assert "# T" in md and "## t" in md
    assert "| id | string | yes |" in md
    assert "enum ['a', 'b']" in md


def test_import_parquet_roundtrip(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "a": pa.array([1, 2], type=pa.int64()),
        "b": pa.array(["x", "y"], type=pa.string()),
        "c": pa.array([1.5, 2.5], type=pa.float64()),
    })
    path = str(tmp_path / "t.parquet")
    pq.write_table(table, path)
    spec = import_from_parquet(path)
    fields = spec.models["t"].fields
    assert fields["a"].type == "long"
    assert fields["b"].type == "string"
    assert fields["c"].type == "double"


def test_import_csv(tmp_path):
    path = str(tmp_path / "d.csv")
    with open(path, "w") as f:
        f.write("x,y,z,ts\n1,a,1.5,2024-01-01T00:00:00\n2,b,2.5,2024-01-02T00:00:00\n")
    spec = import_from_csv(path)
    fields = spec.models["d"].fields
    assert fields["x"].type == "long"
    assert fields["y"].type == "string"
    assert fields["z"].type == "double"
    assert fields["ts"].type == "timestamp_ntz"


def test_import_iceberg_roundtrip():
    """export -> import round-trip preserves types, required, primary key."""
    from dcspark.imports import import_from_iceberg

    spec = DataContractSpecification.from_string(CONTRACT)
    ice = to_iceberg_schema(spec.models["t"])
    back = import_from_iceberg(ice, model_name="t")
    fields = back.models["t"].fields
    assert fields["id"].type == "string"
    assert fields["id"].required is True
    assert fields["id"].primaryKey is True
    assert back.models["t"].primaryKey == ["id"]
    assert fields["n"].type == "integer"


def test_import_from_spark(spark):
    df = spark.createDataFrame([(1, "a")], schema="k long, v string")
    spec = import_from_spark(df, model_name="m")
    assert spec.models["m"].fields["k"].type == "long"
    assert spec.models["m"].fields["v"].type == "string"


def test_output_writers():
    spec = DataContractSpecification.from_string(CONTRACT)
    run = lint(spec)
    text = format_console(run)
    assert "RUN RESULT:" in text
    xml = to_junit_xml(run)
    assert xml.startswith('<?xml')
    assert "<testsuite" in xml
    assert exit_code(run) in (0, 1)


def test_cli_lint_export_breaking(tmp_path, capsys):
    from dcspark.cli import main

    cpath = str(tmp_path / "c.yaml")
    with open(cpath, "w") as f:
        f.write(CONTRACT)
    assert main(["lint", cpath]) == 0
    capsys.readouterr()
    assert main(["export", cpath, "--format", "jsonschema"]) == 0
    out = capsys.readouterr().out
    assert json.loads(out)["t"]["properties"]["id"]["type"] == "string"
    # breaking: identical -> 0; type change -> 1
    c2 = str(tmp_path / "c2.yaml")
    with open(c2, "w") as f:
        f.write(CONTRACT.replace("type: int", "type: string"))
    assert main(["breaking", cpath, cpath]) == 0
    capsys.readouterr()
    assert main(["breaking", cpath, c2]) == 1


def test_cli_import_csv(tmp_path, capsys):
    from dcspark.cli import main

    path = str(tmp_path / "d.csv")
    with open(path, "w") as f:
        f.write("a,b\n1,x\n")
    assert main(["import", "--format", "csv", path]) == 0
    doc = yaml.safe_load(capsys.readouterr().out)
    assert doc["models"]["d"]["fields"]["a"]["type"] == "long"


def test_cli_import_odcs_and_default_model_name(tmp_path, capsys):
    """ADVICE r01 regression: `import --format odcs` must not TypeError (the
    ODCS importer takes no model_name), and `--format jsonschema` without
    --model must fall back to the importer default, never a None model key."""
    from tests.test_spec import ODCS_V3
    from dcspark.cli import main

    opath = str(tmp_path / "c.odcs.yaml")
    with open(opath, "w") as f:
        f.write(ODCS_V3)
    assert main(["import", "--format", "odcs", opath]) == 0
    doc = yaml.safe_load(capsys.readouterr().out)
    assert "audio_clips" in doc["models"]

    jpath = str(tmp_path / "s.json")
    with open(jpath, "w") as f:
        f.write('{"type": "object", "properties": {"a": {"type": "string"}}}')
    assert main(["import", "--format", "jsonschema", jpath]) == 0
    doc = yaml.safe_load(capsys.readouterr().out)
    assert None not in doc["models"] and "null" not in doc["models"]
    assert list(doc["models"]) == ["imported"]


DRIFT_CONTRACT = """
dataContractSpecification: 1.1.0
id: drift-cli
info: {title: Drift CLI, version: 1.0.0}
models:
  events_t:
    type: table
    fields:
      v: {type: int, required: true}
    quality:
      - {type: drift, method: ks, column: v, threshold: 0.05}
      - {type: drift, method: psi, column: v, threshold: 0.2}
"""


def test_cli_snapshot_then_test_with_ref_stats(tmp_path, capsys, spark):
    """End-to-end drift workflow: `snapshot` builds the reference snapshot,
    `test --ref-stats` evaluates against it (self-comparison -> zero drift)."""
    from dcspark.cli import main

    cpath = str(tmp_path / "c.yaml")
    with open(cpath, "w") as f:
        f.write(DRIFT_CONTRACT)
    data_dir = tmp_path / "data"
    spark.range(500).selectExpr("cast(id % 97 as int) as v").write.parquet(
        str(data_dir / "events_t.parquet"))
    snap_dir = str(tmp_path / "snap")

    # without a snapshot the drift checks error (no silent pass)
    assert main(["test", cpath, "--path", str(data_dir)]) == 1
    capsys.readouterr()

    assert main(["snapshot", cpath, "--path", str(data_dir), "--out", snap_dir]) == 0
    capsys.readouterr()
    assert main(["test", cpath, "--path", str(data_dir), "--ref-stats", snap_dir]) == 0
    out = capsys.readouterr().out
    assert "RUN RESULT: passed" in out
    assert "drift_ks" in out and "drift_psi" in out


def test_api_lint_export_endpoints():
    """stdlib-HTTP API parity: POST /lint and /export round-trip JSON; bad
    contract -> 400; wrong api key -> 401; unknown endpoint -> 404."""
    import json as _json
    import threading
    import urllib.request
    import urllib.error

    from dcspark.api import make_server

    srv = make_server(port=0, api_key="sekrit")  # port 0: OS-assigned
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()

    def post(path, body, key="sekrit"):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}{path}",
            data=_json.dumps(body).encode(),
            headers={"Content-Type": "application/json", "x-api-key": key},
        )
        try:
            with urllib.request.urlopen(req) as r:
                return r.status, _json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, _json.loads(e.read())

    try:
        code, run = post("/lint", {"contract": CONTRACT})
        assert code == 200 and run["result"] in ("passed", "warning")
        assert any(c["category"] == "lint" or "lint" in (c.get("type") or "")
                   for c in run["checks"]) or run["checks"]

        code, out = post("/export", {"contract": CONTRACT, "format": "sql"})
        assert code == 200 and "CREATE TABLE t (" in out["result"]

        code, err = post("/lint", {"contract": ":::not yaml"})
        assert code == 400

        code, err = post("/lint", {"contract": CONTRACT}, key="wrong")
        assert code == 401

        code, err = post("/nope", {"contract": CONTRACT})
        assert code == 404

        # GET /openapi.json: unauthenticated (FastAPI convention), documents
        # exactly the served endpoints
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/openapi.json") as r:
            assert r.status == 200
            spec = _json.loads(r.read())
        assert spec["openapi"].startswith("3.")
        assert set(spec["paths"]) == {"/lint", "/export", "/test"}
        assert spec["components"]["securitySchemes"]["ApiKeyAuth"]["name"] == "x-api-key"
        for p in spec["paths"].values():
            assert "contract" in p["post"]["requestBody"]["content"][
                "application/json"]["schema"]["properties"]
    finally:
        srv.shutdown()


def test_cli_catalog(tmp_path, capsys):
    from dcspark.cli import main

    cdir = tmp_path / "contracts"
    cdir.mkdir()
    (cdir / "a.yaml").write_text(CONTRACT)
    (cdir / "b.yaml").write_text(CONTRACT.replace("test-contract", "other"))
    out = tmp_path / "cat"
    assert main(["catalog", "--files", str(cdir), "--output", str(out)]) == 0
    idx = (out / "index.html").read_text()
    assert "a.md" in idx and "b.md" in idx
    assert "| id | string | yes |" in (out / "a.md").read_text()


def test_api_test_endpoint_runs_validation(tmp_path, spark):
    """POST /test drives the full engine over a parquet dir through the API."""
    import json as _json
    import threading
    import urllib.request

    from dcspark.api import make_server

    spark.range(3).selectExpr(
        "concat('x', cast(id as string)) as id",
        "cast(id as int) as n",
        "'a' as e",
    ).write.parquet(str(tmp_path / "t.parquet"))

    srv = make_server(port=0, spark_factory=lambda: spark)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/test",
            data=_json.dumps({"contract": CONTRACT, "path": str(tmp_path)}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            run = _json.loads(r.read())
        assert r.status == 200
    finally:
        srv.shutdown()
    assert run["result"] == "passed"
    assert any(c["key"] == "t__id__field_unique" for c in run["checks"])


def test_cli_init_lints_clean(tmp_path, capsys):
    """`init` writes a starter contract that passes lint and re-init without
    --overwrite refuses to clobber."""
    from dcspark.cli import main

    out = str(tmp_path / "dc.yaml")
    assert main(["init", "--output", out]) == 0
    capsys.readouterr()
    assert main(["lint", out]) == 0
    assert "RUN RESULT: passed" in capsys.readouterr().out  # warning-free template
    assert main(["init", "--output", out]) == 1


def test_warehouse_example_contract_lints_and_compiles():
    """The shipped warehouse example exercises JDBC server config, nested
    dotted-path constraints, drift on a nested column, and service levels —
    it must lint clean and compile to the expected check kinds."""
    from dcspark import create_checks, lint
    from dcspark.io import jdbc_options

    spec = DataContractSpecification.from_file("/root/repo/contracts/warehouse_orders.yaml")
    run = lint(spec)
    assert all(c.result.value in ("passed", "warning") for c in run.checks)

    checks = create_checks(spec)
    kinds = {c.key: c.kind for c in checks["orders"]}
    assert kinds["orders__total.amount__field_minimum"] == "agg"
    assert kinds["orders__total.currency__field_regex"] == "agg"
    assert kinds["orders__customer_id__field_reference"] == "reference"
    assert kinds["orders__total.amount__drift_psi"] == "drift"
    assert any(c.kind == "freshness" for c in checks["orders"])
    assert any(c.kind == "retention" for c in checks["orders"])

    opts = jdbc_options(spec.servers["prod"], "orders")
    assert opts["url"] == "jdbc:postgresql://warehouse.internal:5432/analytics"
    assert opts["dbtable"] == "public.orders"


# -- periphery review-fix regressions -----------------------------------------


def test_sql_import_keeps_constraintlike_column_names():
    from dcspark.imports_extra import import_from_sql

    spec = import_from_sql(
        "create table t (name varchar(255) not null, constraint_id int, "
        "key varchar(10), constraint pk_t primary key (name));")
    f = spec.models["t"].fields
    assert set(f) == {"name", "constraint_id", "key"}
    assert f["name"].maxLength == 255       # survives trailing NOT NULL
    assert f["name"].required is True
    assert f["key"].maxLength == 10
    assert f["name"].primaryKey is True     # table-level PK still applied


def test_protobuf_nested_message_stays_nested():
    from dcspark.imports_extra import import_from_protobuf

    spec = import_from_protobuf("""
syntax = "proto3";
message Order {
  message LineItem { string sku = 1; }
  string id = 1;
  repeated LineItem items = 2;
}
""")
    assert list(spec.models) == ["Order"]   # no phantom LineItem model


def test_dbml_note_text_does_not_invent_constraints():
    from dcspark.imports_extra import import_from_dbml

    spec = import_from_dbml("""
Table "users" {
  "label" "VARCHAR" [note: 'unique identifier for the pkg user']
  "uid" "VARCHAR" [unique, not null]
}
""")
    f = spec.models["users"].fields
    assert f["label"].unique is None and f["label"].primaryKey is None
    assert f["label"].description == "unique identifier for the pkg user"
    assert f["uid"].unique is True and f["uid"].required is True


def test_breaking_detects_array_element_type_change():
    from dcspark.breaking import breaking
    from dcspark.spec import DataContractSpecification

    old = DataContractSpecification.from_string("""
id: a
models:
  m:
    fields:
      tags: {type: array, items: {type: integer}}
""")
    new = DataContractSpecification.from_string("""
id: a
models:
  m:
    fields:
      tags: {type: array, items: {type: string}}
""")
    changes = breaking(old, new)
    assert any("tags[items]" in c.location and "type" in c.rule
               for c in changes.changes)


def test_pydantic_export_optional_fields_have_defaults():
    from dcspark.export_extra import to_pydantic_model
    from dcspark.spec import DataContractSpecification

    spec = DataContractSpecification.from_string("""
id: p
models:
  m:
    fields:
      a: {type: string, required: true}
      b: {type: string}
""")
    src = to_pydantic_model(spec)
    assert "b: typing.Optional[str] = None" in src
    ns: dict = {}
    exec(src, ns)                       # generated module imports and runs
    inst = ns["M"](a="x")               # omitting optional b must be valid
    assert inst.b is None


def test_bigquery_export_omits_null_props_and_float64_double():
    from dcspark.export_extra import to_bigquery_schema
    from dcspark.spec import DataContractSpecification

    spec = DataContractSpecification.from_string("""
id: b
models:
  m:
    fields:
      s: {type: string}
      d: {type: double}
""")
    fields = {f["name"]: f for f in
              to_bigquery_schema(spec)["schema"]["fields"]}
    assert "maxLength" not in fields["s"] and "description" not in fields["s"]
    assert fields["d"]["type"] == "FLOAT64"
    assert "precision" not in fields["d"]


def test_odcs_export_omits_unknown_logical_type():
    from dcspark.export_extra import to_odcs_v3
    from dcspark.spec import DataContractSpecification

    spec = DataContractSpecification.from_string("""
id: o
models:
  m:
    fields:
      kv: {type: map, keys: {type: string}, values: {type: string}}
""")
    prop = to_odcs_v3(spec)["schema"][0]["properties"][0]
    assert "logicalType" not in prop    # null logicalType fails ODCS validation
    assert prop["physicalType"] == "map"


def test_cli_test_dry_run(capsys):
    """test --dry-run prints the compiled execution plan with zero Spark:
    every compiled check appears with its job shape, scopes are disclosed,
    and the flagship contract's audio rules all map to the ONE fused decode
    pass."""
    from dcspark.cli import main

    rc = main(["test", "contracts/audio_clips.yaml", "--dry-run",
               "--where", "sr_hz = 16000", "--model", "audio_clips",
               "--sample-fraction", "0.01"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "DRY RUN" in out and "no data read" in out
    assert "model audio_clips: 35 checks" in out
    assert "model transcripts_ref: 7 checks" in out
    assert "--where: sr_hz = 16000" in out
    assert "fused audio decode pass" in out
    assert "shared multi-aggregate scan" in out
    assert "audio_clips__clip_id__field_unique" in out
    assert "sample mode" in out and "1.0000%" in out


def test_cli_dry_run_shapes_track_engine_predicates(capsys, tmp_path):
    """The dry-run's conditional job shapes derive from the engine's own
    planning predicates (engine.plan_approx_unique / plan_fused_audio_fp),
    not a hand-maintained table: --unique-mode approx moves the unique check
    into the shared scan, and an fp-only contract (no co-running audio scan)
    reports a DEDICATED fingerprint job instead of overstating fusion."""
    from dcspark.cli import main

    # approx mode: unique rides the shared scan as an HLL sketch
    main(["test", "contracts/audio_clips.yaml", "--dry-run",
          "--unique-mode", "approx"])
    out = capsys.readouterr().out
    assert "HLL approx-distinct" in out
    assert "dedicated exact-uniqueness job" not in out

    # fp-only contract: no audio scan runs, so fusion must NOT be claimed
    c = tmp_path / "fp_only.yaml"
    c.write_text(
        "id: fp-only\n"
        "models:\n"
        "  clips:\n"
        "    fields:\n"
        "      clip_id: {type: string, primaryKey: true}\n"
        "      bytes: {type: bytes}\n"
        "    quality:\n"
        "      - {type: audio, invariant: content-uniqueness}\n"
    )
    main(["test", str(c), "--dry-run"])
    out = capsys.readouterr().out
    assert "dedicated fingerprint decode job (no co-running audio scan)" in out

    # same contract under checkpoint resume: the resume reason wins
    main(["test", str(c), "--dry-run", "--partition-col", "p",
          "--checkpoint-dir", str(tmp_path / "ck")])
    out = capsys.readouterr().out
    assert "dedicated fingerprint decode job" in out

    # flagship contract (decode-conformance present): fusion claimed, as the
    # engine actually fuses there
    main(["test", "contracts/audio_clips.yaml", "--dry-run"])
    out = capsys.readouterr().out
    assert "fused audio decode pass" in out


def test_cli_profile_sweep_gangs_shuffle_light_modes(capsys):
    """--profile sweep = approx unique + approx reference + t-digest
    quantiles in one flag; an explicit individual flag overrides it."""
    from dcspark.cli import main

    main(["test", "contracts/audio_clips.yaml", "--dry-run",
          "--profile", "sweep"])
    out = capsys.readouterr().out
    assert "HLL approx-distinct" in out
    assert "Bloom bitset" in out

    main(["test", "contracts/audio_clips.yaml", "--dry-run",
          "--profile", "sweep", "--unique-mode", "exact"])
    out = capsys.readouterr().out
    assert "HLL approx-distinct" not in out   # explicit flag wins
    assert "Bloom bitset" in out              # profile still covers the rest

    # default profile (certify) keeps every check exact
    main(["test", "contracts/audio_clips.yaml", "--dry-run"])
    out = capsys.readouterr().out
    assert "HLL" not in out and "Bloom bitset" not in out


def test_cli_test_dry_run_rejects_bad_model(capsys):
    from dcspark.cli import main

    with pytest.raises(SystemExit):
        main(["test", "contracts/audio_clips.yaml", "--dry-run",
              "--where", "1=1", "--model", "nope"])


def test_exit_code_reference_parity():
    """Review finding: the reference exits 0 for passed AND warning runs,
    1 for everything else INCLUDING unknown (fail closed)."""
    from dcspark.output import exit_code
    from dcspark.run_model import ResultEnum, Run

    def run_with(result):
        r = Run.create_run("c")
        r.result = result
        return r

    assert exit_code(run_with(ResultEnum.passed)) == 0
    assert exit_code(run_with(ResultEnum.warning)) == 0
    assert exit_code(run_with(ResultEnum.failed)) == 1
    assert exit_code(run_with(ResultEnum.error)) == 1
    assert exit_code(run_with(ResultEnum.unknown)) == 1
    assert exit_code(run_with(ResultEnum.info)) == 1


def test_junit_xml_escapes_double_quotes():
    """Review finding: reasons quoting observed values must not terminate
    the XML attribute early — the document must stay parseable."""
    from xml.dom import minidom

    from dcspark.output import to_junit_xml
    from dcspark.run_model import Check, ResultEnum, Run

    r = Run.create_run("c")
    r.checks.append(Check(
        key='k"with"quotes', name="n", result=ResultEnum.failed,
        reason='expected "uuid" format, got "abc"'))
    r.finish()
    doc = minidom.parseString(to_junit_xml(r))
    case = doc.getElementsByTagName("testcase")[0]
    assert case.getAttribute("name") == 'k"with"quotes'
    failure = doc.getElementsByTagName("failure")[0]
    assert failure.getAttribute("message") == 'expected "uuid" format, got "abc"'
