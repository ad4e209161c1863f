"""Per-check unit tests: one passing + one violating fixture per check kind,
asserting result, metric value, and violation rows (SURVEY.md §5 test plan)."""

import datetime as dt

import pytest

from dcspark import DataContractSpecification, ValidationConfig, validate
from dcspark.run_model import ResultEnum


def _contract(fields_yaml: str, extra_models: str = "") -> DataContractSpecification:
    return DataContractSpecification.from_string(
        f"id: t\nmodels:\n  m:\n    fields:\n{fields_yaml}{extra_models}"
    )


def _run(spark, spec, tables, **cfg):
    return validate(spark, spec, tables, ValidationConfig(**cfg))


def _result(res, key):
    return next(c for c in res.run.checks if c.key == key)


def _violations(res, key):
    if res.violations is None:
        return []
    return [r.asDict() for r in res.violations.filter(f"check_key = '{key}'").collect()]


def test_field_required(spark):
    spec = _contract("      a: {type: string, required: true}\n")
    good = spark.createDataFrame([("x",), ("y",)], "a string")
    bad = spark.createDataFrame([("x",), (None,), (None,)], "a string")
    assert _result(_run(spark, spec, {"m": good}), "m__a__field_required").result == ResultEnum.passed
    res = _run(spark, spec, {"m": bad})
    chk = _result(res, "m__a__field_required")
    assert chk.result == ResultEnum.failed
    assert chk.diagnostics["metric"] == 2.0
    assert len(_violations(res, "m__a__field_required")) == 2


def test_field_unique(spark):
    spec = _contract("      a: {type: string, unique: true}\n")
    good = spark.createDataFrame([("x",), ("y",), (None,), (None,)], "a string")  # nulls don't count
    bad = spark.createDataFrame([("x",), ("x",), ("x",), ("y",), ("y",), ("z",)], "a string")
    assert _result(_run(spark, spec, {"m": good}), "m__a__field_unique").result == ResultEnum.passed
    res = _run(spark, spec, {"m": bad})
    chk = _result(res, "m__a__field_unique")
    assert chk.result == ResultEnum.failed
    # duplicate_count = distinct values occurring >1 (soda semantics): x and y
    assert chk.diagnostics["metric"] == 2.0
    assert chk.diagnostics["dup_rows"] == 3  # 2 extra x + 1 extra y
    vio = _violations(res, "m__a__field_unique")
    assert {v["clip_id"] for v in vio} == {"x", "y"}


def test_length_checks_exclude_nulls(spark):
    spec = _contract("      a: {type: string, minLength: 2, maxLength: 4}\n")
    df = spark.createDataFrame([("ab",), ("abcd",), (None,)], "a string")
    res = _run(spark, spec, {"m": df})
    assert _result(res, "m__a__field_min_length").result == ResultEnum.passed
    assert _result(res, "m__a__field_max_length").result == ResultEnum.passed
    bad = spark.createDataFrame([("a",), ("abcde",), (None,)], "a string")
    res = _run(spark, spec, {"m": bad})
    assert _result(res, "m__a__field_min_length").diagnostics["metric"] == 1.0
    assert _result(res, "m__a__field_max_length").diagnostics["metric"] == 1.0


def test_min_max(spark):
    spec = _contract("      a: {type: int, minimum: 5, maximum: 10}\n")
    res = _run(spark, spec, {"m": spark.createDataFrame([(5,), (10,), (None,)], "a int")})
    assert _result(res, "m__a__field_minimum").result == ResultEnum.passed
    res = _run(spark, spec, {"m": spark.createDataFrame([(4,), (11,), (7,)], "a int")})
    assert _result(res, "m__a__field_minimum").diagnostics["metric"] == 1.0
    assert _result(res, "m__a__field_maximum").diagnostics["metric"] == 1.0


def test_exclusive_bounds(spark):
    spec = _contract("      a: {type: int, exclusiveMinimum: 5}\n")
    res = _run(spark, spec, {"m": spark.createDataFrame([(5,), (6,)], "a int")})
    # 5 passes field_minimum (>=5) but fails field_not_equal — two-check parity
    assert _result(res, "m__a__field_minimum").result == ResultEnum.passed
    assert _result(res, "m__a__field_not_equal_min").result == ResultEnum.failed


def test_enum(spark):
    spec = _contract('      a: {type: string, enum: ["x", "y"]}\n')
    res = _run(spark, spec, {"m": spark.createDataFrame([("x",), ("z",), (None,)], "a string")})
    chk = _result(res, "m__a__field_enum")
    assert chk.result == ResultEnum.failed and chk.diagnostics["metric"] == 1.0


def test_regex_and_format(spark):
    spec = _contract('      a: {type: string, pattern: "^ab-[0-9]+$"}\n'
                     "      b: {type: string, format: uuid}\n")
    good = spark.createDataFrame(
        [("ab-1", "d9428888-122b-11e1-b85c-61cd3cbb3210")], "a string, b string")
    res = _run(spark, spec, {"m": good})
    assert _result(res, "m__a__field_regex").result == ResultEnum.passed
    assert _result(res, "m__b__field_format_uuid").result == ResultEnum.passed
    bad = spark.createDataFrame([("xx", "not-a-uuid")], "a string, b string")
    res = _run(spark, spec, {"m": bad})
    assert _result(res, "m__a__field_regex").result == ResultEnum.failed
    assert _result(res, "m__b__field_format_uuid").result == ResultEnum.failed


def test_reference_anti_join(spark):
    spec = _contract(
        "      a: {type: string, references: p.k}\n",
        "  p:\n    fields:\n      k: {type: string}\n",
    )
    child = spark.createDataFrame([("x",), ("y",), (None,)], "a string")  # null not an orphan
    parent = spark.createDataFrame([("x",), ("y",), ("z",)], "k string")
    res = _run(spark, spec, {"m": child, "p": parent})
    assert _result(res, "m__a__field_reference").result == ResultEnum.passed
    orphan = spark.createDataFrame([("x",), ("q",), ("q",)], "a string")
    res = _run(spark, spec, {"m": orphan, "p": parent})
    chk = _result(res, "m__a__field_reference")
    assert chk.result == ResultEnum.failed and chk.diagnostics["metric"] == 2.0  # row-level orphans


def test_schema_checks_and_missing_column(spark):
    spec = _contract("      a: {type: string}\n      missing: {type: int, minimum: 1}\n")
    df = spark.createDataFrame([("x",)], "a string")
    res = _run(spark, spec, {"m": df})
    assert _result(res, "m__a__field_is_present").result == ResultEnum.passed
    assert _result(res, "m__missing__field_is_present").result == ResultEnum.failed
    # data checks on the absent column report error, not crash
    assert _result(res, "m__missing__field_minimum").result == ResultEnum.error
    assert res.run.result == ResultEnum.error  # worst-wins


def test_type_mismatch(spark):
    spec = _contract("      a: {type: int}\n")
    df = spark.createDataFrame([("1",)], "a string")
    res = _run(spark, spec, {"m": df})
    chk = _result(res, "m__a__field_type")
    assert chk.result == ResultEnum.failed and "string" in chk.reason


def test_undeclared_type_records_error(spark):
    """`type: wat` has no Spark type: the check records error with the
    reason instead of passing on a stand-in binary column."""
    spec = _contract("      a: {type: wat}\n")
    df = spark.createDataFrame([(bytearray(b"x"),)], "a binary")
    res = _run(spark, spec, {"m": df})
    chk = _result(res, "m__a__field_type")
    assert chk.result == ResultEnum.error and "'wat' has no spark type" in chk.reason


def test_sql_quality_thresholds(spark):
    spec = DataContractSpecification.from_string("""
id: t
models:
  m:
    fields:
      a: {type: int}
    quality:
      - {type: sql, query: "SELECT count(*) FROM {model}", mustBeGreaterThan: 2}
      - {type: sql, query: "SELECT avg(a) FROM {model}", mustBeBetween: [1, 3]}
      - {type: sql, query: "SELECT broken syntax !!", mustBe: 1}
""")
    df = spark.createDataFrame([(1,), (2,), (3,)], "a int")
    res = _run(spark, spec, {"m": df})
    assert _result(res, "m__quality_sql_0").result == ResultEnum.passed
    assert _result(res, "m__quality_sql_1").result == ResultEnum.passed
    assert _result(res, "m__quality_sql_2").result == ResultEnum.error  # bad SQL -> error check


def test_freshness_and_retention(spark):
    spec = DataContractSpecification.from_string("""
id: t
models:
  m:
    fields:
      ts: {type: timestamp}
servicelevels:
  freshness: {threshold: 24h, timestampField: m.ts}
  retention: {period: 30d, timestampField: m.ts}
""")
    now = dt.datetime(2026, 8, 16, tzinfo=dt.timezone.utc)
    fresh = spark.createDataFrame(
        [(dt.datetime(2026, 8, 15, 12),), (dt.datetime(2026, 8, 10),)], "ts timestamp")
    res = _run(spark, spec, {"m": fresh}, now=now)
    assert _result(res, "m__ts__servicelevel_freshness").result == ResultEnum.passed
    assert _result(res, "m__ts__servicelevel_retention").result == ResultEnum.passed
    stale = spark.createDataFrame(
        [(dt.datetime(2026, 8, 10),), (dt.datetime(2026, 1, 1),)], "ts timestamp")
    res = _run(spark, spec, {"m": stale}, now=now)
    assert _result(res, "m__ts__servicelevel_freshness").result == ResultEnum.failed
    assert _result(res, "m__ts__servicelevel_retention").result == ResultEnum.failed


def test_row_count_passthrough(spark):
    spec = DataContractSpecification.from_string("""
id: t
models:
  m:
    fields:
      a: {type: int}
quality:
  specification:
    checks for m:
      - row_count > 10
""")
    res = _run(spark, spec, {"m": spark.createDataFrame([(i,) for i in range(5)], "a int")})
    chk = _result(res, "m__row_count")
    assert chk.result == ResultEnum.failed and "5" in chk.reason


def test_violation_cap(spark):
    spec = _contract("      a: {type: int, minimum: 100}\n")
    df = spark.createDataFrame([(i,) for i in range(50)], "a int")
    res = _run(spark, spec, {"m": df}, violation_cap=10)
    assert len(_violations(res, "m__a__field_minimum")) == 10  # capped (500-cap parity)
