"""Contract-driven value repair (dcspark/repair.py): coerce/null/keep
strategies, type preservation, report counts, single-projection plan gate,
and repair-then-validate composition."""

import pytest
from pyspark.sql import functions as F

from dcspark import DataContractSpecification, ValidationConfig, validate
from dcspark import repair as repair_mod
from dcspark.run_model import ResultEnum

CONTRACT = """
id: repair-test
models:
  clips:
    fields:
      clip_id: {type: string, primaryKey: true}
      dur_ms: {type: integer, minimum: 100, maximum: 1000}
      codec: {type: string, enum: [pcm, flac]}
      lang: {type: string, pattern: '^[a-z]{2}$'}
      name: {type: string, maxLength: 4, minLength: 2}
"""

ROWS = [
    ("c1", 500, "pcm", "en", "abcd"),   # clean
    ("c2", 50, "pcm", "en", "abcd"),    # below minimum -> clamp to 100
    ("c3", 5000, "pcm", "en", "abcd"),  # above maximum -> clamp to 1000
    ("c4", 500, "mp3", "en", "abcd"),   # enum violation -> NULL
    ("c5", 500, "pcm", "EN", "abcd"),   # pattern violation -> NULL
    ("c6", 500, "pcm", "en", "abcdefg"),  # too long -> truncate to 'abcd'
    ("c7", 500, "pcm", "en", "a"),      # too short -> NULL
    ("c8", None, None, None, None),     # NULLs untouched
]
SCHEMA = "clip_id string, dur_ms int, codec string, lang string, name string"


@pytest.fixture(scope="module")
def spec():
    return DataContractSpecification.from_string(CONTRACT)


@pytest.fixture(scope="module")
def clips(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_coerce_defaults(spark, spec, clips):
    fixed = repair_mod.repair(clips, spec, "clips")
    assert fixed.columns == clips.columns
    assert dict(fixed.dtypes) == dict(clips.dtypes)  # types preserved
    rows = {r["clip_id"]: r for r in fixed.collect()}
    assert rows["c1"]["dur_ms"] == 500 and rows["c1"]["name"] == "abcd"
    assert rows["c2"]["dur_ms"] == 100      # clamped to minimum
    assert rows["c3"]["dur_ms"] == 1000     # clamped to maximum
    assert rows["c4"]["codec"] is None      # enum violation nulled
    assert rows["c5"]["lang"] is None       # pattern violation nulled
    assert rows["c6"]["name"] == "abcd"     # truncated
    assert rows["c7"]["name"] is None       # too short nulled
    assert rows["c8"]["dur_ms"] is None     # NULL in, NULL out


def test_strategies_null_and_keep(spark, spec, clips):
    fixed = repair_mod.repair(
        clips, spec, "clips", strategies={"dur_ms": "null", "name": "keep"})
    rows = {r["clip_id"]: r for r in fixed.collect()}
    assert rows["c2"]["dur_ms"] is None     # null strategy: no clamping
    assert rows["c6"]["name"] == "abcdefg"  # keep: untouched
    with pytest.raises(ValueError, match="repair strategy"):
        repair_mod.repair(clips, spec, "clips", strategies={"lang": "fix"})


def test_repair_report_counts(spark, spec, clips):
    rep = {r["field"]: r["would_repair"]
           for r in repair_mod.repair_report(clips, spec, "clips").collect()}
    assert rep == {"dur_ms": 2, "codec": 1, "lang": 1, "name": 2}


def test_repaired_data_validates(spark, spec, clips):
    """repair -> validate composition: every value-constraint check passes on
    the repaired frame (NULLed values surface only in missing counts, and no
    field here is required)."""
    fixed = repair_mod.repair(clips, spec, "clips")
    res = validate(spark, spec, {"clips": fixed}, ValidationConfig())
    bad = [c.key for c in res.run.checks if c.result != ResultEnum.passed]
    assert res.run.result == ResultEnum.passed, bad


def test_repair_single_projection_plan(spark, spec, clips):
    fixed = repair_mod.repair(clips, spec, "clips")
    fixed.collect()
    plan = fixed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "*(1) Project" in plan


def test_cli_repair_command(spark, spec, clips, tmp_path):
    from dcspark.cli import main

    base = str(tmp_path / "in")
    clips.write.parquet(f"{base}/clips.parquet")
    cpath = str(tmp_path / "c.yaml")
    with open(cpath, "w") as f:
        f.write(CONTRACT)
    out = str(tmp_path / "out")
    rc = main(["repair", cpath, "--path", base, "--output", out,
               "--master", "local[2]"])
    assert rc == 0
    got = {r["clip_id"]: r for r in spark.read.parquet(f"{out}/clips").collect()}
    assert got["c2"]["dur_ms"] == 100 and got["c6"]["name"] == "abcd"


def test_null_fixes_take_precedence_over_coercion(spark):
    """A value breaking both a coercible and a non-coercible constraint must
    end NULL — truncating an enum violation to a still-invalid prefix would
    break repair-then-validate (regression)."""
    spec2 = DataContractSpecification.from_string("""
id: mixed
models:
  m:
    fields:
      k: {type: string, primaryKey: true}
      codec: {type: string, enum: [pcm, flac], maxLength: 4}
      n: {type: integer, enum: [1, 2, 3], maximum: 10}
""")
    df = spark.createDataFrame(
        [("k1", "opusx", 99), ("k2", "flacc", 2), ("k3", "pcm", 50)],
        "k string, codec string, n int")
    rows = {r["k"]: r for r in repair_mod.repair(df, spec2, "m").collect()}
    assert rows["k1"]["codec"] is None   # enum break wins over truncation
    assert rows["k2"]["codec"] is None   # 'flac' prefix would be valid, but
    # the ORIGINAL value broke enum -> NULL (no re-evaluation after fixes)
    assert rows["k1"]["n"] is None       # enum break wins over clamping
    assert rows["k3"]["n"] is None       # 50 violates both -> NULL
    res = validate(spark, spec2, {"m": repair_mod.repair(df, spec2, "m")},
                   ValidationConfig())
    assert res.run.result == ResultEnum.passed


def test_exclusive_bounds_null_and_fractional_clamp(spark):
    spec2 = DataContractSpecification.from_string("""
id: bounds
models:
  m:
    fields:
      k: {type: string, primaryKey: true}
      x: {type: double, exclusiveMinimum: 0.0}
      d: {type: integer, minimum: 100.5}
""")
    df = spark.createDataFrame(
        [("k1", -5.0, 50), ("k2", 1.0, 200)], "k string, x double, d int")
    rows = {r["k"]: r for r in repair_mod.repair(df, spec2, "m").collect()}
    assert rows["k1"]["x"] is None       # open interval: NULL, never clamp
    assert rows["k2"]["x"] == 1.0
    assert rows["k1"]["d"] == 101        # fractional bound rounds INTO range
    res = validate(spark, spec2, {"m": repair_mod.repair(df, spec2, "m")},
                   ValidationConfig())
    assert res.run.result == ResultEnum.passed


def test_report_skips_absent_fields_and_rejects_unknown_strategy_keys(spark, spec):
    spec2 = DataContractSpecification.from_string(CONTRACT.replace(
        "      name: {type: string, maxLength: 4, minLength: 2}",
        "      name: {type: string, maxLength: 4, minLength: 2}\n"
        "      extra: {type: string, maxLength: 4}"))
    df = spark.createDataFrame([("c1", 500, "pcm", "en", "abcd")], SCHEMA)
    rep = {r["field"]: r["would_repair"]
           for r in repair_mod.repair_report(df, spec2, "clips").collect()}
    assert "extra" not in rep            # absent column: skipped, not a crash
    with pytest.raises(ValueError, match="unknown field"):
        repair_mod.repair(df, spec2, "clips", strategies={"nmae": "keep"})


def test_truncation_cannot_newly_violate_format(spark):
    """Review finding: maxLength truncation of a format-valid value can
    produce a format-INVALID value — the repaired frame must satisfy the
    contract it repairs toward, so such values null instead."""
    from dcspark import repair as repair_mod
    from dcspark.spec import DataContractSpecification

    contract = """
id: r
models:
  m:
    fields:
      email: {type: string, format: email, maxLength: 6}
"""
    spec = DataContractSpecification.from_string(contract)
    df = spark.createDataFrame(
        [("user@x.com",), ("a@b.co",)], "email string")
    out = {r[0]: r["email"] for r in
           repair_mod.repair(df, spec, "m").select(
               F.monotonically_increasing_id(), "email").collect()}
    vals = sorted(out.values(), key=lambda v: (v is None, v))
    # 'a@b.co' is 6 chars and already valid -> kept; 'user@x.com' would
    # truncate to 'user@x' (not an email) -> nulled, never emitted invalid
    assert vals[0] == "a@b.co"
    assert vals[1] is None


def test_pattern_and_format_are_both_repaired(spark):
    """A field declaring both ``pattern`` and ``format`` is repaired toward
    both, and truncation re-tests both: the repaired frame passes every
    row-local check validate runs on it."""
    spec2 = DataContractSpecification.from_string("""
id: both
models:
  m:
    fields:
      k: {type: string, primaryKey: true}
      email: {type: string, pattern: '^[a-z@.]+$', format: email, maxLength: 8}
""")
    df = spark.createDataFrame(
        [("k1", "notanemail"),       # pattern ok, format broken -> NULL
         ("k2", "AB@x.co"),          # format ok, pattern broken -> NULL
         ("k3", "ab@cd.efgh"),       # truncates to 'ab@cd.ef', still valid
         ("k4", "abcdefgh@x.com"),   # truncates to 'abcdefgh', no email
         ("k5", "a@b.co")],
        "k string, email string")
    fixed = repair_mod.repair(df, spec2, "m")
    rows = {r["k"]: r["email"] for r in fixed.collect()}
    assert rows == {"k1": None, "k2": None, "k3": "ab@cd.ef", "k4": None,
                    "k5": "a@b.co"}
    res = validate(spark, spec2, {"m": fixed}, ValidationConfig())
    bad = [c.key for c in res.run.checks if c.result != ResultEnum.passed]
    assert bad == []
