"""Driver rows -> DataFrame in one place (engine.rows_frame).

Every check family collects its capped violation rows to the driver, and
``validate`` builds ``ValidationResult.violations`` from them once, as one
Arrow ``LocalTableScan``; the CLI's results frame goes through the same
helper. These pin the frames to what ``spark.createDataFrame(list, DDL)``
produced: same schema, same rows, same order.
"""

import datetime as dt

import pytest

from dcspark import DataContractSpecification, ValidationConfig, validate
from dcspark.engine import RESULTS_DDL, VIOLATIONS_DDL, rows_frame

VIOLATIONS_CONTRACT = """
id: violations-frame
models:
  clips:
    fields:
      clip_id: {type: string, unique: true, primaryKey: true, references: refs.clip_id}
      dur_ms: {type: int, minimum: 200}
      transcript: {type: string}
    quality:
      - type: audio
        invariant: transcript-equality
        ref: refs
        key: clip_id
        column: transcript
        ref_column: text
  refs:
    fields:
      clip_id: {type: string, primaryKey: true}
      text: {type: string, maxLength: 8}
"""

# VIOLATIONS_DDL rows without run_id, as the union of per-check
# createDataFrame(list) frames returned them before the rows moved to Arrow
EXPECTED_ROWS = [
    (None, 'clips__dur_ms__field_minimum', 'c00', '100', '>= 200'),
    (None, 'clips__dur_ms__field_minimum', 'c01', '140', '>= 200'),
    (None, 'clips__dur_ms__field_minimum', 'c02', '180', '>= 200'),
    (None, 'clips__clip_id__field_unique', 'c03', 'count=2', 'unique'),
    (None, 'clips__clip_id__field_unique', 'c07', 'count=2', 'unique'),
    (None, 'clips__clip_id__field_reference', 'x0', 'x0', 'exists in refs.clip_id'),
    (None, 'clips__clip_id__field_reference', 'x1', 'x1', 'exists in refs.clip_id'),
    (None, 'clips__clip_id__field_reference', 'x2', 'x2', 'exists in refs.clip_id'),
    (None, 'clips__transcript__transcript_equality', 'c00', 't0', 'ref: other0xx'),
    (None, 'clips__transcript__transcript_equality', 'c05', 't5', 'ref: other5xx'),
    (None, 'clips__transcript__transcript_equality', 'c10', 't10', 'ref: other10xx'),
    (None, 'clips__transcript__transcript_equality', 'c15', 't15', 'ref: other15xx'),
    (None, 'refs__text__field_max_length', 'c10', '9', 'length <= 8'),
    (None, 'refs__text__field_max_length', 'c15', '9', 'length <= 8'),
]


def _tables(spark):
    clips = [(f"c{i:02d}", 100 + 40 * i, f"t{i}") for i in range(20)]
    clips += [(f"c{i:02d}", 500, f"t{i}") for i in (3, 7)]  # duplicate keys
    clips += [(f"x{i}", 900, "orphan") for i in range(3)]  # no parent
    refs = [(f"c{i:02d}", f"t{i}" if i % 5 else f"other{i}xx") for i in range(20)]
    return {
        "clips": spark.createDataFrame(
            clips, "clip_id string, dur_ms int, transcript string"),
        "refs": spark.createDataFrame(refs, "clip_id string, text string"),
    }


def _validate(spark, parallel_jobs):
    spec = DataContractSpecification.from_string(VIOLATIONS_CONTRACT)
    return validate(spark, spec, _tables(spark),
                    ValidationConfig(parallel_jobs=parallel_jobs))


def test_violations_frame_is_one_local_table_scan(spark):
    res = _validate(spark, 8)
    failed = {c.key for c in res.run.checks if c.result.value == "failed"}
    assert failed == {
        "clips__clip_id__field_unique", "clips__clip_id__field_reference",
        "clips__transcript__transcript_equality", "clips__dur_ms__field_minimum",
        "refs__text__field_max_length"}
    plan = res.violations._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LocalTableScan") == 1, plan
    assert "ExistingRDD" not in plan, plan


@pytest.mark.parametrize("parallel_jobs", [1, 8])
def test_violation_rows_match_list_frames(spark, parallel_jobs):
    res = _validate(spark, parallel_jobs)
    rows = res.violations.collect()
    assert {r["run_id"] for r in rows} == {res.run.runId}
    assert [tuple(r)[1:] for r in rows] == EXPECTED_ROWS
    assert res.violations.schema == spark.createDataFrame(
        [], VIOLATIONS_DDL).schema


def test_results_frame_matches_list_path(spark):
    """The CLI's results sink: every column as createDataFrame(list,
    RESULTS_DDL) gives it, under a non-UTC session time zone, including
    ts_start/ts_end and an all-NULL reason column (a passing run)."""
    spec = DataContractSpecification.from_string("""
id: results-frame
models:
  t:
    fields:
      k: {type: string, required: true, unique: true}
      v: {type: int, minimum: 0}
""")
    df = spark.createDataFrame([(f"k{i}", i) for i in range(10)], "k string, v int")
    res = validate(spark, spec, {"t": df})
    assert res.results and all(r["reason"] is None for r in res.results)
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        new = rows_frame(spark, res.results, RESULTS_DDL)
        old = spark.createDataFrame(res.results, schema=RESULTS_DDL)
        assert new.schema == old.schema
        assert new.collect() == old.collect()
        as_text = [f"cast({c} as string)" for c in new.columns]
        assert new.selectExpr(*as_text).collect() == old.selectExpr(*as_text).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_rows_frame_tuples_and_naive_timestamps(spark):
    """Positional rows, naive (local-time) timestamps and no rows at all."""
    ddl = "a string, n bigint, x double, ts timestamp"
    rows = [("a", 1, 0.5, dt.datetime(2024, 3, 10, 2, 30)),
            (None, None, float("nan"),
             dt.datetime(2024, 3, 10, 9, 30, tzinfo=dt.timezone.utc)),
            ("c", 2 ** 62, None, None)]
    new = rows_frame(spark, rows, ddl).collect()
    old = spark.createDataFrame(rows, ddl).collect()
    assert repr(new) == repr(old)  # repr: NaN != NaN under ==
    empty = rows_frame(spark, [], ddl)
    assert empty.count() == 0
    assert empty.schema == spark.createDataFrame([], ddl).schema


SAMPLE_CONTRACT = """
id: capped-samples
models:
  t:
    fields:
      k: {type: string, references: r.k}
      v: {type: string}
    quality:
      - {type: audio, invariant: transcript-equality, ref: r, key: k,
         column: v, ref_column: txt}
  r:
    fields:
      k: {type: string}
      txt: {type: string}
"""


def test_capped_samples_do_not_depend_on_shuffle_partitions(spark):
    """The referential and transcript-equality samples are the first
    ``violation_cap`` rows in a total order, whatever the shuffle width."""
    spec = DataContractSpecification.from_string(SAMPLE_CONTRACT)
    # odd keys are orphans, even keys mismatch their reference text
    tables = {
        "t": spark.createDataFrame([(f"k{i:04d}", "WRONG") for i in range(3000)],
                                   "k string, v string"),
        "r": spark.createDataFrame([(f"k{i:04d}", f"text-{i}")
                                    for i in range(0, 3000, 2)], "k string, txt string"),
    }
    samples = []
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in ("4", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            res = validate(spark, spec, tables, ValidationConfig(violation_cap=50))
            samples.append([(r["check_key"], r["clip_id"])
                            for r in res.violations.collect()])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert samples[0] == samples[1]
    assert samples[0] == (
        [("t__k__field_reference", f"k{i:04d}") for i in range(1, 100, 2)]
        + [("t__v__transcript_equality", f"k{i:04d}") for i in range(0, 100, 2)])
