"""Checkpointed scans keep the rows whose partition value is NULL.

The checkpointed scan lists the table's partitions, scans them in chunks
and records each one in a resume manifest. A NULL partition must be listed,
selected by its chunk and recorded under its own manifest key: a literal
``"None"`` partition is a different partition. Pinned as checkpoint vs
fresh: the checkpointed run (and its resume) must report exactly what a
fresh partitioned run reports.
"""

import pytest
from pyspark.sql import functions as F

from dcspark import DataContractSpecification, ValidationConfig, synth, validate

CONTRACT = """
id: null-partition
models:
  clips:
    fields:
      clip_id: {type: string, required: true, primaryKey: true}
      bytes: {type: bytes, required: true}
      sr_hz: {type: int, required: true, enum: [8000, 16000, 22050, 44100, 48000]}
      dur_ms: {type: int, required: true, minimum: 200, maximum: 30000}
      codec: {type: string}
      p: {type: string}
    quality:
      - {type: audio, invariant: decode-conformance}
      - {type: audio, invariant: signal-quality, column: rms_dbfs, minimum: -50.0}
"""


@pytest.fixture(scope="module")
def clips(spark):
    """12 clips over three partitions: NULL, the string "None" and "a";
    declared-rate corruption and muted payloads land in each of them."""
    df = synth.generate_audio_table(
        spark, 12, seed=5, corrupt={"bad_sr": 0.3, "muted_pcm": 0.3},
        dur_lo=200, dur_hi=600, num_partitions=2)
    idx = F.substring("clip_id", -2, 2).cast("int")
    df = df.withColumn("p", F.when(idx % 3 == 0, F.lit(None).cast("string"))
                       .when(idx % 3 == 1, F.lit("None")).otherwise(F.lit("a")))
    df = df.persist()
    df.count()
    yield df
    df.unpersist()


def _run(spark, df, **cfg):
    spec = DataContractSpecification.from_string(CONTRACT)
    return validate(spark, spec, {"clips": df},
                    ValidationConfig(partition_col="p", parallel_jobs=1, **cfg))


def _view(res):
    checks = [(c.key, c.result.value, c.reason, c.diagnostics) for c in res.run.checks]
    results = sorted(
        ((r["check_key"], r["partition_id"], r["result"], r["metric_value"],
          r["reason"], r["row_count"]) for r in res.results), key=repr)
    violations = sorted((tuple(r)[1:] for r in res.violations.collect()), key=repr) \
        if res.violations is not None else None
    return checks, results, violations


def test_checkpointed_scan_matches_fresh_run_with_null_partition(spark, clips, tmp_path):
    fresh = _view(_run(spark, clips))
    ck = str(tmp_path / "ck")
    first = _view(_run(spark, clips, checkpoint_dir=ck, checkpoint_chunks=3))
    resumed = _view(_run(spark, clips, checkpoint_dir=ck, checkpoint_chunks=3,
                         resume=True))
    # the fixture reaches every partition, the NULL one included
    row_counts = [r[5] for r in fresh[1]
                  if r[0] == "clips__audio_decode_conformance" and r[1] is not None]
    assert len(row_counts) == 3 and sum(row_counts) == 12
    for got in (first, resumed):
        assert got[0] == fresh[0]
        assert got[1] == fresh[1]
        assert got[2] == fresh[2]


def test_manifest_keeps_null_and_none_partitions_apart(spark, clips, tmp_path):
    import glob
    import json

    from dcspark.drift import NULL_PARTITION

    ck = str(tmp_path / "ck")
    _run(spark, clips, checkpoint_dir=ck, checkpoint_chunks=2)
    (manifest,) = glob.glob(f"{ck}/manifest__*.jsonl")
    with open(manifest, encoding="utf-8") as f:
        pids = sorted(json.loads(line)["partition_id"] for line in f)
    assert pids == sorted([NULL_PARTITION, "None", "a"])


def test_null_and_none_partitions_report_apart(spark, clips):
    """A fresh run reports the NULL partition under drift.NULL_PARTITION, not
    as "None": the literal "None" partition keeps results rows of its own,
    and no per-partition row takes the NULL that marks the global rollup."""
    from dcspark.drift import NULL_PARTITION

    res = _run(spark, clips)
    by_check = {}
    for r in res.results:
        if r["partition_id"] is not None:
            by_check.setdefault(r["check_key"], []).append(r["partition_id"])
    assert "clips__audio_decode_conformance" in by_check
    for key, pids in by_check.items():
        assert sorted(pids) == sorted([NULL_PARTITION, "None", "a"]), key
    assert None not in {r["partition_id"] for r in res.violations.collect()}
