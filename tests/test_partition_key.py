"""One partition key for fresh, partitioned and checkpointed runs.

The shared scan keys every per-partition state by ``drift.partition_key``
(the partition value cast to a string, NULL as ``NULL_PARTITION``). Pinned
here on partition values whose Python and Spark spellings differ — a
boolean column (``True`` vs ``true``) and NULL (``None`` vs NULL) — as
metamorphic relations: partitioning, checkpointing and resuming a run
change nothing in its global results, and every partition reports under
one ``partition_id``.
"""

from pyspark.sql import functions as F

from dcspark import DataContractSpecification, ValidationConfig, synth, validate
from dcspark import drift as drift_mod

AUDIO_CONTRACT = """
id: bool-partition
models:
  clips:
    fields:
      clip_id: {type: string, required: true, primaryKey: true}
      bytes: {type: bytes, required: true}
      sr_hz: {type: int, required: true, enum: [8000, 16000, 22050, 44100, 48000]}
      dur_ms: {type: int, required: true, minimum: 200, maximum: 30000}
      codec: {type: string}
      p: {type: boolean}
    quality:
      - {type: audio, invariant: decode-conformance}
      - {type: audio, invariant: signal-quality, column: rms_dbfs, minimum: -50.0}
      - {type: drift, method: psi, column: sr_hz, threshold: 0.2}
"""

PCTL_CONTRACT = """
id: null-pctl
models:
  clips:
    fields:
      clip_id: {type: string}
      p: {type: string}
      dur_ms: {type: integer}
    quality:
      - {type: metric, metric: p50, column: dur_ms, mustBeLessThan: 500}
"""


def _global(res):
    checks = sorted((c.key, c.result.value, c.reason, repr(c.diagnostics))
                    for c in res.run.checks)
    results = sorted((r["check_key"], r["result"], r["metric_value"], r["reason"],
                      r["row_count"]) for r in res.results if r["partition_id"] is None)
    violations = sorted(tuple(r)[2:] for r in res.violations.collect()) \
        if res.violations is not None else None
    return checks, results, violations


def _partition_ids(res):
    """{check key: [partition_id of each of its per-partition rows]}"""
    out = {}
    for r in res.results:
        if r["partition_id"] is not None:
            out.setdefault(r["check_key"], []).append(r["partition_id"])
    return out


def test_boolean_partition_column(spark, tmp_path):
    df = synth.generate_audio_table(
        spark, 12, seed=5, corrupt={"bad_sr": 0.3, "muted_pcm": 0.3},
        dur_lo=200, dur_hi=600)
    df = df.withColumn(
        "p", F.substring("clip_id", -1, 1).cast("int") % 2 == 0).persist()
    ref = synth.generate_audio_table(spark, 12, seed=6, dur_lo=200, dur_hi=600)
    spec = DataContractSpecification.from_string(AUDIO_CONTRACT)
    ref_stats = {"clips": drift_mod.build_ref_stats(ref, ["sr_hz"])}

    def run(**cfg):
        return validate(spark, spec, {"clips": df}, ValidationConfig(
            ref_stats=ref_stats, parallel_jobs=1, **cfg))

    try:
        flat = run()
        ck = str(tmp_path / "ck")
        runs = [run(partition_col="p"),
                run(partition_col="p", checkpoint_dir=ck, checkpoint_chunks=2),
                run(partition_col="p", checkpoint_dir=ck, checkpoint_chunks=2,
                    resume=True)]
    finally:
        df.unpersist()
    want = _global(flat)
    assert {c[0]: c[1] for c in want[0]}["clips__audio_decode_conformance"] == "failed"
    assert all(c[1] != "error" for c in want[0] if "drift" in c[0])
    for res in runs:
        assert _global(res) == want
        parts = _partition_ids(res)
        assert parts
        for key, pids in parts.items():
            assert sorted(pids) == ["false", "true"], key
        if res.violations is not None:
            assert {r["partition_id"] for r in res.violations.collect()} <= {"false", "true"}


def test_null_partition_percentile_sketch_under_checkpoint(spark, tmp_path):
    rows = ([(f"n{i}", None, 1000 + i) for i in range(60)]
            + [(f"a{i}", "a", 100 + i) for i in range(30)]
            + [(f"b{i}", "b", 200 + i) for i in range(30)])
    df = spark.createDataFrame(rows, "clip_id string, p string, dur_ms int")
    spec = DataContractSpecification.from_string(PCTL_CONTRACT)
    key = "clips__quality_metric_0"

    def run(**cfg):
        return validate(spark, spec, {"clips": df},
                        ValidationConfig(pctl_mode="sketch", **cfg))

    ck = str(tmp_path / "ck")
    flat = run()
    assert flat.metrics[key] > 500
    runs = [run(partition_col="p"),
            run(partition_col="p", checkpoint_dir=ck, checkpoint_chunks=3),
            run(partition_col="p", checkpoint_dir=ck, checkpoint_chunks=3,
                resume=True)]
    # the NULL partition's digest reaches the merge in every mode
    assert [res.metrics[key] for res in runs] == [flat.metrics[key]] * 3
    for res in runs:
        assert _global(res) == _global(flat)
        assert sorted(_partition_ids(res)[key]) == sorted(
            [drift_mod.NULL_PARTITION, "a", "b"])
