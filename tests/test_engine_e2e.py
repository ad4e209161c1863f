"""End-to-end runs of the canonical audio contract: golden pass, corruption
fixtures, per-partition results, checkpoint/resume identity."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dcspark import DataContractSpecification, ValidationConfig, validate
from dcspark import drift as drift_mod
from dcspark import synth
from dcspark.audio import synth_oracle
from dcspark.run_model import ResultEnum

SEED = 42
N = 120
DUR = (200, 1500)


@pytest.fixture(scope="module")
def spec():
    return DataContractSpecification.from_file("/root/repo/contracts/audio_clips.yaml")


@pytest.fixture(scope="module")
def clean_tables(spark):
    clips = synth.generate_audio_table(spark, N, seed=SEED, dur_lo=DUR[0], dur_hi=DUR[1], num_partitions=4).cache()
    ref = synth.generate_transcripts_ref(spark, N, seed=SEED, extra=5, num_partitions=4).cache()
    clips.count(), ref.count()
    return {"audio_clips": clips, "transcripts_ref": ref}


@pytest.fixture(scope="module")
def ref_stats(spark, clean_tables):
    return {
        "audio_clips": drift_mod.build_ref_stats(
            clean_tables["audio_clips"], ["dur_ms", "sr_hz"], n_quantiles=49, n_bins=10
        )
    }


def _cfg(ref_stats, **kw):
    return ValidationConfig(
        ref_stats=ref_stats, audio_snr_fn=synth_oracle(SEED, DUR[0], DUR[1]), **kw
    )


def test_golden_pass(spark, spec, clean_tables, ref_stats):
    res = validate(spark, spec, clean_tables, _cfg(ref_stats))
    assert res.run.result == ResultEnum.passed
    assert len(res.run.checks) == 42
    assert all(c.result == ResultEnum.passed for c in res.run.checks)
    assert res.violations is None


def test_corruption_fails_exact_checks(spark, spec, ref_stats):
    corrupt = {"bad_sr": 0.1, "null_transcript": 0.1, "wrong_transcript": 0.1}
    clips = synth.generate_audio_table(
        spark, N, seed=SEED, corrupt=corrupt, dur_lo=DUR[0], dur_hi=DUR[1], num_partitions=4
    )
    ref = synth.generate_transcripts_ref(spark, N, seed=SEED, num_partitions=4)
    res = validate(spark, spec, {"audio_clips": clips, "transcripts_ref": ref}, _cfg(ref_stats))
    failed = {c.key for c in res.run.checks if c.result == ResultEnum.failed}
    assert "audio_clips__sr_hz__field_enum" in failed
    assert "audio_clips__transcript__field_required" in failed
    assert "audio_clips__transcript__transcript_equality" in failed
    # decode conformance fails too: declared sr 12345 != decoded
    assert "audio_clips__audio_decode_conformance" in failed
    assert res.run.result == ResultEnum.failed
    # clean checks stay green (no cross-contamination)
    assert "audio_clips__dur_ms__field_minimum" not in failed
    assert "audio_clips__clip_id__field_unique" not in failed


def test_drift_detected(spark, spec, clean_tables, ref_stats):
    clips = synth.generate_audio_table(
        spark, N, seed=SEED, corrupt={"drift_dur": 0.8}, dur_lo=DUR[0], dur_hi=DUR[1], num_partitions=4
    )
    res = validate(
        spark, spec,
        {"audio_clips": clips, "transcripts_ref": clean_tables["transcripts_ref"]},
        _cfg(ref_stats),
    )
    ks = next(c for c in res.run.checks if c.key == "audio_clips__dur_ms__drift_ks")
    assert ks.result == ResultEnum.failed
    assert ks.diagnostics["metric"] > 0.05


def test_per_partition_results(spark, spec, clean_tables, ref_stats):
    clips = clean_tables["audio_clips"].withColumn(
        "bucket", F.pmod(F.xxhash64("clip_id"), F.lit(4)).cast("string")
    )
    res = validate(
        spark, spec,
        {"audio_clips": clips, "transcripts_ref": clean_tables["transcripts_ref"]},
        _cfg(ref_stats, partition_col="bucket"),
    )
    assert res.run.result == ResultEnum.passed
    agg_rows = [r for r in res.results if r["check_key"] == "audio_clips__dur_ms__field_minimum"]
    partitions = {r["partition_id"] for r in agg_rows}
    assert None in partitions and len(partitions) == 5  # 4 buckets + global rollup
    # per-partition row counts sum to the global
    global_row = next(r for r in agg_rows if r["partition_id"] is None)
    assert sum(r["row_count"] for r in agg_rows if r["partition_id"] is not None) == global_row["row_count"] == N
    # audio check also has per-partition rows
    audio_rows = [r for r in res.results
                  if r["check_key"] == "audio_clips__audio_decode_conformance" and r["partition_id"]]
    assert len(audio_rows) == 4


def test_single_decode_pass_even_with_violations(spark, spec, ref_stats):
    """VERDICT.md defect #1 regression: the payload corpus is decoded exactly
    ONCE per validation run even when violations are present (the capped
    violation rows come out of the same compact pass as the metrics)."""
    from dcspark.audio import synth_snr_oracle

    corrupt = {"bad_sr": 0.2}
    clips = synth.generate_audio_table(
        spark, N, seed=SEED, corrupt=corrupt, dur_lo=DUR[0], dur_hi=DUR[1], num_partitions=4
    )
    ref = synth.generate_transcripts_ref(spark, N, seed=SEED, num_partitions=4)
    decoded_rows = spark.sparkContext.accumulator(0)
    base = synth_snr_oracle(SEED, DUR[0], DUR[1])

    def counting_snr(clip_id, sr, dur, pcm):
        decoded_rows.add(1)
        return base(clip_id, sr, dur, pcm)

    cfg = ValidationConfig(ref_stats=ref_stats, audio_snr_fn=counting_snr)
    res = validate(spark, spec, {"audio_clips": clips, "transcripts_ref": ref}, cfg)
    audio = next(c for c in res.run.checks if c.type == "audio_decode_conformance")
    assert audio.result == ResultEnum.failed
    # violations were produced...
    vio = res.violations.filter(F.col("check_key") == audio.key)
    assert vio.count() > 0
    assert vio.filter(F.col("observed").contains("decoded_sr=")).count() > 0
    # ...from a single decode scan: every clip decoded exactly once
    assert decoded_rows.value == N


def test_checkpoint_resume_reproduces_audio_violations(spark, spec, ref_stats):
    """Resume must reproduce the capped violation sample from the manifest
    without rescanning completed partitions."""
    corrupt = {"bad_sr": 0.2}
    clips = synth.generate_audio_table(
        spark, N, seed=SEED, corrupt=corrupt, dur_lo=DUR[0], dur_hi=DUR[1], num_partitions=4
    ).withColumn("bucket", F.pmod(F.xxhash64("clip_id"), F.lit(8)).cast("string"))
    ref = synth.generate_transcripts_ref(spark, N, seed=SEED, num_partitions=4)
    tables = {"audio_clips": clips, "transcripts_ref": ref}

    tmp = tempfile.mkdtemp()
    try:
        full = validate(spark, spec, tables, _cfg(
            ref_stats, partition_col="bucket", checkpoint_dir=tmp + "/full", checkpoint_chunks=4))
        part = validate(spark, spec, tables, _cfg(
            ref_stats, partition_col="bucket", checkpoint_dir=tmp + "/part", checkpoint_chunks=4))
        import glob
        manifest = glob.glob(tmp + "/part/manifest__*audio_clips.jsonl")[0]
        lines = open(manifest).readlines()
        with open(manifest, "w") as f:
            f.writelines(lines[: len(lines) // 2])
        resumed = validate(spark, spec, tables, _cfg(
            ref_stats, partition_col="bucket", checkpoint_dir=tmp + "/part",
            checkpoint_chunks=4, resume=True))
        assert resumed.metrics == full.metrics
        key = next(c.key for c in full.run.checks if c.type == "audio_decode_conformance")

        def vio_set(res):
            return {
                (r["partition_id"], r["clip_id"], r["observed"])
                for r in res.violations.filter(F.col("check_key") == key).collect()
            }

        assert vio_set(resumed) == vio_set(full) != set()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_checkpoint_resume_identical(spark, spec, clean_tables, ref_stats):
    clips = clean_tables["audio_clips"].withColumn(
        "bucket", F.pmod(F.xxhash64("clip_id"), F.lit(8)).cast("string")
    )
    tables = {"audio_clips": clips, "transcripts_ref": clean_tables["transcripts_ref"]}

    tmp = tempfile.mkdtemp()
    try:
        # full run with checkpointing -> baseline metrics
        full = validate(spark, spec, tables, _cfg(
            ref_stats, partition_col="bucket", checkpoint_dir=tmp + "/full", checkpoint_chunks=4))
        # interrupted run: keep only the first 2 chunks' manifest lines, resume
        part = validate(spark, spec, tables, _cfg(
            ref_stats, partition_col="bucket", checkpoint_dir=tmp + "/part", checkpoint_chunks=4))
        import glob
        manifest = glob.glob(tmp + "/part/manifest__*audio_clips.jsonl")[0]
        lines = open(manifest).readlines()
        keep = lines[: len(lines) // 2]  # simulate a kill after half the partitions
        with open(manifest, "w") as f:
            f.writelines(keep)
        resumed = validate(spark, spec, tables, _cfg(
            ref_stats, partition_col="bucket", checkpoint_dir=tmp + "/part",
            checkpoint_chunks=4, resume=True))
        # identical final global metrics after resume
        assert resumed.metrics == full.metrics
        assert resumed.run.result == full.run.result == ResultEnum.passed
        # resume actually skipped completed partitions (log says so)
        assert any("already complete" in log.message and not log.message.startswith("checkpoint: 0/")
                   for log in resumed.run.logs)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_phase_timings_recorded(spark):
    """validate() reports per-job wall seconds: the shared scan always, one
    label per dedicated job, and the compute-phase wall; labels overlap by
    design (driver-side thread pool) so each is its own start->end wall."""
    from dcspark import DataContractSpecification, ValidationConfig, validate

    contract = """
dataContractSpecification: 1.1.0
id: pt
info: {title: t, version: "1"}
models:
  m:
    type: table
    fields:
      k: {type: string, required: true, unique: true}
      v: {type: int, minimum: 0}
"""
    spec = DataContractSpecification.from_string(contract)
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    res = validate(spark, spec, {"m": df}, ValidationConfig(parallel_jobs=1))
    ph = res.phase_timings["m"]
    assert "shared_scan" in ph and "compute_phase_wall" in ph
    assert any(k.startswith("unique:") for k in ph)
    assert all(isinstance(v, float) and v >= 0 for v in ph.values())
