"""Negative-path drive: every corruption flag must fail exactly its check."""
import sys
sys.path.insert(0, "/root/repo")

from pyspark.sql import SparkSession
from dcspark import DataContractSpecification, ValidationConfig, validate
from dcspark import synth
from dcspark.audio import synth_oracle
from dcspark import drift as drift_mod

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .appName("dcspark-smoke-neg")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

N, SEED = 200, 42
corrupt = {
    "null_transcript": 0.05, "dup_clip_id": 0.05, "bad_sr": 0.05, "bad_range": 0.05,
    "bad_pattern": 0.05, "lying_header": 0.05, "garbled_pcm": 0.05,
    "wrong_transcript": 0.05, "muted_pcm": 0.05,
}
clips = synth.generate_audio_table(spark, N, seed=SEED, corrupt=corrupt, dur_lo=200, dur_hi=2000, num_partitions=8).cache()
ref = synth.generate_transcripts_ref(spark, N, seed=SEED, orphan_frac=0.05, num_partitions=8).cache()
clean = synth.generate_audio_table(spark, N, seed=SEED, dur_lo=200, dur_hi=2000, num_partitions=8)

spec = DataContractSpecification.from_file("/root/repo/contracts/audio_clips.yaml")
ref_stats = {"audio_clips": drift_mod.build_ref_stats(clean, ["dur_ms", "sr_hz"], n_quantiles=49, n_bins=10)}
cfg = ValidationConfig(ref_stats=ref_stats, audio_snr_fn=synth_oracle(SEED, 200, 2000))
res = validate(spark, spec, {"audio_clips": clips, "transcripts_ref": ref}, cfg)

print("RUN RESULT:", res.run.result.value)
expected_failed = {
    "audio_clips__transcript__field_required",
    "audio_clips__clip_id__field_unique",
    "audio_clips__sr_hz__field_enum",
    "audio_clips__dur_ms__field_minimum",
    "audio_clips__dur_ms__field_maximum",
    "audio_clips__clip_id__field_regex",
    "audio_clips__clip_id__field_reference",
    "audio_clips__audio_decode_conformance",
    "audio_clips__rms_dbfs__audio_signal_quality_3",
    # muted_pcm: an all-zero payload has no detected speech, so the VAD
    # ratio floor AND the speaking-rate bound (chars over ~zero speech
    # seconds) both fire alongside the rms silence floor
    "audio_clips__speech_ratio__audio_signal_quality_4",
    "audio_clips__chars_per_speech_sec__audio_speaking_rate_5",
    "audio_clips__transcript__transcript_equality",
}
failed = {c.key for c in res.run.checks if c.result.value == "failed"}
print("failed checks:")
for k in sorted(failed):
    chk = next(c for c in res.run.checks if c.key == k)
    print(f"  {k}: {chk.reason}")
missing = expected_failed - failed
unexpected = failed - expected_failed - {"audio_clips__sr_hz__drift_psi", "audio_clips__dur_ms__drift_ks"}
print("MISSING (should have failed):", missing or "none")
print("UNEXPECTED failures:", unexpected or "none")
if res.violations is not None:
    print("violations sample:")
    res.violations.groupBy("check_key").count().show(20, truncate=False)

# empty-table probe
empty = clips.limit(0)
res2 = validate(spark, spec, {"audio_clips": empty, "transcripts_ref": ref.limit(0)}, cfg)
print("EMPTY TABLE RESULT:", res2.run.result.value,
      "| failed:", [c.key for c in res2.run.checks if c.result.value == "failed"])
