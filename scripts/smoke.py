"""Quick end-to-end smoke: synthesize audio table, validate contract, print run."""
import sys, time
sys.path.insert(0, "/root/repo")

from pyspark.sql import SparkSession
from dcspark import DataContractSpecification, ValidationConfig, validate
from dcspark import synth
from dcspark.audio import synth_oracle
from dcspark import drift as drift_mod

t0 = time.time()
spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .appName("dcspark-smoke")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("WARN")

N = 300
SEED = 42
clips = synth.generate_audio_table(spark, N, seed=SEED, dur_lo=200, dur_hi=2000, num_partitions=8).cache()
ref = synth.generate_transcripts_ref(spark, N, seed=SEED, extra=10, num_partitions=8).cache()
print("rows:", clips.count(), ref.count(), "gen s:", round(time.time() - t0, 1))

spec = DataContractSpecification.from_file("/root/repo/contracts/audio_clips.yaml")
ref_stats = {"audio_clips": drift_mod.build_ref_stats(clips, ["dur_ms", "sr_hz"], n_quantiles=49, n_bins=10)}

cfg = ValidationConfig(
    ref_stats=ref_stats,
    audio_snr_fn=synth_oracle(SEED, 200, 2000),
)
t1 = time.time()
res = validate(spark, spec, {"audio_clips": clips, "transcripts_ref": ref}, cfg)
print("validate s:", round(time.time() - t1, 1))
print("RUN RESULT:", res.run.result)
for c in res.run.checks:
    print(f"  {c.result.value if c.result else '?':8s} {c.key}  {c.reason or ''}")
if res.violations is not None:
    res.violations.show(10, truncate=False)
print("results rows:", len(res.results))
