"""End-to-end WAP smoke on the north-star contract: contract-gated audio
ingestion into a real Iceberg table. A clean batch bootstraps main, a
corrupted batch is REJECTED on the audit branch (main untouched, rows
quarantined), a second clean batch publishes by metadata-only
fast-forward, and retention reclaims the red snapshot.

Expect: "WAP SMOKE: ok" and exit 0.
"""
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import SparkSession

from dcspark import DataContractSpecification, ValidationConfig
from dcspark import drift as drift_mod
from dcspark import synth
from dcspark.audio import synth_oracle
from dcspark.iceberg import IcebergTable
from dcspark.wap import wap_append

t0 = time.time()
spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .appName("dcspark-smoke-wap")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("WARN")

SEED = 42
N = 96  # per batch; KS quantization error ~1.6/N needs N >= ~48
root = tempfile.mkdtemp(prefix="dcspark_wap_smoke_")
table = os.path.join(root, "clips")
quarantine = os.path.join(root, "quarantine")

spec = DataContractSpecification.from_file(
    "/root/repo/contracts/audio_clips.yaml")


def batch(seed, **corrupt):
    return synth.generate_audio_table(
        spark, N, seed=seed, dur_lo=200, dur_hi=2000,
        corrupt=corrupt or None, num_partitions=4)


def cfg_for(seed):
    clean = synth.generate_audio_table(spark, N, seed=seed, dur_lo=200,
                                       dur_hi=2000, num_partitions=4)
    return ValidationConfig(
        ref_stats={"audio_clips": drift_mod.build_ref_stats(
            clean, ["dur_ms", "sr_hz"], n_quantiles=49, n_bins=10)},
        audio_snr_fn=synth_oracle(seed, 200, 2000))


def static_for(seed):
    return {"transcripts_ref": synth.generate_transcripts_ref(
        spark, N, seed=seed, num_partitions=4)}


t = IcebergTable.create(table, batch(SEED).schema)
failures = []

out1 = wap_append(spark, spec, t, batch(SEED), "audio_clips",
                  static_tables=static_for(SEED), config=cfg_for(SEED),
                  quarantine_sink=quarantine)
if not out1.published:
    failures.append(f"clean bootstrap batch rejected: {out1.failed_checks}")
main_after_1 = t.current_snapshot_id()

out2 = wap_append(spark, spec, t, batch(SEED + 1, bad_sr=0.5),
                  "audio_clips", static_tables=static_for(SEED + 1),
                  config=cfg_for(SEED + 1), quarantine_sink=quarantine)
if out2.published:
    failures.append("corrupted batch PUBLISHED — the gate is broken")
if t.current_snapshot_id() != main_after_1:
    failures.append("red batch moved main's pointer")
if out2.quarantined_rows != N:
    failures.append(f"quarantined {out2.quarantined_rows}, expected {N}")

out3 = wap_append(spark, spec, t, batch(SEED + 2), "audio_clips",
                  static_tables=static_for(SEED + 2),
                  config=cfg_for(SEED + 2), quarantine_sink=quarantine)
if not out3.published:
    failures.append(f"clean batch 3 rejected: {out3.failed_checks}")

live = t.read(spark).count()
if live != 2 * N:
    failures.append(f"main holds {live} rows, expected {2 * N}")
reclaim = t.expire_snapshots(keep_last=3)
if reclaim["snapshots_removed"] != 1:
    failures.append(f"retention reclaimed {reclaim['snapshots_removed']} "
                    "snapshots, expected exactly the red one")
if t.read(spark).count() != 2 * N:
    failures.append("expiry changed the live table")

print(f"batches: 2 published, 1 rejected; quarantine rows: "
      f"{out2.quarantined_rows}; wall: {round(time.time() - t0, 1)}s")
shutil.rmtree(root, ignore_errors=True)
if failures:
    for f in failures:
        print("FAIL:", f)
    print("WAP SMOKE: FAILED")
    sys.exit(1)
print("WAP SMOKE: ok")
