"""Streaming validation: foreachBatch per-micro-batch contract checks."""

import json
import os

import pytest
from pyspark.sql import functions as F

from dcspark import DataContractSpecification
from dcspark.run_model import ResultEnum
from dcspark.streaming import read_json_stream, validate_stream, windowed_invalid_counts

CONTRACT = """
id: stream-contract
models:
  ev:
    fields:
      event_id: {type: long, required: true}
      kind: {type: string, enum: [a, b]}
      v: {type: double, minimum: 0}
"""


@pytest.fixture()
def json_dir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    # batch file 1: clean; batch file 2: one enum violation + one range violation
    with open(d / "b1.json", "w") as f:
        for i in range(5):
            f.write(json.dumps({"event_id": i, "kind": "a", "v": 1.0}) + "\n")
    with open(d / "b2.json", "w") as f:
        f.write(json.dumps({"event_id": 10, "kind": "zzz", "v": 1.0}) + "\n")
        f.write(json.dumps({"event_id": 11, "kind": "b", "v": -5.0}) + "\n")
    return str(d)


def test_stream_validation_per_batch(spark, json_dir, tmp_path):
    spec = DataContractSpecification.from_string(CONTRACT)
    stream = read_json_stream(spark, spec, "ev", json_dir, max_files_per_trigger=1)
    handle = validate_stream(
        spark, spec, stream, "ev",
        checkpoint_location=str(tmp_path / "ckpt"),
    )
    try:
        assert handle.await_batches(2, timeout_s=120)
    finally:
        handle.stop()
    runs = handle.runs()
    assert len(runs) >= 2
    # one clean batch passed, one corrupted batch failed on enum + minimum
    overall = {r.result for r in runs}
    assert ResultEnum.passed in overall
    assert ResultEnum.failed in overall
    failed_run = next(r for r in runs if r.result == ResultEnum.failed)
    failed_keys = {c.key for c in failed_run.checks if c.result == ResultEnum.failed}
    assert "ev__kind__field_enum" in failed_keys
    assert "ev__v__field_minimum" in failed_keys


def test_windowed_invalid_counts(spark, tmp_path):
    rows = [
        ("2024-01-01 00:00:10", 5.0),
        ("2024-01-01 00:00:20", -1.0),
        ("2024-01-01 00:05:00", 2.0),
    ]
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        for ts, v in rows:
            f.write(json.dumps({"ts": ts, "v": v}) + "\n")
    stream = (
        spark.readStream.schema("ts string, v double")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    agg = windowed_invalid_counts(stream, F.col("v") < 0, ts_col="ts", window="1 minute")
    q = (
        agg.writeStream.outputMode("complete").format("memory")
        .queryName("win_counts").start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["window_start"].strftime("%H:%M"): (r["rows"], r["invalid"])
            for r in spark.table("win_counts").collect()
        }
    finally:
        q.stop()
    assert got["00:00"] == (2, 1)
    assert got["00:05"] == (1, 0)


def test_stateful_duplicate_stream(spark, tmp_path):
    """Cross-batch duplicate detection: a key from batch 1 reappearing in
    batch 2 is flagged with its cumulative occurrence count."""
    from dcspark.streaming import stateful_duplicate_stream

    d = tmp_path / "dup_in"
    d.mkdir()
    with open(d / "f1.json", "w") as f:
        for cid in ["a", "b", "c"]:
            f.write(json.dumps({"clip_id": cid}) + "\n")

    stream = (
        spark.readStream.schema("clip_id string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    out = stateful_duplicate_stream(stream, "clip_id")
    q = (
        out.writeStream.format("memory").queryName("dup_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
        with open(d / "f2.json", "w") as f:
            for cid in ["b", "c", "c", "d"]:
                f.write(json.dumps({"clip_id": cid}) + "\n")
        q.processAllAvailable()
        rows = [r.asDict() for r in spark.sql("SELECT * FROM dup_stream").collect()]
    finally:
        q.stop()

    # batch 1: all first-sightings; batch 2: b and c are cross-batch dups
    last = {}
    for r in rows:
        last[(r["clip_id"], r["occurrences"])] = r
    assert any(r["clip_id"] == "b" and r["occurrences"] == 2 and r["dup"] for r in rows)
    assert any(r["clip_id"] == "c" and r["occurrences"] == 3 and r["dup"] for r in rows)
    assert any(r["clip_id"] == "d" and r["occurrences"] == 1 and not r["dup"] for r in rows)
    first_a = [r for r in rows if r["clip_id"] == "a"]
    assert first_a and all(not r["dup"] for r in first_a)


def test_windowed_drift_psi_matches_batch_engine(spark, tmp_path):
    """The streaming PSI fold must equal drift_statistic on the same counts —
    verified per window against the batch engine, running the SAME expression
    over a real stream (memory sink) and a bounded frame."""
    import numpy as np

    from dcspark import drift as drift_mod
    from dcspark.streaming import windowed_drift_psi

    rng = np.random.default_rng(7)
    ref = spark.createDataFrame([(float(v),) for v in rng.normal(50, 10, 4000)], "x double")
    stats = drift_mod.build_ref_stats(ref, ["x"], n_quantiles=19, n_bins=10)["x"]

    # window 00:00 draws from the reference distribution; 00:05 is shifted
    rows = [("2024-01-01 00:00:%02d" % (i % 60), float(v))
            for i, v in enumerate(rng.normal(50, 10, 500))]
    rows += [("2024-01-01 00:05:%02d" % (i % 60), float(v))
             for i, v in enumerate(rng.normal(80, 10, 500))]
    src = tmp_path / "psi_src"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        for ts, v in rows:
            f.write(json.dumps({"ts": ts, "x": v}) + "\n")

    stream = (
        spark.readStream.schema("ts string, x double").json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    q = (
        windowed_drift_psi(stream, "x", stats, ts_col="ts", window="5 minutes")
        .writeStream.outputMode("complete").format("memory")
        .queryName("psi_win").start()
    )
    try:
        q.processAllAvailable()
        got = {r["window_start"].strftime("%H:%M"): r for r in spark.table("psi_win").collect()}
    finally:
        q.stop()

    assert got["00:00"]["rows"] == 500 and got["00:05"]["rows"] == 500
    assert got["00:00"]["psi"] < 0.1          # in-distribution window
    assert got["00:05"]["psi"] > 0.5          # shifted window screams

    # exact agreement with the batch engine's fold on the same window's data
    batch = spark.createDataFrame(
        [(float(v),) for _, v in rows[:500]], "x double")
    row = batch.agg(*[
        v.alias(k) for k, v in drift_mod.drift_agg_exprs("x", stats, "psi", "p").items()
    ]).first().asDict()
    expected = drift_mod.drift_statistic(row, stats, "psi", "p")
    assert abs(got["00:00"]["psi"] - expected) < 1e-9


def test_windowed_drift_psi_categorical(spark, tmp_path):
    """The streaming monitor handles categorical snapshots: same-mix window
    reads ~0 PSI, shifted-mix (incl. a codec unseen in the reference) spikes
    and matches drift_statistic on the same counts."""
    from dcspark import drift as drift_mod
    from dcspark.streaming import windowed_drift_psi

    ref = spark.createDataFrame(
        [(f"c{i}", "pcm" if i % 10 < 6 else "flac") for i in range(200)],
        "clip_id string, codec string")
    stats = drift_mod.build_categorical_ref_stats(ref, ["codec"])["codec"]

    rows = [("2024-01-01 00:00:%02d" % (i % 60),
             "pcm" if i % 10 < 6 else "flac") for i in range(100)]
    rows += [("2024-01-01 00:05:%02d" % (i % 60), "opus") for i in range(100)]
    src = tmp_path / "cat_src"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        for ts, c in rows:
            f.write(json.dumps({"ts": ts, "codec": c}) + "\n")

    stream = (
        spark.readStream.schema("ts string, codec string").json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    q = (
        windowed_drift_psi(stream, "codec", stats, ts_col="ts", window="5 minutes")
        .writeStream.outputMode("complete").format("memory")
        .queryName("cat_psi_win").start()
    )
    try:
        q.processAllAvailable()
        got = {r["window_start"].strftime("%H:%M"): r
               for r in spark.table("cat_psi_win").collect()}
    finally:
        q.stop()
    assert got["00:00"]["psi"] < 1e-6
    assert got["00:05"]["psi"] > 1.0  # all-OTHER window
    # parity with the batch statistic on the same counts
    counts = [0] * drift_mod.n_bins(stats)
    counts[-1] = 100
    expect = drift_mod.drift_statistic_from_counts(counts, stats, "psi")
    assert abs(got["00:05"]["psi"] - expect) < 1e-9


AUDIO_STREAM_CONTRACT = """
id: stream-audio
models:
  clips:
    fields:
      clip_id: {type: string, required: true}
      bytes: {type: bytes, required: true}
      sr_hz: {type: integer}
      dur_ms: {type: integer}
      codec: {type: string}
    quality:
      - {type: audio, invariant: decode-conformance, snr_db: 30}
"""


def test_stream_audio_decode_conformance(spark, tmp_path):
    """Audio payload validation under Structured Streaming: each parquet
    micro-batch runs the full decode-conformance pass (header vs decoded PCM
    vs SNR oracle); a batch of lying-header clips fails, clean batches pass."""
    from dcspark import synth
    from dcspark.audio import synth_oracle
    from dcspark.engine import ValidationConfig

    seed, dur = 42, (200, 800)
    src = tmp_path / "clips_in"
    src.mkdir()
    clean = synth.generate_audio_table(
        spark, 30, seed=seed, dur_lo=dur[0], dur_hi=dur[1], num_partitions=2)
    clean.coalesce(1).write.parquet(str(tmp_path / "stage1"))
    bad = synth.generate_audio_table(
        spark, 30, seed=seed, corrupt={"lying_header": 0.4},
        dur_lo=dur[0], dur_hi=dur[1], num_partitions=2)
    bad.coalesce(1).write.parquet(str(tmp_path / "stage2"))

    import glob
    import shutil

    for i, stage in enumerate(("stage1", "stage2")):
        part = glob.glob(str(tmp_path / stage / "part-*.parquet"))[0]
        shutil.copy(part, src / f"batch{i}.parquet")

    spec = DataContractSpecification.from_string(AUDIO_STREAM_CONTRACT)
    stream = (spark.readStream.schema(synth.AUDIO_SCHEMA_DDL)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    handle = validate_stream(
        spark, spec, stream, "clips",
        config=ValidationConfig(audio_snr_fn=synth_oracle(seed, dur[0], dur[1])),
        checkpoint_location=str(tmp_path / "ckpt_audio"),
    )
    try:
        assert handle.await_batches(2, timeout_s=180)
    finally:
        handle.stop()
    runs = handle.runs()
    results = [r.result for r in runs]
    assert ResultEnum.passed in results and ResultEnum.failed in results
    failed_run = next(r for r in runs if r.result == ResultEnum.failed)
    failed_keys = {c.key for c in failed_run.checks if c.result == ResultEnum.failed}
    assert "clips__audio_decode_conformance" in failed_keys


def test_windowed_psi_abstains_on_all_null_window(spark):
    """Review finding: a window whose monitored column is entirely NULL has
    zero evidence — PSI must be NULL (the batch engine abstains), not the
    clamped-epsilon maximal ~13.8 false alarm."""
    import datetime as dt

    from dcspark import drift as drift_mod
    from dcspark import streaming as streaming_mod

    ref = spark.range(1000).selectExpr("cast(id % 50 as double) as x")
    stats = drift_mod.build_ref_stats(ref, ["x"])["x"]
    t0 = dt.datetime(2026, 1, 1, 0, 0, 30)
    rows = [(t0, None)] * 20 + [(t0 + dt.timedelta(minutes=2), 25.0)] * 10
    df = spark.createDataFrame(rows, "ts timestamp, x double")
    out = {r["window_start"]: r for r in
           streaming_mod.windowed_drift_psi(df, "x", stats).collect()}
    w0 = out[dt.datetime(2026, 1, 1, 0, 0)]
    assert w0["rows"] == 20 and w0["psi"] is None
    w2 = out[dt.datetime(2026, 1, 1, 0, 2)]
    assert w2["psi"] is not None


def test_stream_history_bounded(spark):
    from dcspark.streaming import StreamValidation

    h = StreamValidation(query=None, max_history=5)
    for i in range(12):
        h._record(f"r{i}")
    assert h.total_batches == 12
    assert len(h.history) == 5
    assert h.history == ["r7", "r8", "r9", "r10", "r11"]
