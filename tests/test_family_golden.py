"""Golden runs over one contract that carries a check of every family.

The engine dispatches checks through one family table
(``engine.FAMILIES``). These tests pin what a run produces on a fixed
fixture — every ``Run`` check (key, order, result, reason, diagnostics),
every results row without its timestamps and run id, and every violation
row in order — so that a change to the dispatch cannot change what is
computed, recorded or sampled. The pinned values live in
``tests/golden/family_run.json``: the same contract runs with
``parallel_jobs`` 1 and 8 (both must match one flat snapshot) and
partitioned. A checkpointed run and its resume must report what the fresh
partitioned run reports; their checks and results rows are compared as
multisets, because a checkpointed plan runs content-uniqueness as its own
job, which records later.

Fixture sources: synthesized clips (as in test_audiodrift), PNG photos and
cards (test_imagerule), Motion-JPEG AVI payloads (test_videorule), a stored
results table for the history rule (test_history) and a per-group count
threshold (test_single_scan_on_fail).
"""

import datetime as dt
import json
import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from dcspark import DataContractSpecification, ValidationConfig, validate
from dcspark import drift as drift_mod
from dcspark import multimodal, synth
from dcspark import audio as audio_mod
from dcspark.avi import avi_bytes
from dcspark.engine import RESULTS_DDL
from dcspark.imagefp import image_compact
from dcspark.jpeg import jpeg_bytes

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "family_run.json")

SEED, N = 11, 24
NOW = dt.datetime(2026, 1, 2, tzinfo=dt.timezone.utc)

CONTRACT = """
id: every-family
info: {title: every family, version: 1.0.0}
models:
  clips:
    fields:
      clip_id:
        type: string
        required: true
        unique: true
        primaryKey: true
        pattern: "^clip-[0-9]{12}$"
        references: refs.clip_id
      bytes: {type: bytes, required: true}
      sr_hz: {type: int, required: true, enum: [8000, 16000, 22050, 44100, 48000]}
      dur_ms: {type: int, required: true, minimum: 200, maximum: 30000}
      codec: {type: string, enum: ["pcm_s16le"]}
      transcript: {type: string, required: true, minLength: 1}
      ts: {type: timestamp}
      absent_col: {type: string, required: true, unique: true}
    quality:
      - {type: drift, method: ks, column: dur_ms, threshold: 0.05}
      - {type: drift, method: psi, column: sr_hz, threshold: 0.2}
      - {type: drift, method: psi, column: codec, threshold: 0.2}
      - {type: drift, method: ks, column: codec, threshold: 0.05}
      - {type: drift, method: ks, column: transcript, threshold: 0.05}
      - {type: audio, invariant: decode-conformance}
      - {type: audio, invariant: signal-quality, column: rms_dbfs, minimum: -50.0}
      - {type: audio, invariant: loudness-drift, column: rms_dbfs, method: psi, threshold: 0.2}
      - {type: audio, invariant: content-uniqueness}
      - {type: audio, invariant: transcript-equality, ref: refs, key: clip_id,
         column: transcript, ref_column: text}
      - {type: group, column: sr_hz, metric: count, mustBeLessThan: 6}
      - {type: sql, query: "SELECT count(*) FROM clips", mustBeGreaterThan: 0}
      - {type: sql, query: "SELECT count(*) FROM clips WHERE sr_hz = 12345", mustBe: 0}
      - {type: sql, query: "SELECT 'not a number'", mustBe: 0}
      - {type: history, watch: row_count, method: change, window: 5, threshold: 20}
  refs:
    fields:
      clip_id: {type: string, required: true, unique: true}
      text: {type: string, required: true}
  echo:
    fields:
      clip_id: {type: string, primaryKey: true}
      bytes: {type: bytes}
    quality:
      - {type: audio, invariant: content-uniqueness}
  images:
    fields:
      image_id: {type: string, primaryKey: true}
      bytes: {type: bytes}
      width: {type: int}
      height: {type: int}
    quality:
      - {type: image, invariant: decode-conformance, width_column: width,
         height_column: height}
      - {type: image, invariant: signal-quality, column: brightness,
         minimum: 10, maximum: 245}
      - {type: image, invariant: content-uniqueness}
      - {type: image, invariant: luminance-drift, column: brightness,
         method: psi, threshold: 0.2}
  videos:
    fields:
      video_id: {type: string, primaryKey: true}
      bytes: {type: bytes}
      fps: {type: double}
      n_frames: {type: integer}
      width: {type: integer}
      height: {type: integer}
    quality:
      - {type: video, invariant: decode-conformance, column: bytes,
         fps_column: fps, frames_column: n_frames,
         width_column: width, height_column: height}
servicelevels:
  freshness: {threshold: 1d, timestampField: clips.ts}
  retention: {period: 1h, timestampField: clips.ts}
"""

CORRUPT = {"bad_sr": 0.1, "wrong_transcript": 0.15, "dup_clip_id": 0.1,
           "lying_header": 0.1, "bad_pattern": 0.1, "muted_pcm": 0.1}

#: ValidationConfig fields per pinned configuration, run in this order;
#: CHECKPOINT stands for one checkpoint directory they share
CHECKPOINT = object()
PARTITIONED = {"parallel_jobs": 8, "partition_col": "sr_hz"}
CONFIGS = {
    "serial": {"parallel_jobs": 1},
    "parallel": {"parallel_jobs": 8},
    "partitioned": PARTITIONED,
    "checkpointed": {**PARTITIONED, "checkpoint_dir": CHECKPOINT,
                     "checkpoint_chunks": 3},
    "resumed": {**PARTITIONED, "checkpoint_dir": CHECKPOINT,
                "checkpoint_chunks": 3, "resume": True},
}
#: the golden snapshot each configuration must reproduce: the number of
#: concurrent jobs and checkpointing change nothing a run reports
GOLDEN_OF = {"serial": "flat", "parallel": "flat", "partitioned": "partitioned",
             "checkpointed": "partitioned", "resumed": "partitioned"}
#: configurations whose checks and results rows may record in another order
UNORDERED = {"checkpointed", "resumed"}


def _photo(seed, h=48, w=64):
    rng = np.random.default_rng(seed)
    base = rng.uniform(0, 255, (6, 8, 3))
    yi = np.linspace(0, 5, h)
    xi = np.linspace(0, 7, w)
    up = np.empty((h, w, 3))
    for c in range(3):
        col = np.array([np.interp(xi, np.arange(8), base[r, :, c]) for r in range(6)])
        up[..., c] = np.array([np.interp(yi, np.arange(6), col[:, j]) for j in range(w)]).T
    return up.astype(np.uint8)


def _frames(n=4, h=16, w=20, phase=0):
    out = []
    for i in range(n):
        yy, xx = np.mgrid[0:h, 0:w]
        out.append(np.stack([(xx * 255 // (w - 1)), (yy * 255 // (h - 1)),
                             np.full((h, w), ((i + phase) * 40) % 256)],
                            axis=-1).astype(np.uint8))
    return out


def _tables(spark):
    clips = synth.generate_audio_table(
        spark, N, seed=SEED, corrupt=CORRUPT, dur_lo=200, dur_hi=800,
        num_partitions=2
    ).withColumn("ts", F.timestamp_seconds(F.lit(1767225600) + F.col("dur_ms")))
    refs = synth.generate_transcripts_ref(spark, N, seed=SEED, orphan_frac=0.15)
    photos = [(f"im-{i:02d}", bytearray(multimodal.png_bytes(_photo(i))), 64, 48)
              for i in range(8)]
    photos += [
        ("black", bytearray(multimodal.png_bytes(np.zeros((16, 16, 3), np.uint8))), 16, 16),
        ("broken", bytearray(b"not an image"), 1, 1),
        ("re-enc", bytearray(jpeg_bytes(_photo(0), quality=70)), 64, 48),
        ("dim-lie", bytearray(multimodal.png_bytes(_photo(20))), 640, None),
    ]
    images = spark.createDataFrame(
        photos, "image_id string, bytes binary, width int, height int")
    ok = avi_bytes(_frames(4), fps=25.0)
    videos = spark.createDataFrame([
        ("ok", bytearray(ok), 25.0, 4, 20, 16),
        ("corrupt", bytearray(b"RIFFxxxxAVI corrupted"), 25.0, 4, 20, 16),
        ("fps-lie", bytearray(ok), 30.0, 4, 20, 16),
        ("count-lie", bytearray(ok), 25.0, 9, 20, 16),
        ("null-fps", bytearray(ok), None, 4, 20, 16),
    ], "video_id string, bytes binary, fps double, n_frames int, "
       "width int, height int")
    # two payload copies under new ids: near-duplicates for the standalone
    # fingerprint job of the ``echo`` model
    copies = clips.filter(F.col("clip_id").isin(
        synth.clip_id_for(3), synth.clip_id_for(5))).select(
        F.concat(F.lit("copy-"), F.col("clip_id")).alias("clip_id"), "bytes")
    echo = clips.select("clip_id", "bytes").unionByName(copies)
    return {"clips": clips, "refs": refs, "echo": echo,
            "images": images, "videos": videos}


def _ref_stats(spark):
    clean = synth.generate_audio_table(
        spark, N, seed=SEED + 1, dur_lo=200, dur_hi=800, num_partitions=2).persist()
    try:
        clip_stats = drift_mod.build_ref_stats(clean, ["dur_ms", "sr_hz"])
        clip_stats.update(drift_mod.build_categorical_ref_stats(clean, ["codec"]))
        feats = audio_mod.audio_feature_frame(clean, ["rms_dbfs"]).persist()
        try:
            clip_stats.update({f"audio:{k}": v for k, v in
                               drift_mod.build_ref_stats(feats, ["rms_dbfs"]).items()})
        finally:
            feats.unpersist()
    finally:
        clean.unpersist()
    ref_imgs = spark.createDataFrame(
        [(f"r-{i}", bytearray(multimodal.png_bytes(_photo(100 + i)))) for i in range(12)],
        "image_id string, bytes binary")
    frame = image_compact(ref_imgs, id_col="image_id", bytes_col="bytes",
                          features=("brightness",)).filter(
        F.col("decode_error").isNull()).select(F.col("f_brightness").alias("brightness"))
    img_stats = {f"image:{k}": v for k, v in
                 drift_mod.build_ref_stats(frame, ["brightness"]).items()}
    return {"clips": clip_stats, "echo": {}, "images": img_stats}


def _history_table(spark, path):
    rows = [{"run_id": f"r{i}", "partition_id": None, "model": "clips",
             "field": None, "check_key": "clips__row_count",
             "check_type": "row_count", "category": "quality", "engine": "dcspark",
             "result": "passed", "metric_value": v, "threshold": None,
             "reason": None, "row_count": None,
             "ts_start": dt.datetime(2025, 12, 1 + i, tzinfo=dt.timezone.utc),
             "ts_end": dt.datetime(2025, 12, 1 + i, tzinfo=dt.timezone.utc)}
            for i, v in enumerate([20.0, 22.0, 21.0, 23.0])]
    spark.createDataFrame(rows, RESULTS_DDL).write.mode("overwrite").parquet(path)


def _plain(v):
    """JSON-stable form of a recorded value (floats keep their exact repr)."""
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return repr(v)
    if isinstance(v, dict):
        return {str(k): _plain(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "value") and not isinstance(v, (int, float, str)):
        return v.value
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return v


def _snapshot(res):
    checks = [_plain({k: getattr(c, k) for k in (
        "key", "category", "type", "name", "model", "field", "implementation",
        "result", "reason", "diagnostics")}) for c in res.run.checks]
    results = [_plain({k: v for k, v in r.items()
                       if k not in ("run_id", "ts_start", "ts_end")})
               for r in res.results]
    violations = None
    if res.violations is not None:
        violations = [_plain(list(r)[1:]) for r in res.violations.collect()]
    return {"result": res.run.result.value, "checks": checks,
            "results": results, "violations": violations}


def golden_runs(spark, tmp_dir):
    """{config name: snapshot} for every pinned configuration."""
    hist = os.path.join(str(tmp_dir), "history.parquet")
    _history_table(spark, hist)
    tables = _tables(spark)
    ref_stats = _ref_stats(spark)
    spec = DataContractSpecification.from_string(CONTRACT)
    ck = os.path.join(str(tmp_dir), "ck")
    out = {}
    for name, fields in CONFIGS.items():
        cfg = ValidationConfig(
            **{k: ck if v is CHECKPOINT else v for k, v in fields.items()},
            ref_stats=ref_stats, now=NOW, history_path=hist)
        out[name] = _snapshot(validate(spark, spec, tables, cfg))
    return out


def _multiset(rows):
    return sorted(json.dumps(r, sort_keys=True) for r in rows)


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    return golden_runs(spark, tmp_path_factory.mktemp("golden"))


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN, encoding="utf-8") as f:
        return json.load(f)


@pytest.mark.parametrize("config", sorted(CONFIGS))
def test_run_checks_match_golden(runs, golden, config):
    got, want = runs[config], golden[GOLDEN_OF[config]]
    assert got["result"] == want["result"]
    if config in UNORDERED:
        assert _multiset(got["checks"]) == _multiset(want["checks"])
        return
    assert [c["key"] for c in got["checks"]] == [c["key"] for c in want["checks"]]
    for g, w in zip(got["checks"], want["checks"]):
        assert g == w, g["key"]


@pytest.mark.parametrize("config", sorted(CONFIGS))
def test_results_rows_match_golden(runs, golden, config):
    got, want = runs[config]["results"], golden[GOLDEN_OF[config]]["results"]
    if config in UNORDERED:
        assert _multiset(got) == _multiset(want)
    else:
        assert got == want


@pytest.mark.parametrize("config", sorted(CONFIGS))
def test_violation_rows_match_golden(runs, golden, config):
    assert runs[config]["violations"] == golden[GOLDEN_OF[config]]["violations"]


def test_fixture_exercises_every_family(golden):
    """The pinned run is only a guard if the contract carries every kind the
    family table runs, and both outcomes and the error path occur."""
    from dcspark.compile import create_checks
    from dcspark.engine import FAMILIES

    spec = DataContractSpecification.from_string(CONTRACT)
    kinds = {c.kind for checks in create_checks(spec).values() for c in checks}
    assert kinds == {k for fam in FAMILIES for k in fam.kinds}
    results = {c["result"] for c in golden["flat"]["checks"]}
    assert {"passed", "failed", "error"} <= results
