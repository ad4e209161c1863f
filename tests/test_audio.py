"""Audio synthesis + WAV decode + SNR invariant (BASELINE input_hint parity)."""

import numpy as np
import pytest

from dcspark import synth
from dcspark.audio import audio_decode_report, parse_wav, snr_db, synth_oracle


def test_wav_roundtrip():
    pcm = synth.synth_pcm(16000, 500, np.array([440.0, 880.0]), np.array([0.2, 0.1]))
    b = synth.wav_bytes(pcm, 16000)
    sr, codec, decoded = parse_wav(b)
    assert sr == 16000 and codec == "pcm_s16le"
    assert np.array_equal(decoded, pcm)
    assert len(pcm) == 8000  # 500ms at 16kHz


def test_parse_wav_rejects_garbage():
    with pytest.raises(ValueError):
        parse_wav(b"not a wav file at all" * 10)
    with pytest.raises(ValueError):
        parse_wav(None)


def test_snr():
    x = synth.synth_pcm(8000, 300, np.array([300.0]), np.array([0.3]))
    assert snr_db(x, x) == float("inf")
    rng = np.random.default_rng(0)
    noisy = (x + rng.normal(0, np.abs(x).mean() * 0.5, x.shape)).astype(np.int16)
    assert snr_db(x, noisy) < 30.0
    slightly = (x + rng.normal(0, 1.0, x.shape)).astype(np.int16)
    assert snr_db(x, slightly) > 30.0


def test_synthesis_deterministic():
    a = synth.make_row(42, 7)
    b = synth.make_row(42, 7)
    assert a["bytes"] == b["bytes"] and a["transcript"] == b["transcript"]
    c = synth.make_row(43, 7)
    assert c["bytes"] != a["bytes"]


def test_decode_report_clean_and_corrupt(spark):
    rows = [synth.make_row(42, i, dur_lo=200, dur_hi=1000) for i in range(20)]
    lying = synth.make_row(42, 100, {"lying_header": 1.0}, dur_lo=200, dur_hi=1000)
    garbled = synth.make_row(42, 101, {"garbled_pcm": 1.0}, dur_lo=200, dur_hi=1000)
    broken = dict(synth.make_row(42, 102, dur_lo=200, dur_hi=1000), bytes=b"XXXX")
    for r in rows + [lying, garbled, broken]:
        r.pop("_i", None)
    df = spark.createDataFrame(rows + [lying, garbled, broken], synth.AUDIO_SCHEMA_DDL)
    report = audio_decode_report(df, snr_fn=synth_oracle(42, 200, 1000)).collect()
    by_id = {r["clip_id"]: r for r in report}
    for i in range(20):
        r = by_id[synth.clip_id_for(i)]
        assert r["sr_ok"] and r["dur_ok"] and r["codec_ok"] and r["snr_ok"], r
    # lying header: decoded sr != declared sr
    assert not by_id[synth.clip_id_for(100)]["sr_ok"]
    # garbled PCM: header fine, SNR below floor
    g = by_id[synth.clip_id_for(101)]
    assert g["sr_ok"] and not g["snr_ok"] and g["snr_db"] < 30.0
    # undecodable container -> decode_error
    assert by_id[synth.clip_id_for(102)]["decode_error"] is not None


def test_decode_report_without_oracle_skips_snr(spark):
    rows = [synth.make_row(42, i, dur_lo=200, dur_hi=500) for i in range(3)]
    for r in rows:
        r.pop("_i", None)
    df = spark.createDataFrame(rows, synth.AUDIO_SCHEMA_DDL)
    report = audio_decode_report(df, snr_fn=None).collect()
    assert all(r["snr_ok"] is None and r["sr_ok"] for r in report)
