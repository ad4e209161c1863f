"""Regression pins for the round-4 audio.py review findings."""

import struct

import numpy as np
import pytest

from dcspark import audio as A
from dcspark import synth


def _wav_with_fact(pcm: np.ndarray, sr: int, fact_samples: int,
                   pad_samples: int = 0) -> bytes:
    """Mono s16le WAV with an explicit fact chunk and padded data chunk."""
    data = pcm.astype("<i2").tobytes() + b"\x00\x00" * pad_samples
    hdr = (b"RIFF" + struct.pack("<I", 4 + 24 + 12 + 8 + len(data))
           + b"WAVEfmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
           + b"fact" + struct.pack("<II", 4, fact_samples)[:8]
           + b"data" + struct.pack("<I", len(data)))
    return hdr + data


def test_fact_chunk_truncates_the_s16_hot_path():
    """A fact chunk must bound the decode on the zero-copy mono s16 path
    like every other codec path — a padded data chunk otherwise decoded
    longer than parse_wav_meta reports for the SAME clip (false dur/snr
    violations)."""
    pcm = (np.sin(np.arange(800) * 0.1) * 10000).astype(np.int16)
    raw = _wav_with_fact(pcm, 8000, fact_samples=800, pad_samples=50)
    sr, name, decoded = A.parse_wav(raw)
    assert name == "pcm_s16le" and sr == 8000
    assert len(decoded) == 800          # not 850
    meta_sr, meta_name, meta_n = A.parse_wav_meta(raw)[:3]
    assert len(decoded) == 800


def test_short_fmt_chunk_is_a_decode_error():
    """A fmt chunk declaring size < 16 must raise instead of silently
    unpacking the NEXT chunk's bytes as format fields."""
    pcm = np.zeros(100, dtype=np.int16)
    data = pcm.tobytes()
    raw = (b"RIFF" + struct.pack("<I", 36 + len(data))
           + b"WAVEfmt " + struct.pack("<I", 0)     # fmt size 0!
           + b"data" + struct.pack("<I", len(data)) + data)
    with pytest.raises(ValueError, match="fmt chunk"):
        A.parse_wav(raw)


def test_nan_snr_normalizes_like_inf():
    """A user snr_fn returning NaN must not poison the snr_db column; the
    clip fails the invariant (NaN >= floor is False)."""
    r = synth.make_row(1, 0, dur_lo=300, dur_hi=400)
    rows = [(r["clip_id"], bytes(r["bytes"]), r["sr_hz"], r["dur_ms"],
             r["codec"])]
    recs = A._eval_batch(
        _batch_of(rows),
        snr_fn=lambda cid, sr, dur, pcm: float("nan"),
        snr_floor_db=30.0)
    rec = recs[0][1]
    assert rec["snr_db"] is None
    assert rec["snr_ok"] is False


def _batch_of(rows):
    import pyarrow as pa

    return pa.RecordBatch.from_pydict({
        "clip_id": [r[0] for r in rows],
        "bytes": [r[1] for r in rows],
        "sr_hz": [r[2] for r in rows],
        "dur_ms": [r[3] for r in rows],
        "codec": [r[4] for r in rows],
    })


def test_vad_silence_features_reconcile_at_odd_rates():
    """leading + speech + trailing must reconcile with the clip duration at
    rates where sr*0.02 is not integral (11025 Hz): the nominal-20ms vs
    actual-frame conventions used to disagree by ~a frame."""
    sr = 11025
    silence = np.zeros(sr, dtype=np.int16)              # 1 s silence
    tone = (np.sin(np.arange(sr) * 0.3) * 20000).astype(np.int16)
    pcm = np.concatenate([silence, tone, silence])
    total_ms = len(pcm) * 1000.0 / sr
    lead = A.leading_silence_ms(pcm, sr)
    speech = A.speech_seconds(pcm, sr) * 1000.0
    trail = A.trailing_silence_ms(pcm, sr)
    assert abs((lead + speech + trail) - total_ms) < 1e-6, (
        lead, speech, trail, total_ms)
