"""Multi-codec WAV decode/encode: pure-numpy G.711 + PCM variants.

The decode tables and encoders are verified BYTE-EXACT against CPython's
``audioop`` (the battle-tested Sun g711.c port) over the full value range,
then the whole family is exercised through ``parse_wav_view`` round-trips,
WAVE_FORMAT_EXTENSIBLE headers, multi-channel downmix, and the Spark-side
decode-conformance pass so alternate-codec clips flow through the exact
engine path the contract uses.
"""

import struct
import warnings

import numpy as np
import pytest

from dcspark.audio import (
    _alaw_table,
    _mulaw_table,
    encode_wav,
    lin2alaw,
    lin2mulaw,
    parse_wav,
    parse_wav_view,
    snr_db,
    WAV_CODEC_NAMES,
)
from dcspark.synth import synth_pcm, wav_bytes

with warnings.catch_warnings():
    warnings.simplefilter("ignore", DeprecationWarning)
    # stdlib oracle (3.11); removed in 3.13 — skip these files there rather
    # than fail collection (the codec itself has no audioop dependency)
    audioop = pytest.importorskip("audioop")


ALL_BYTES = bytes(range(256))
ALL_I16 = np.arange(-32768, 32768, dtype=np.int16)


def _sine(sr=16000, dur_ms=500, hz=440.0, amp=0.5):
    t = np.arange(int(sr * dur_ms / 1000)) / sr
    return (np.sin(2 * np.pi * hz * t) * amp * 32767).astype(np.int16)


# ---------------------------------------------------------------- G.711 exact

def test_mulaw_decode_table_matches_audioop():
    ref = np.frombuffer(audioop.ulaw2lin(ALL_BYTES, 2), dtype="<i2")
    assert np.array_equal(_mulaw_table(), ref)


def test_alaw_decode_table_matches_audioop():
    ref = np.frombuffer(audioop.alaw2lin(ALL_BYTES, 2), dtype="<i2")
    assert np.array_equal(_alaw_table(), ref)


def test_lin2mulaw_matches_audioop_all_values():
    ref = np.frombuffer(audioop.lin2ulaw(ALL_I16.tobytes(), 2), dtype=np.uint8)
    assert np.array_equal(lin2mulaw(ALL_I16), ref)


def test_lin2alaw_matches_audioop_all_values():
    ref = np.frombuffer(audioop.lin2alaw(ALL_I16.tobytes(), 2), dtype=np.uint8)
    assert np.array_equal(lin2alaw(ALL_I16), ref)


# ---------------------------------------------------------- container decode

@pytest.mark.parametrize("codec", sorted(WAV_CODEC_NAMES.values()))
def test_encode_decode_roundtrip_codec_name(codec):
    pcm = _sine()
    sr, name, out = parse_wav(encode_wav(pcm, 16000, codec=codec))
    assert (sr, name) == (16000, codec)
    assert len(out) == len(pcm)


@pytest.mark.parametrize("codec", ["pcm_s16le", "pcm_s24le", "pcm_s32le", "pcm_f32le"])
def test_lossless_codecs_roundtrip_exact(codec):
    sr, _, out = parse_wav(encode_wav(ALL_I16, 8000, codec=codec))
    assert np.array_equal(out, ALL_I16)


def test_u8_roundtrip_keeps_high_byte():
    _, _, out = parse_wav(encode_wav(ALL_I16, 8000, codec="pcm_u8"))
    assert np.array_equal(out, ALL_I16.astype(np.int16) & ~0xFF)


@pytest.mark.parametrize("codec,ulaw", [("pcm_mulaw", True), ("pcm_alaw", False)])
def test_g711_roundtrip_matches_audioop_chain(codec, ulaw):
    pcm = _sine()
    _, _, out = parse_wav(encode_wav(pcm, 16000, codec=codec))
    enc = audioop.lin2ulaw if ulaw else audioop.lin2alaw
    dec = audioop.ulaw2lin if ulaw else audioop.alaw2lin
    ref = np.frombuffer(dec(enc(pcm.tobytes(), 2), 2), dtype="<i2")
    assert np.array_equal(out, ref)


def test_g711_transcode_preserves_snr_over_30db():
    # the contract's SNR>=30dB invariant still holds through a G.711 transcode
    pcm = _sine(amp=0.5)
    for codec in ("pcm_mulaw", "pcm_alaw"):
        _, _, out = parse_wav(encode_wav(pcm, 16000, codec=codec))
        assert snr_db(pcm, out) >= 30.0


@pytest.mark.parametrize(
    "codec", sorted(set(WAV_CODEC_NAMES.values()) - {"adpcm_ima_wav"}))
def test_extensible_header_resolves_subformat(codec):
    pcm = _sine(dur_ms=100)
    sr, name, out = parse_wav(encode_wav(pcm, 22050, codec=codec, extensible=True))
    assert (sr, name) == (22050, codec)
    assert len(out) == len(pcm)


def test_extensible_without_subformat_raises():
    b = bytearray(encode_wav(_sine(dur_ms=50), 8000))
    struct.pack_into("<H", b, 20, 0xFFFE)  # claim extensible, fmt chunk too short
    with pytest.raises(ValueError, match="extensible"):
        parse_wav(bytes(b))


def test_stereo_downmix_mean():
    pcm = _sine(dur_ms=200)
    _, name, out = parse_wav(encode_wav(pcm, 16000, codec="pcm_s16le", channels=2))
    assert name == "pcm_s16le"
    assert np.array_equal(out, pcm)  # duplicated channels downmix to the original


def test_four_channel_downmix_length():
    pcm = _sine(dur_ms=100)
    _, _, out = parse_wav(encode_wav(pcm, 16000, codec="pcm_s24le", channels=4))
    assert len(out) == len(pcm)
    assert snr_db(pcm, out) > 60.0


def test_unsupported_bits_raise():
    b = bytearray(encode_wav(_sine(dur_ms=50), 8000))
    struct.pack_into("<H", b, 34, 12)  # 12-bit PCM is not a thing we decode
    with pytest.raises(ValueError, match="unsupported codec"):
        parse_wav(bytes(b))


def test_synth_wav_bytes_still_hot_path_zero_copy():
    pcm = _sine()
    b = wav_bytes(pcm, 16000)
    sr, name, out = parse_wav_view(b)
    assert (sr, name) == (16000, "pcm_s16le")
    assert out.base is not None  # a view, not a copy


def test_encode_wav_matches_synth_writer_for_s16():
    pcm = synth_pcm(16000, 300, np.array([440.0]), np.array([0.4]))
    _, _, a = parse_wav(wav_bytes(pcm, 16000))
    _, _, b = parse_wav(encode_wav(pcm, 16000, codec="pcm_s16le"))
    assert np.array_equal(a, b)


# ------------------------------------------------------------- engine flow

def test_decode_report_multicodec(spark):
    from dcspark.audio import audio_decode_report

    pcm = _sine(dur_ms=400)
    rows = []
    for i, codec in enumerate(sorted(WAV_CODEC_NAMES.values())):
        rows.append((f"clip-{i}", encode_wav(pcm, 16000, codec=codec),
                     16000, 400, codec))
    # declared mulaw but payload is alaw -> codec_bad, decode still succeeds
    rows.append(("clip-wrongcodec", encode_wav(pcm, 16000, codec="pcm_alaw"),
                 16000, 400, "pcm_mulaw"))
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string")
    rep = {r["clip_id"]: r for r in audio_decode_report(df).collect()}
    assert len(rep) == len(rows)
    for i in range(len(WAV_CODEC_NAMES)):
        r = rep[f"clip-{i}"]
        assert r["decode_error"] is None
        assert r["sr_ok"] and r["dur_ok"] and r["codec_ok"]
    bad = rep["clip-wrongcodec"]
    assert bad["decode_error"] is None and not bad["codec_ok"]
    assert bad["sr_ok"] and bad["dur_ok"]


def test_engine_multicodec_contract(spark):
    """Full contract run over a codec-mixed table: correctly-declared alternate
    codecs pass everything (incl. SNR vs the s16 oracle — quantization noise
    stays above the 30 dB floor); wrong_codec rows fail exactly the
    decode-conformance and codec-enum checks."""
    from dcspark import DataContractSpecification, ValidationConfig, validate
    from dcspark import synth
    from dcspark.audio import synth_oracle
    from dcspark.run_model import ResultEnum

    seed, n = 42, 150
    spec = DataContractSpecification.from_file(
        "/root/repo/contracts/audio_clips_multicodec.yaml")
    mk = dict(seed=seed, dur_lo=200, dur_hi=1500, num_partitions=4, codec_mix=0.5)
    clips = synth.generate_audio_table(spark, n, **mk).cache()
    ref = synth.generate_transcripts_ref(spark, n, seed=seed, num_partitions=4).cache()
    # the mix actually produced alternate codecs, correctly declared
    codecs = {r["codec"] for r in clips.select("codec").distinct().collect()}
    assert len(codecs) >= 4 and "pcm_s16le" in codecs
    from dcspark import drift as drift_mod

    ref_stats = {"audio_clips": drift_mod.build_ref_stats(
        clips, ["dur_ms", "sr_hz"], n_quantiles=49, n_bins=10)}
    cfg = ValidationConfig(ref_stats=ref_stats,
                           audio_snr_fn=synth_oracle(seed, 200, 1500))
    res = validate(spark, spec, {"audio_clips": clips, "transcripts_ref": ref}, cfg)
    assert res.run.result == ResultEnum.passed, [
        (c.key, c.result) for c in res.run.checks if c.result != ResultEnum.passed]

    bad = synth.generate_audio_table(
        spark, n, corrupt={"wrong_codec": 0.2}, **mk)
    res2 = validate(spark, spec, {"audio_clips": bad, "transcripts_ref": ref}, cfg)
    failed = {c.key for c in res2.run.checks if c.result == ResultEnum.failed}
    assert "audio_clips__audio_decode_conformance" in failed
    assert "audio_clips__sr_hz__field_enum" not in failed
    assert "audio_clips__clip_id__field_unique" not in failed
    clips.unpersist(), ref.unpersist()


def test_speaking_rate_expression_rule(spark):
    """The multicodec contract's speaking-rate CHECK: a transcript pasted onto
    a clip far too short for it (2500 chars/sec) fails the expression rule."""
    from dcspark import DataContractSpecification, ValidationConfig, validate
    from dcspark import synth
    from dcspark.run_model import ResultEnum

    spec = DataContractSpecification.from_file(
        "/root/repo/contracts/audio_clips_multicodec.yaml")
    rule_keys = [c for m in spec.models.values() for c in (m.quality or [])
                 if getattr(c, "type", None) == "expression"]
    assert rule_keys, "contract lost its expression rule"
    clips = synth.generate_audio_table(
        spark, 40, seed=42, dur_lo=200, dur_hi=900, num_partitions=2)
    ref = synth.generate_transcripts_ref(spark, 40, seed=42, num_partitions=2)
    from pyspark.sql import functions as F

    # paste a 600-char transcript onto every sub-second clip
    bloated = clips.withColumn(
        "transcript", F.rpad(F.col("transcript"), 600, "x"))
    cfg = ValidationConfig()
    res = validate(spark, spec, {"audio_clips": bloated, "transcripts_ref": ref},
                   cfg)
    failed = {c.key for c in res.run.checks if c.result == ResultEnum.failed}
    assert any("quality_expression" in k for k in failed), failed


def test_zero_sample_rate_rejected():
    b = bytearray(encode_wav(_sine(dur_ms=100), 16000))
    struct.pack_into("<I", b, 24, 0)  # sample-rate field -> 0
    with pytest.raises(ValueError, match="sample rate"):
        parse_wav(bytes(b))


@pytest.mark.parametrize("codec", sorted(WAV_CODEC_NAMES.values()))
def test_parse_wav_meta_matches_decode(codec):
    """Header-only metadata agrees with the full decode for every codec."""
    from dcspark.audio import parse_wav_meta

    pcm = _sine(dur_ms=437)
    b = encode_wav(pcm, 16000, codec=codec)
    sr_m, name_m, n_m = parse_wav_meta(b)
    sr_d, name_d, out = parse_wav(b)
    assert (sr_m, name_m) == (sr_d, name_d)
    assert n_m == len(out)
