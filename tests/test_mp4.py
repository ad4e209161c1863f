"""MP4 / ISO-BMFF container metadata (dcspark/mp4.py): moov box walk.

The header-check path for foreign-codec video (H.264-in-MP4 et al. — frames
undecodable in-repo, container metadata fully readable): parse_mp4 must
round-trip mp4_bytes exactly, reject corrupt box trees with ValueError, and
flow through multimodal.video_metadata + the `type: video` contract rule so
declared fps/dims/frame-count columns verify against the stream's own header.
"""

import struct

import pytest
from pyspark.sql import functions as F

from dcspark.mp4 import is_mp4, mp4_bytes, parse_mp4


def test_round_trip_exact():
    raw = mp4_bytes(640, 360, 29.97, 120)
    m = parse_mp4(raw)
    assert (m["width"], m["height"]) == (640, 360)
    assert m["fps"] == pytest.approx(29.97, abs=1e-9)
    assert m["n_frames"] == 120
    assert m["codec"] == "avc1"
    assert m["brand"] == "isom"
    assert m["duration_ms"] == pytest.approx(120 / 29.97 * 1000, rel=1e-3)
    assert m["n_tracks"] == 1 and m["has_audio"] is False


def test_audio_track_and_codec_variants():
    m = parse_mp4(mp4_bytes(1920, 1080, 25.0, 50, codec="hvc1", with_audio=True))
    assert m["codec"] == "hvc1"
    assert m["n_tracks"] == 2 and m["has_audio"] is True
    assert (m["width"], m["height"]) == (1920, 1080)


def test_is_mp4_sniff():
    assert is_mp4(mp4_bytes(16, 16, 10.0, 2))
    assert not is_mp4(b"RIFF1234AVI LIST")
    assert not is_mp4(b"\x1a\x45\xdf\xa3" + b"\x00" * 20)  # WebM/EBML
    assert not is_mp4(b"")


def test_zero_frames():
    m = parse_mp4(mp4_bytes(320, 240, 30.0, 0))
    assert m["n_frames"] == 0 and m["fps"] is None


@pytest.mark.parametrize("mutate,desc", [
    (lambda b: b[:40], "truncated mid-box"),
    (lambda b: struct.pack(">I", 1 << 31) + b[4:], "forged huge box size"),
    (lambda b: struct.pack(">I", 3) + b[4:], "box size below header"),
    (lambda b: b[:len(b) // 2], "moov cut off"),
])
def test_corrupt_boxes_raise(mutate, desc):
    raw = mp4_bytes(64, 48, 24.0, 10)
    with pytest.raises(ValueError, match="mp4"):
        parse_mp4(mutate(bytearray(raw)))


def test_no_video_track_raises():
    # strip the moov down to just mvhd: no trak at all
    raw = mp4_bytes(64, 48, 24.0, 4)
    from dcspark import mp4 as m4
    from dcspark.binread import Reader
    buf = bytes(raw)
    moov = next(box for t, box in m4._boxes(Reader(buf, "mp4")) if t == b"moov")
    mvhd = next(box for t, box in m4._boxes(moov) if t == b"mvhd")
    moov_s, mvhd_box = moov.pos, buf[mvhd.pos - 8:mvhd.end]
    gutted = buf[:moov_s - 8] + struct.pack(">I", 8 + len(mvhd_box)) + b"moov" + mvhd_box
    with pytest.raises(ValueError, match="no video track"):
        parse_mp4(gutted)


def test_mvhd_v1_64bit_times():
    """Version-1 mvhd/mdhd carry 64-bit times — the parser must honor the
    wider layout (hand-patch a v0 writer output into v1)."""
    from dcspark import mp4 as m4
    # build a v1 mvhd payload: version 1, 8-byte creation/mod, 4-byte
    # timescale, 8-byte duration
    payload = (struct.pack(">B3s", 1, b"\x00\x00\x00")
               + struct.pack(">QQIQ", 0, 0, 1000, 2500)
               + b"\x00" * 80)
    box = struct.pack(">I", 8 + len(payload)) + b"mvhd" + payload
    from dcspark.binread import Reader
    ts, dur = m4._timing(Reader(box, "mp4", 8, len(box), "mvhd"))
    assert (ts, dur) == (1000, 2500)


def test_video_metadata_header_fallback(spark):
    """MP4 payloads flow through video_metadata via the container-header
    fallback: real metadata, no decode_error; corrupt MP4 -> decode_error;
    WebM (no readable container) keeps the seam's decode_error."""
    from dcspark import multimodal

    good = mp4_bytes(320, 240, 30.0, 60)
    bad = bytes(bytearray(good[:52]))  # truncated inside mdat
    webm = b"\x1a\x45\xdf\xa3" + b"\x00" * 64
    df = spark.createDataFrame(
        [("m1", bytearray(good)), ("m2", bytearray(bad)),
         ("m3", bytearray(webm))],
        "id string, bytes binary")
    rows = {r["id"]: r for r in multimodal.video_metadata(df).collect()}
    ok = rows["m1"]
    assert ok["decode_error"] is None
    assert (ok["width"], ok["height"], ok["n_frames"]) == (320, 240, 60)
    assert ok["fps"] == pytest.approx(30.0)
    assert rows["m2"]["decode_error"] is not None
    assert "mp4" in rows["m2"]["decode_error"]
    assert rows["m3"]["decode_error"] is not None


def test_video_contract_rule_header_checks_mp4(spark):
    """The `type: video` conformance rule verifies declared fps/dims/frames
    against MP4 headers it cannot decode: planted lies + a corrupt payload
    fail; clean rows pass."""
    from dcspark.engine import ValidationConfig, validate
    from dcspark.spec import DataContractSpecification

    contract = """
id: mp4-header-contract
models:
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
"""
    rows = []
    for i in range(12):
        payload = mp4_bytes(320, 240, 25.0, 8)
        decl = dict(fps=25.0, n_frames=8, width=320, height=240)
        if i == 2:
            payload = payload[:60]  # corrupt
        elif i == 5:
            payload = mp4_bytes(320, 240, 30.0, 8)  # fps lie
        elif i == 8:
            decl["n_frames"] = 99  # frame-count lie
        elif i == 10:
            decl["width"] = 1920  # dims lie
        rows.append(("v%02d" % i, bytearray(payload), decl["fps"],
                     decl["n_frames"], decl["width"], decl["height"]))
    df = spark.createDataFrame(
        rows, "video_id string, bytes binary, fps double, n_frames int, "
              "width int, height int")
    spec = DataContractSpecification.from_string(contract)
    res = validate(spark, spec, {"videos": df}, ValidationConfig())
    chk = [c for c in res.run.checks if "video_decode" in c.key][0]
    assert res.metrics[chk.key] == 4.0
    vio = sorted(r["clip_id"] for r in res.violations.filter(
        F.col("check_key") == chk.key).collect())
    assert vio == ["v02", "v05", "v08", "v10"]


# ---------------------------------------------------------------------------
# fragmented MP4 (DASH/HLS layout): moof/traf/trun accumulation
# ---------------------------------------------------------------------------

def test_fragmented_round_trip_trex_defaults():
    from dcspark.mp4 import mp4_fragmented_bytes

    m = parse_mp4(mp4_fragmented_bytes(640, 360, 29.97, 100))
    assert (m["width"], m["height"], m["n_frames"]) == (640, 360, 100)
    assert m["fps"] == pytest.approx(29.97, abs=1e-9)
    assert m["duration_ms"] == pytest.approx(100 / 29.97 * 1000, rel=1e-3)


def test_fragmented_round_trip_per_sample_durations():
    from dcspark.mp4 import mp4_fragmented_bytes

    m = parse_mp4(mp4_fragmented_bytes(320, 240, 24.0, 75,
                                       per_sample_durations=True,
                                       samples_per_frag=16))
    assert m["n_frames"] == 75
    assert m["fps"] == pytest.approx(24.0, abs=1e-9)


def test_fragmented_zero_frames():
    from dcspark.mp4 import mp4_fragmented_bytes

    m = parse_mp4(mp4_fragmented_bytes(320, 240, 25.0, 0))
    assert m["n_frames"] == 0 and m["fps"] is None


def test_fragmented_corrupt_trun_raises():
    """A forged trun sample count whose per-sample table exceeds the box
    must raise, never loop past the buffer."""
    from dcspark.mp4 import mp4_fragmented_bytes

    raw = bytearray(mp4_fragmented_bytes(320, 240, 25.0, 10,
                                         per_sample_durations=True))
    idx = bytes(raw).find(b"trun")
    struct.pack_into(">I", raw, idx + 8, 1 << 30)  # sample_count field
    with pytest.raises(ValueError, match="trun"):
        parse_mp4(bytes(raw))


def test_fragmented_flows_through_video_metadata(spark):
    from dcspark import multimodal
    from dcspark.mp4 import mp4_fragmented_bytes

    df = spark.createDataFrame(
        [("f1", bytearray(mp4_fragmented_bytes(640, 360, 30.0, 90)))],
        "id string, bytes binary")
    r = multimodal.video_metadata(df).collect()[0]
    assert r["decode_error"] is None
    assert (r["width"], r["height"], r["n_frames"]) == (640, 360, 90)
    assert r["fps"] == pytest.approx(30.0)


def test_corrupt_tfhd_raises_valueerror_not_struct_error():
    """Review finding: a size-8 tfhd (empty payload) at end of traf must
    raise the documented ValueError, not let struct.error escape and kill
    the Spark task."""
    from dcspark.mp4 import mp4_fragmented_bytes

    raw = bytearray(mp4_fragmented_bytes(320, 240, 25.0, 10))
    idx = bytes(raw).find(b"tfhd")
    struct.pack_into(">I", raw, idx - 4, 8)  # shrink box to header only
    with pytest.raises(ValueError, match="tfhd"):
        parse_mp4(bytes(raw))


def test_raw_moov_init_segment_header_path(spark):
    """Review finding: a headerless raw-moov init segment (no ftyp) must
    reach the ISO-BMFF fallback in video_metadata — the frame decoder
    rejects it with ValueError, not NotImplementedError."""
    from dcspark import multimodal
    from dcspark.mp4 import mp4_fragmented_bytes

    full = bytes(mp4_fragmented_bytes(640, 360, 30.0, 0))
    p = 0
    while p < len(full):
        size = struct.unpack_from(">I", full, p)[0]
        if full[p + 4:p + 8] == b"moov":
            seg = full[p:p + size]
            break
        p += size
    df = spark.createDataFrame([("seg", bytearray(seg))],
                               "id string, bytes binary")
    r = multimodal.video_metadata(df).collect()[0]
    assert r["decode_error"] is None
    assert (r["width"], r["height"]) == (640, 360)


# ---------------------------------------------------------------------------
# audio track (M4A/AAC) census path
# ---------------------------------------------------------------------------

def test_m4a_round_trip():
    from dcspark.mp4 import m4a_bytes, parse_mp4_audio

    m = parse_mp4_audio(m4a_bytes(sr=16000, n_samples=48000))
    assert (m["codec"], m["sr_hz"], m["channels"]) == ("aac", 16000, 1)
    assert m["n_samples"] == 48000
    assert m["duration_ms"] == pytest.approx(3000.0)


def test_m4a_remainder_packet_exact():
    from dcspark.mp4 import m4a_bytes, parse_mp4_audio

    # 5000 = 4 full 1024-sample packets + a 904-sample remainder entry
    assert parse_mp4_audio(m4a_bytes(sr=8000, n_samples=5000))["n_samples"] == 5000


def test_m4a_no_audio_track_raises():
    from dcspark.mp4 import parse_mp4_audio

    with pytest.raises(ValueError, match="no audio track"):
        parse_mp4_audio(mp4_bytes(320, 240, 25.0, 8))


def test_m4a_rate_mismatch_rescaled():
    """mp4_bytes(with_audio=True) shares the video timescale in mdhd but
    declares 16 kHz in the sample entry — n_samples must rescale to the
    entry's rate rather than report raw ticks."""
    from dcspark.mp4 import parse_mp4_audio

    m = parse_mp4_audio(mp4_bytes(320, 240, 25.0, 8, with_audio=True))
    assert m["sr_hz"] == 16000
    assert m["duration_ms"] == pytest.approx(8 / 25.0 * 1000, rel=1e-3)


def test_parse_wav_meta_covers_m4a():
    from dcspark.audio import parse_wav_meta
    from dcspark.mp4 import m4a_bytes

    assert parse_wav_meta(m4a_bytes(sr=16000, n_samples=24000)) == \
        (16000, "aac", 24000)


def test_m4a_decode_seam_error():
    from dcspark.audio import parse_wav_view
    from dcspark.mp4 import m4a_bytes

    with pytest.raises(ValueError, match="m4a/aac"):
        parse_wav_view(m4a_bytes())


def test_audio_census_counts_m4a_rows(spark):
    from dcspark import audioops
    from dcspark.mp4 import m4a_bytes

    m4a = m4a_bytes(sr=22050, n_samples=44100)  # 2 s
    df = spark.createDataFrame(
        [("a%d" % i, bytearray(m4a)) for i in range(4)],
        "clip_id string, bytes binary")
    out = {r["codec"]: r for r in audioops.audio_census(df).collect()}
    assert out["aac"]["clips"] == 4 and out["aac"]["sr_hz"] == 22050
    assert out["aac"]["hours"] == pytest.approx(4 * 2 / 3600.0, abs=1e-6)
    assert out["aac"]["decode_errors"] == 0


def test_fragmented_audio_census():
    """Review finding: CMAF/DASH audio keeps empty moov tables — samples
    must come from the moof fragments like the video path."""
    from dcspark.mp4 import m4a_fragmented_bytes, parse_mp4_audio

    m = parse_mp4_audio(m4a_fragmented_bytes(sr=16000, n_samples=33000))
    assert m["n_samples"] == 33000
    assert m["duration_ms"] == pytest.approx(33000 / 16000 * 1000)


def test_audio_stsd_forged_entry_size_rejected():
    """Review finding: a forged short stsd entry must not alias adjacent
    bytes into the channel/sample-rate fields."""
    import struct as _s

    from dcspark.mp4 import m4a_bytes, parse_mp4_audio

    raw = bytearray(m4a_bytes(sr=16000, n_samples=8000))
    idx = bytes(raw).find(b"mp4a")
    _s.pack_into(">I", raw, idx - 4, 1 << 29)  # entry size beyond the box
    with pytest.raises(ValueError, match="stsd entry"):
        parse_mp4_audio(bytes(raw))


def test_raw_moov_m4a_census_routed():
    """Review finding: a raw-moov M4A init segment must route to the audio
    header path in parse_wav_meta, not die in the WAV chunk walk."""
    from dcspark.audio import parse_wav_meta
    from dcspark.mp4 import m4a_bytes
    from dcspark import mp4 as m4

    raw = bytes(m4a_bytes(sr=16000, n_samples=8000))
    p = 0
    while p < len(raw):
        size = struct.unpack_from(">I", raw, p)[0]
        if raw[p + 4:p + 8] == b"moov":
            seg = raw[p:p + size]
            break
        p += size
    sr, codec, n = parse_wav_meta(seg)
    assert (sr, codec, n) == (16000, "aac", 8000)
