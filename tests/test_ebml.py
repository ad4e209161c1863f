"""WebM / Matroska (EBML) container metadata (dcspark/ebml.py).

The header-check path for VP8/VP9/AV1-in-WebM — frames undecodable
in-repo, container metadata fully readable: parse_webm must round-trip
webm_bytes, count frames lacing-aware per the video track only, reject
corrupt element trees with ValueError, and flow through
multimodal.video_metadata + the `type: video` contract rule.
"""

import pytest
from pyspark.sql import functions as F

from dcspark.binread import Reader
from dcspark.ebml import is_webm, parse_webm, webm_bytes


def test_round_trip():
    m = parse_webm(webm_bytes(640, 360, 30.0, 90))
    assert (m["width"], m["height"], m["n_frames"]) == (640, 360, 90)
    assert m["fps"] == pytest.approx(30.0, abs=1e-5)
    assert m["duration_ms"] == pytest.approx(3000.0)
    assert m["codec"] == "V_VP9" and m["brand"] == "webm"
    assert m["n_tracks"] == 1 and m["has_audio"] is False


def test_audio_blocks_not_counted_as_frames():
    m = parse_webm(webm_bytes(320, 240, 25.0, 50, with_audio=True))
    assert m["n_frames"] == 50  # audio SimpleBlocks excluded by track number
    assert m["n_tracks"] == 2 and m["has_audio"] is True


def test_lacing_aware_frame_count():
    m = parse_webm(webm_bytes(320, 240, 24.0, 75, laced=True))
    assert m["n_frames"] == 75


def test_zero_frames():
    m = parse_webm(webm_bytes(320, 240, 25.0, 0))
    assert m["n_frames"] == 0


def test_codec_variants():
    for codec in ("V_VP8", "V_AV1", "V_MPEG4/ISO/AVC"):
        assert parse_webm(webm_bytes(64, 48, 10.0, 4, codec=codec))["codec"] == codec


def test_sniff():
    assert is_webm(webm_bytes(16, 16, 10.0, 1))
    assert not is_webm(b"RIFFxxxxAVI ")
    assert not is_webm(b"\x00\x00\x00\x20ftypisom")
    assert not is_webm(b"")


@pytest.mark.parametrize("mutate", [
    lambda b: b[:30],                      # truncated inside the header
    lambda b: b[:4] + b"\xff" * 8,         # forged giant element size
    lambda b: b[:len(b) * 2 // 3],         # segment cut mid-cluster
])
def test_corrupt_raises(mutate):
    raw = webm_bytes(64, 48, 24.0, 20)
    with pytest.raises(ValueError, match="ebml"):
        parse_webm(mutate(bytearray(raw)))


def test_no_video_track_raises():
    from dcspark import ebml as E
    # audio-only: build via webm_bytes internals — a TrackEntry of type 2
    header = E._el(0x1A45DFA3, E._el(E._DOCTYPE, b"webm"))
    tracks = E._el(E._TRACKS, E._el(E._TRACK_ENTRY, b"".join([
        E._el_uint(E._TRACK_NUMBER, 1),
        E._el_uint(E._TRACK_TYPE, 2),
        E._el(E._CODEC_ID, b"A_OPUS"),
    ])))
    raw = header + E._el(E._SEGMENT, tracks)
    with pytest.raises(ValueError, match="no video track"):
        parse_webm(raw)


def test_unknown_size_segment_parses():
    """Live-streamed WebM uses an unknown-size Segment (all-ones size VINT):
    the walk must treat it as running to end-of-buffer, not reject it."""
    from dcspark import ebml as E
    raw = bytearray(webm_bytes(320, 240, 25.0, 8))
    # locate the Segment element and rewrite its size as unknown (8-byte
    # all-ones VINT requires re-assembling: header + id + 0x01FF..FF + body)
    hdr_end = 0
    for eid, el in E._elements(Reader(bytes(raw), "ebml")):
        if eid == E._SEGMENT:
            seg_body = bytes(raw[el.pos:el.end])
            break
        hdr_end = el.end
    head = bytes(raw[:hdr_end])
    unknown = head + E._enc_id(E._SEGMENT) + b"\x01" + b"\xff" * 7 + seg_body
    m = parse_webm(unknown)
    assert m["n_frames"] == 8 and (m["width"], m["height"]) == (320, 240)


def test_video_metadata_webm_fallback(spark):
    from dcspark import multimodal

    good = webm_bytes(640, 360, 30.0, 45)
    bad = bytes(bytearray(good[:25]))
    df = spark.createDataFrame(
        [("w1", bytearray(good)), ("w2", bytearray(bad))],
        "id string, bytes binary")
    rows = {r["id"]: r for r in multimodal.video_metadata(df).collect()}
    ok = rows["w1"]
    assert ok["decode_error"] is None
    assert (ok["width"], ok["height"], ok["n_frames"]) == (640, 360, 45)
    assert ok["fps"] == pytest.approx(30.0, abs=1e-5)
    assert rows["w2"]["decode_error"] is not None


def test_video_contract_rule_header_checks_webm(spark):
    from dcspark.engine import ValidationConfig, validate
    from dcspark.spec import DataContractSpecification

    contract = """
id: webm-header-contract
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
    for i in range(10):
        payload = webm_bytes(320, 240, 25.0, 12)
        decl = dict(fps=25.0, n_frames=12, width=320, height=240)
        if i == 1:
            payload = payload[:40]  # corrupt
        elif i == 4:
            payload = webm_bytes(320, 240, 30.0, 12)  # fps lie
        elif i == 7:
            decl["width"] = 1920  # dims lie
        rows.append(("w%02d" % i, bytearray(payload), decl["fps"],
                     decl["n_frames"], decl["width"], decl["height"]))
    df = spark.createDataFrame(
        rows, "video_id string, bytes binary, fps double, n_frames int, "
              "width int, height int")
    spec = DataContractSpecification.from_string(contract)
    res = validate(spark, spec, {"videos": df}, ValidationConfig())
    chk = [c for c in res.run.checks if "video_decode" in c.key][0]
    assert res.metrics[chk.key] == 3.0
    vio = sorted(r["clip_id"] for r in res.violations.filter(
        F.col("check_key") == chk.key).collect())
    assert vio == ["w01", "w04", "w07"]


def test_multiple_unknown_size_clusters_all_counted():
    """Review finding: a live-streamed WebM writes EVERY cluster with the
    unknown-size sentinel; the segment walk must bound each at the next
    cluster id, not swallow the rest of the file into the first."""
    from dcspark import ebml as E

    raw = bytes(webm_bytes(320, 240, 25.0, 9, frames_per_cluster=3))
    # rebuild the segment with every cluster's size rewritten as unknown
    hdr_end = 0
    for eid, el in E._elements(Reader(raw, "ebml")):
        if eid == E._SEGMENT:
            segment = el
            break
        hdr_end = el.end
    pieces = []
    for eid, el in E._elements(segment):
        body = raw[el.pos:el.end]
        if eid == E._CLUSTER:
            pieces.append(E._enc_id(E._CLUSTER) + b"\x01" + b"\xff" * 7 + body)
        else:
            pieces.append(E._enc_id(eid) + E._enc_size(len(body)) + body)
    seg_body = b"".join(pieces)
    streamed = (raw[:hdr_end] + E._enc_id(E._SEGMENT)
                + b"\x01" + b"\xff" * 7 + seg_body)
    m = parse_webm(streamed)
    assert m["n_frames"] == 9, f"streamed clusters undercounted: {m['n_frames']}"


def test_track_127_one_byte_vint_counted():
    """Review finding: 0xFF as a 1-byte track-number VINT is the legal
    minimal encoding of track 127, NOT the unknown-size sentinel — frames
    of such a track must be counted."""
    from dcspark import ebml as E

    header = E._el(0x1A45DFA3, E._el(E._DOCTYPE, b"webm"))
    entry = E._el(E._TRACK_ENTRY, b"".join([
        E._el_uint(E._TRACK_NUMBER, 127),
        E._el_uint(E._TRACK_TYPE, 1),
        E._el(E._CODEC_ID, b"V_VP9"),
        E._el_uint(E._DEFAULT_DURATION, 40_000_000),
        E._el(E._VIDEO, E._el_uint(E._PIXEL_WIDTH, 64)
              + E._el_uint(E._PIXEL_HEIGHT, 48)),
    ]))
    tracks = E._el(E._TRACKS, entry)
    blocks = [E._el_uint(0xE7, 0)]
    for _ in range(5):
        # track 127 as the 1-byte VINT 0xFF + timestamp + flags + stub
        blocks.append(E._el(E._SIMPLE_BLOCK,
                            b"\xff" + b"\x00\x00" + b"\x00" + b"\x00" * 8))
    cluster = E._el(E._CLUSTER, b"".join(blocks))
    raw = header + E._el(E._SEGMENT, tracks + cluster)
    m = parse_webm(raw)
    assert m["n_frames"] == 5
