"""MPEG audio (MP3) frame-header metadata: bounded frame walk, no decode.

The audio analog of the video container parsers (dcspark/mp4.py,
dcspark/ebml.py): real-world audio archives are full of MP3/MPEG-audio
payloads whose PCM decode needs a codec library (the pluggable seam — the
in-repo decoders cover WAV-family, FLAC, IMA ADPCM), but the metadata a
contract checks (sample rate, duration, codec, bitrate) lives in the frame
headers, readable with pure pointer arithmetic (ISO 11172-3 / 13818-3
public header layout):

    [ID3v2 tag]  frame frame frame ...  [ID3v1 "TAG" trailer]

Every frame: 11-bit sync, version (MPEG1/2/2.5), layer (I/II/III),
bitrate + samplerate table indices, padding bit → frame byte length and
samples-per-frame, so walking the frames yields the exact sample count and
average bitrate (CBR and VBR alike, no Xing header trust required).

:func:`parse_mp3_meta` returns the :func:`dcspark.audio.parse_wav_meta`
census triple ``(sr, codec_name, n_samples)`` via :func:`mp3_meta_triple`,
so the one-scan audio census (`audioops.audio_census`) covers MP3 archives;
the full dict carries duration/bitrate/version for header-conformance.
Desync mid-stream raises ``ValueError`` (strict: a validation engine flags
corruption; only the standard ID3v1 trailer and <4 trailing pad bytes are
tolerated). :func:`mp3_bytes` writes structurally valid CBR streams (stub
frame payloads, NOT decodable audio) for fixtures.
"""

from __future__ import annotations

from typing import Any, Dict, Tuple

from .binread import Reader

__all__ = ["parse_mp3_meta", "mp3_meta_triple", "mp3_bytes", "is_mp3"]

# bitrate tables, kbps, index 1..14 (0 = "free", 15 = invalid)
_BITRATES = {
    (1, 1): (32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    (1, 2): (32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    (1, 3): (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    (2, 1): (32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    (2, 2): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    (2, 3): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
_SAMPLERATES = {1: (44100, 48000, 32000), 2: (22050, 24000, 16000),
                25: (11025, 12000, 8000)}
# header version field (2 bits): 0=MPEG2.5, 2=MPEG2, 3=MPEG1 (1 reserved)
_VERSIONS = {0: 25, 2: 2, 3: 1}
# header layer field (2 bits): 1=Layer III, 2=Layer II, 3=Layer I
_LAYERS = {1: 3, 2: 2, 3: 1}
_CHANNEL_MODES = ("stereo", "joint_stereo", "dual_channel", "mono")


def is_mp3(raw: bytes) -> bool:
    """Sniff: ID3v2 tag, or a valid-looking MPEG sync at byte 0."""
    if raw is None or len(raw) < 4:
        return False
    b = bytes(raw[:4])
    if b[:3] == b"ID3":
        return True
    return (b[0] == 0xFF and (b[1] & 0xE0) == 0xE0
            and (b[1] >> 3) & 0x03 != 1      # version not reserved
            and (b[1] >> 1) & 0x03 != 0      # layer not reserved
            and (b[2] >> 4) not in (0, 15)   # bitrate not free/invalid
            and (b[2] >> 2) & 0x03 != 3)     # samplerate not reserved


def _frame_info(h0: int, h1: int, h2: int) -> Tuple[int, int, int, int, int, int]:
    """One 4-byte header (first 3 bytes matter) ->
    (version, layer, bitrate_kbps, sr, frame_len, samples)."""
    if h0 != 0xFF or (h1 & 0xE0) != 0xE0:
        raise ValueError("mp3: lost frame sync")
    vfield = (h1 >> 3) & 0x03
    lfield = (h1 >> 1) & 0x03
    if vfield == 1 or lfield == 0:
        raise ValueError("mp3: reserved version/layer")
    version = _VERSIONS[vfield]
    layer = _LAYERS[lfield]
    br_idx = (h2 >> 4) & 0x0F
    sr_idx = (h2 >> 2) & 0x03
    if br_idx in (0, 15):
        raise ValueError("mp3: free/invalid bitrate index")
    if sr_idx == 3:
        raise ValueError("mp3: reserved samplerate index")
    v_key = 1 if version == 1 else 2  # MPEG2.5 shares MPEG2's bitrate table
    bitrate = _BITRATES[(v_key, layer)][br_idx - 1] * 1000
    sr = _SAMPLERATES[version][sr_idx]
    padding = (h2 >> 1) & 0x01
    if layer == 1:
        samples = 384
        frame_len = (12 * bitrate // sr + padding) * 4
    elif layer == 2:
        samples = 1152
        frame_len = 144 * bitrate // sr + padding
    else:  # Layer III
        samples = 1152 if version == 1 else 576
        frame_len = (144 if version == 1 else 72) * bitrate // sr + padding
    return version, layer, bitrate, sr, frame_len, samples


def _skip_id3v2(r: Reader) -> None:
    """Move the cursor past an ID3v2 tag (syncsafe 28-bit size)."""
    _id3, _version, flags, *size = r.unpack(">3sHB4B", "ID3v2 header")
    if any(b & 0x80 for b in size):
        r.fail("invalid ID3v2 syncsafe size")
    # ID3v2.4 footer flag: a 10-byte "3DI" footer follows the body (review
    # finding: landing on it raised 'lost frame sync' on a structurally
    # valid tagged stream)
    r.skip((size[0] << 21 | size[1] << 14 | size[2] << 7 | size[3])
           + (10 if flags & 0x10 else 0), "ID3v2 tag")


def parse_mp3_meta(raw: bytes) -> Dict[str, Any]:
    """Walk every MPEG-audio frame header -> metadata dict.

    ``{sr_hz, n_frames, n_samples, duration_ms, bitrate_kbps (average),
    version, layer, channel_mode, has_id3v2, has_id3v1}``. All frames must
    agree on samplerate/version/layer (a stream that switches mid-file is
    corrupt for contract purposes); bitrate may vary (VBR — averaged).
    Raises ``ValueError`` on desync, truncated frames, or reserved header
    fields; the ID3v1 128-byte trailer and <4 bytes of trailing zero pad
    are the only tolerated non-frame bytes."""
    if raw is None or len(raw) < 4:
        raise ValueError("mp3: empty or truncated payload")
    r = Reader(bytes(raw), "mp3")
    has_id3v2 = r.peek(3) == b"ID3"
    if has_id3v2:
        _skip_id3v2(r)
    sr = version = layer = mode = None
    n_frames = n_samples = 0
    bitrate_sum = 0
    has_id3v1 = False
    while r.left():
        if r.left() == 128 and r.peek(3) == b"TAG":
            has_id3v1 = True
            break
        if r.left() < 4 and n_frames and not any(r.peek(4)):
            break  # <4 trailing zero pad bytes
        h0, h1, h2, h3 = r.unpack("4B", "frame header")
        v, l, br, fsr, flen, fsamples = _frame_info(h0, h1, h2)
        if sr is None:
            sr, version, layer = fsr, v, l
            mode = _CHANNEL_MODES[(h3 >> 6) & 0x03]
        elif (fsr, v, l) != (sr, version, layer):
            raise ValueError("mp3: samplerate/version/layer changed mid-stream")
        r.skip(flen - 4, "final frame")
        n_frames += 1
        n_samples += fsamples
        bitrate_sum += br
    if n_frames == 0:
        raise ValueError("mp3: no MPEG audio frames")
    return {
        "sr_hz": sr,
        "n_frames": n_frames,
        "n_samples": n_samples,
        "duration_ms": n_samples * 1000.0 / sr,
        "bitrate_kbps": bitrate_sum / n_frames / 1000.0,
        "version": version,
        "layer": layer,
        "channel_mode": mode,
        "has_id3v2": has_id3v2,
        "has_id3v1": has_id3v1,
    }


def mp3_meta_triple(raw: bytes) -> Tuple[int, str, int]:
    """The :func:`dcspark.audio.parse_wav_meta` census shape:
    ``(sample_rate, codec_name, n_samples)`` — codec name follows the
    ffmpeg-style convention the contract enum uses (``mp3`` for Layer III,
    ``mp2``/``mp1`` otherwise)."""
    m = parse_mp3_meta(raw)
    return m["sr_hz"], f"mp{m['layer']}", m["n_samples"]


def mp3_bytes(sr: int = 44100, n_frames: int = 10, bitrate_kbps: int = 128,
              version: int = 1, layer: int = 3, channel_mode: int = 3,
              with_id3v2: bool = False, with_id3v1: bool = False) -> bytes:
    """A structurally valid CBR MPEG-audio stream (stub frame payloads, NOT
    decodable audio — the point is the headers)."""
    srs = _SAMPLERATES[version]
    if sr not in srs:
        raise ValueError(f"mp3_bytes: sr {sr} invalid for MPEG{version}")
    sr_idx = srs.index(sr)
    v_key = 1 if version == 1 else 2
    table = _BITRATES[(v_key, layer)]
    if bitrate_kbps not in table:
        raise ValueError(f"mp3_bytes: bitrate {bitrate_kbps} not in table")
    br_idx = table.index(bitrate_kbps) + 1
    vfield = {1: 3, 2: 2, 25: 0}[version]
    lfield = {3: 1, 2: 2, 1: 3}[layer]
    h0 = 0xFF
    h1 = 0xE0 | (vfield << 3) | (lfield << 1) | 0x01  # no CRC
    h2 = (br_idx << 4) | (sr_idx << 2)                # no padding
    h3 = (channel_mode & 0x03) << 6
    _, _, _, _, flen, _ = _frame_info(h0, h1, h2)
    frame = bytes([h0, h1, h2, h3]) + b"\x00" * (flen - 4)
    out = b""
    if with_id3v2:
        body = b"dcspark fixture tag body"
        size = len(body)
        ss = bytes([(size >> 21) & 0x7F, (size >> 14) & 0x7F,
                    (size >> 7) & 0x7F, size & 0x7F])
        out += b"ID3\x04\x00\x00" + ss + body
    out += frame * n_frames
    if with_id3v1:
        out += b"TAG" + b"\x00" * 125
    return out
