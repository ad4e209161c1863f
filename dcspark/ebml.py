"""WebM / Matroska (EBML) container metadata: bounded element walk, no decode.

The second big real-world video container after MP4 (dcspark/mp4.py): VP8/
VP9/AV1-in-WebM frames need external codec libraries (the pluggable decode
seam in ``multimodal.real_video_decoder``), but the metadata a
``type: video`` contract rule checks lives in the EBML element tree:

    EBML header            DocType ("webm" / "matroska")
    Segment
      Info                 TimestampScale (ns/tick), Duration (ticks)
      Tracks/TrackEntry    TrackType (1=video, 2=audio), CodecID,
                           DefaultDuration (ns/frame),
                           Video/PixelWidth + PixelHeight
      Cluster/SimpleBlock  the frames themselves — counted (per the video
                           track number, lacing-aware), never decoded

EBML encoding (public Matroska/RFC 8794 spec): every element is a
variable-length id (leading-zero-count length marker, marker bit KEPT),
a variable-length size (marker bit STRIPPED), and a payload. Corrupt
structures (sizes past the parent, truncated VINTs) raise ``ValueError`` —
in ``multimodal.video_metadata`` that becomes a per-row decode_error,
never a task failure.

:func:`webm_bytes` writes a structurally complete WebM for fixtures (the
blocks carry stub payloads, NOT decodable video — the point is the header).
No reference counterpart: the reference repo decodes no media at all.
"""

from __future__ import annotations

import struct
from typing import Any, Dict, Iterator, Tuple

from .binread import Reader

__all__ = ["parse_webm", "webm_bytes", "is_webm"]

EBML_MAGIC = b"\x1a\x45\xdf\xa3"

# element ids (full ids, marker bits kept — as they appear on the wire)
_SEGMENT = 0x18538067
_INFO = 0x1549A966
_TIMESTAMP_SCALE = 0x2AD7B1
_DURATION = 0x4489
_TRACKS = 0x1654AE6B
_TRACK_ENTRY = 0xAE
_TRACK_NUMBER = 0xD7
_TRACK_TYPE = 0x83
_CODEC_ID = 0x86
_DEFAULT_DURATION = 0x23E383
_VIDEO = 0xE0
_PIXEL_WIDTH = 0xB0
_PIXEL_HEIGHT = 0xBA
_AUDIO = 0xE1
_CLUSTER = 0x1F43B675
_SIMPLE_BLOCK = 0xA3
_BLOCK_GROUP = 0xA0
_BLOCK = 0xA1
_DOCTYPE = 0x4282

_UNKNOWN_SIZE = -1


def is_webm(raw: bytes) -> bool:
    return len(raw) >= 4 and bytes(raw[:4]) == EBML_MAGIC


def _vint(r: Reader, keep_marker: bool, allow_unknown: bool = True) -> int:
    """One EBML variable-length integer at the cursor.

    ``allow_unknown`` applies only to marker-stripped reads: the all-ones
    data-bits sentinel means "unknown size" for ELEMENT SIZES, but a block's
    track number has no unknown value — 0xFF there is the legal minimal
    encoding of track 127 (review finding: treating it as the sentinel
    silently dropped that track's frames)."""
    first = r.u8("vint")
    if first == 0:
        r.fail("invalid vint (no length marker)")
    length = 9 - first.bit_length()
    val = first if keep_marker else first & ((0x80 >> (length - 1)) - 1)
    val = (val << 8 * (length - 1)) | r.uint(length - 1, what="vint body")
    if not keep_marker and allow_unknown and val == (1 << (7 * length)) - 1:
        return _UNKNOWN_SIZE
    return val


def _header(r: Reader) -> Tuple[int, int]:
    """(element id, declared size) at the cursor."""
    return _vint(r, keep_marker=True), _vint(r, keep_marker=False)


def _elements(scope: Reader) -> Iterator[Tuple[int, Reader]]:
    """(element_id, payload scope) for each element in ``scope``, walked
    on a fork so the scope can be walked again."""
    r = scope.fork()
    while r.left():
        eid, size = _header(r)
        if size == _UNKNOWN_SIZE:
            # unknown-size element (live-streamed Segment/Cluster): it runs
            # to the end of the enclosing scope
            yield eid, r.sub(r.left(), f"element 0x{eid:x}")
            return
        yield eid, r.sub(size, f"element 0x{eid:x}")


#: ids legal as direct Cluster children (Matroska spec): Timestamp,
#: SilentTracks, Position, PrevSize, SimpleBlock, BlockGroup, EncryptedBlock
_CLUSTER_CHILDREN = {0xE7, 0x5854, 0xA7, 0xAB, _SIMPLE_BLOCK, _BLOCK_GROUP,
                     0xAF}


def _segment_children(segment: Reader) -> Iterator[Tuple[int, Reader]]:
    """Segment-level walk that bounds UNKNOWN-SIZE Clusters correctly.

    A live-streamed/muxer-truncated WebM writes Clusters with the all-ones
    size sentinel; per the Matroska rule such an element ends where the
    first id that is not a valid child appears at its level. Treating it as
    running to segment end (the generic _elements behavior) silently
    swallows every following cluster (review finding: frames after the
    first streamed cluster went uncounted). Non-Cluster unknown-size
    elements keep the to-scope-end reading."""
    r = segment.fork()
    while r.left():
        eid, size = _header(r)
        if size != _UNKNOWN_SIZE:
            yield eid, r.sub(size, f"element 0x{eid:x}")
        elif eid != _CLUSTER:
            yield eid, r.sub(r.left(), f"element 0x{eid:x}")
            return
        else:
            c = r.fork()
            while c.left() and _vint(c.fork(), True) in _CLUSTER_CHILDREN:
                _cid, csz = _header(c)
                if csz == _UNKNOWN_SIZE:
                    c.fail("bad child size in unknown-size cluster")
                c.skip(csz, "unknown-size cluster child")
            yield eid, r.sub(c.pos - r.pos, "unknown-size cluster")


def _uint(el: Reader) -> int:
    return el.uint(el.left())


def _text(el: Reader) -> str:
    return el.take(el.left()).decode("latin-1").rstrip("\x00")


def _float(el: Reader) -> float:
    n = el.left()
    if n in (4, 8):
        return el.unpack(">f" if n == 4 else ">d")[0]
    if n == 0:
        return 0.0
    el.fail("bad float width")


def _count_block_frames(block: Reader, video_track: int) -> int:
    """Frames in one (Simple)Block payload for ``video_track`` — the block
    header is a track-number VINT, a 2-byte timestamp, a flags byte; lacing
    (flags & 0x06) packs several frames into one block (lace count byte
    + 1), which an honest frame count must include."""
    if _vint(block, keep_marker=False, allow_unknown=False) != video_track:
        return 0
    _timestamp, flags = block.unpack(">hB", "block header")
    if flags & 0x06:
        return block.u8("lace count") + 1
    return 1


def parse_webm(raw: bytes) -> Dict[str, Any]:
    """Metadata of the first VIDEO track of a WebM/Matroska payload.

    Returns ``{brand, codec, width, height, fps, n_frames, duration_ms,
    n_tracks, has_audio}`` (the :func:`dcspark.mp4.parse_mp4` shape, so the
    engine's conformance join is container-agnostic). ``fps`` comes from the
    track's DefaultDuration when present, else n_frames/Duration.
    ``n_frames`` counts the video track's (Simple)Blocks across clusters,
    lacing-aware. Raises ``ValueError`` on corrupt structures."""
    if raw is None or len(raw) < 8 or not is_webm(raw):
        raise ValueError("ebml: not an EBML/Matroska payload")
    brand = None
    segment = None
    for eid, el in _elements(Reader(bytes(raw), "ebml")):
        if eid == 0x1A45DFA3:  # EBML header
            for hid, h in _elements(el):
                if hid == _DOCTYPE:
                    brand = _text(h)
        elif eid == _SEGMENT:
            segment = el
    if segment is None:
        raise ValueError("ebml: no Segment element")
    out: Dict[str, Any] = {
        "brand": brand, "codec": None, "width": None, "height": None,
        "fps": None, "n_frames": None, "duration_ms": None,
        "n_tracks": 0, "has_audio": False,
    }
    timescale = 1_000_000  # spec default: 1 ms ticks
    duration_ticks = None
    video_track = None
    default_dur_ns = None
    clusters = []
    for eid, el in _segment_children(segment):
        if eid == _INFO:
            for iid, field in _elements(el):
                if iid == _TIMESTAMP_SCALE:
                    timescale = _uint(field)
                elif iid == _DURATION:
                    duration_ticks = _float(field)
        elif eid == _TRACKS:
            for tid, entry in _elements(el):
                if tid != _TRACK_ENTRY:
                    continue
                out["n_tracks"] += 1
                tnum = ttype = None
                codec = None
                ddur = None
                dims = (None, None)
                for fid, field in _elements(entry):
                    if fid == _TRACK_NUMBER:
                        tnum = _uint(field)
                    elif fid == _TRACK_TYPE:
                        ttype = _uint(field)
                    elif fid == _CODEC_ID:
                        codec = _text(field)
                    elif fid == _DEFAULT_DURATION:
                        ddur = _uint(field)
                    elif fid == _VIDEO:
                        w = h = None
                        for vid_, v in _elements(field):
                            if vid_ == _PIXEL_WIDTH:
                                w = _uint(v)
                            elif vid_ == _PIXEL_HEIGHT:
                                h = _uint(v)
                        dims = (w, h)
                if ttype == 2:
                    out["has_audio"] = True
                if ttype == 1 and out["codec"] is None:
                    out["codec"] = codec
                    out["width"], out["height"] = dims
                    video_track = tnum
                    default_dur_ns = ddur
        elif eid == _CLUSTER:
            clusters.append(el)
    if out["codec"] is None:
        raise ValueError("ebml: no video track")
    n = 0
    for cluster in clusters:
        for bid, block in _elements(cluster):
            if bid == _SIMPLE_BLOCK:
                n += _count_block_frames(block, video_track)
            elif bid == _BLOCK_GROUP:
                for gid, g in _elements(block):
                    if gid == _BLOCK:
                        n += _count_block_frames(g, video_track)
    out["n_frames"] = n
    if duration_ticks is not None and timescale > 0:
        out["duration_ms"] = duration_ticks * timescale / 1e6
    if default_dur_ns:
        out["fps"] = 1e9 / default_dur_ns
    elif n and out["duration_ms"]:
        out["fps"] = n * 1000.0 / out["duration_ms"]
    return out


# ---------------------------------------------------------------------------
# writer — fixtures / round-trip ground truth
# ---------------------------------------------------------------------------

def _enc_id(eid: int) -> bytes:
    out = []
    while eid:
        out.append(eid & 0xFF)
        eid >>= 8
    return bytes(reversed(out))


def _enc_size(n: int) -> bytes:
    """Size VINT, minimal width (marker bit in the first byte)."""
    for length in range(1, 9):
        if n < (1 << (7 * length)) - 1:
            val = n | (1 << (7 * length))
            return val.to_bytes(length, "big")
    raise ValueError("ebml: size too large")


def _el(eid: int, payload: bytes) -> bytes:
    return _enc_id(eid) + _enc_size(len(payload)) + payload


def _el_uint(eid: int, v: int) -> bytes:
    out = []
    while True:
        out.append(v & 0xFF)
        v >>= 8
        if not v:
            break
    return _el(eid, bytes(reversed(out)))


def webm_bytes(width: int, height: int, fps: float, n_frames: int,
               codec: str = "V_VP9", frames_per_cluster: int = 16,
               frame_size: int = 48, with_audio: bool = False,
               laced: bool = False) -> bytes:
    """A structurally complete WebM: EBML header + Segment with Info,
    Tracks, and Clusters of SimpleBlocks carrying stub (non-decodable)
    frame payloads. ``laced=True`` packs pairs of frames per SimpleBlock
    with Xiph lacing, exercising the parser's lacing-aware frame count."""
    if fps <= 0 or n_frames < 0 or width <= 0 or height <= 0:
        raise ValueError("webm_bytes: invalid dims/fps/frames")
    header = _el(0x1A45DFA3, b"".join([
        _el_uint(0x4286, 1),        # EBMLVersion
        _el_uint(0x42F7, 1),        # EBMLReadVersion
        _el_uint(0x42F2, 4),        # EBMLMaxIDLength
        _el_uint(0x42F3, 8),        # EBMLMaxSizeLength
        _el(_DOCTYPE, b"webm"),
        _el_uint(0x4287, 2),        # DocTypeVersion
        _el_uint(0x4285, 2),        # DocTypeReadVersion
    ]))
    dur_ms = n_frames / fps * 1000.0
    info = _el(_INFO, b"".join([
        _el_uint(_TIMESTAMP_SCALE, 1_000_000),
        _el(_DURATION, struct.pack(">d", dur_ms)),
        _el(0x4D80, b"dcspark"),    # MuxingApp
        _el(0x5741, b"dcspark"),    # WritingApp
    ]))
    video_entry = _el(_TRACK_ENTRY, b"".join([
        _el_uint(_TRACK_NUMBER, 1),
        _el_uint(0x73C5, 1),        # TrackUID
        _el_uint(_TRACK_TYPE, 1),
        _el(_CODEC_ID, codec.encode("latin-1")),
        _el_uint(_DEFAULT_DURATION, int(round(1e9 / fps))),
        _el(_VIDEO, _el_uint(_PIXEL_WIDTH, width)
            + _el_uint(_PIXEL_HEIGHT, height)),
    ]))
    entries = [video_entry]
    if with_audio:
        entries.append(_el(_TRACK_ENTRY, b"".join([
            _el_uint(_TRACK_NUMBER, 2),
            _el_uint(0x73C5, 2),
            _el_uint(_TRACK_TYPE, 2),
            _el(_CODEC_ID, b"A_OPUS"),
            _el(_AUDIO, _el(0xB5, struct.pack(">f", 16000.0))),
        ])))
    tracks = _el(_TRACKS, b"".join(entries))

    def simple_block(track: int, n_laced: int) -> bytes:
        head = _enc_size(track)  # track number as a size-style VINT
        if n_laced > 1:
            flags = 0x02  # Xiph lacing
            laces = bytes([frame_size] * (n_laced - 1))  # sizes < 255: one byte
            body = (head + struct.pack(">h", 0) + bytes([flags])
                    + bytes([n_laced - 1]) + laces
                    + b"\x00" * (frame_size * n_laced))
        else:
            body = (head + struct.pack(">h", 0) + b"\x00"
                    + b"\x00" * frame_size)
        return _el(_SIMPLE_BLOCK, body)

    clusters = []
    left = n_frames
    ts = 0
    while left > 0:
        take = min(frames_per_cluster, left)
        blocks = [_el_uint(0xE7, ts)]  # cluster Timestamp
        if laced:
            while take > 0:
                k = min(2, take)
                blocks.append(simple_block(1, k))
                take -= k
                left -= k
        else:
            for _ in range(take):
                blocks.append(simple_block(1, 1))
            left -= take
        if with_audio:
            # one audio block per cluster — must NOT count toward frames
            blocks.append(simple_block(2, 1))
        clusters.append(_el(_CLUSTER, b"".join(blocks)))
        ts += 1
    segment = _el(_SEGMENT, info + tracks + b"".join(clusters))
    return header + segment
