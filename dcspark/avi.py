"""AVI video container: stdlib + numpy, built on dcspark/jpeg.py.

Two real codecs ride the same RIFF walker:

- **Motion-JPEG** ('MJPG'): every frame a baseline JPEG — ``avi_bytes``
  writes a standard ('hdrl' avih/strh/strf + 'movi' 00dc chunks + idx1)
  MJPG AVI and ``decode_avi`` reads any MJPG AVI back frame by frame.
- **Microsoft RLE8** ('MRLE' / BI_RLE8, the Video-for-Windows codec): a
  genuinely INTER-FRAME format — delta frames encode only the pixels that
  changed, skipping unchanged spans with the spec's delta/EOL escapes, so
  the decoder must carry the previous frame's canvas forward. That makes
  the "inter-frame video" path real end to end: ``rle8_avi_bytes`` writes
  a keyframe + delta stream (lossless, palette-indexed), ``decode_avi``
  replays it statefully. Modern inter-frame codecs (H.264 etc.) remain
  the documented pluggable seam; MRLE exercises the same decoder contract
  (state across frames, skip regions, keyframe bootstrap) in ~100 lines.

Same scope note as jpeg.py: the entropy layer is per-frame Python over
numpy-batched DCT — right for validation/fixtures; at training scale inject
a native decoder via multimodal's ``decoder=`` seam with this as the
always-available fallback and ground truth.
"""

from __future__ import annotations

import struct
from typing import List, Tuple

import numpy as np

from .binread import Reader
from .jpeg import decode_jpeg, jpeg_bytes


def _chunk(fourcc: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) & 1 else b""
    return fourcc + struct.pack("<I", len(body)) + body + pad


def _list(list_type: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", list_type + body)


def avi_bytes(frames: List[np.ndarray], fps: float = 25.0,
              quality: int = 85) -> bytes:
    """Encode uint8 RGB (h, w, 3) frames as a Motion-JPEG AVI.

    All frames must share one shape. Writes the standard structure players
    expect: avih + one 'vids'/'MJPG' stream (strh/strf), 00dc frame chunks,
    and an idx1 index."""
    if not frames:
        raise ValueError("no frames")
    h, w = frames[0].shape[:2]
    encoded = []
    for f in frames:
        if f.shape[:2] != (h, w):
            raise ValueError("all frames must share one shape")
        encoded.append(jpeg_bytes(np.asarray(f, np.uint8), quality=quality))
    max_size = max(len(e) for e in encoded)
    usec_per_frame = int(round(1_000_000 / fps))

    avih = struct.pack(
        "<14I", usec_per_frame, max_size * int(np.ceil(fps)), 0,
        0x10,  # AVIF_HASINDEX
        len(frames), 0, 1, max_size, w, h, 0, 0, 0, 0)
    # strh: 'vids' stream, rate/scale = fps as a rational (scale 1000)
    strh = (b"vids" + b"MJPG"
            + struct.pack("<10I", 0, 0, 0, 1000, int(round(fps * 1000)), 0,
                          len(frames), max_size, 0xFFFFFFFF, 0)
            + struct.pack("<4H", 0, 0, w, h))
    strf = struct.pack("<I2i2H6i", 40, w, h, 1, 24, 0x47504A4D,  # 'MJPG'
                       w * h * 3, 0, 0, 0, 0)
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)))

    chunks = b""
    idx_entries = []
    for e in encoded:
        # idx1 offsets are measured from the 'movi' fourcc, which occupies
        # bytes [0, 4) of the list data — hence the +4 base
        idx_entries.append((4 + len(chunks), len(e)))
        chunks += _chunk(b"00dc", e)
    movi = _list(b"movi", chunks)
    idx1 = b"".join(
        b"00dc" + struct.pack("<3I", 0x10, off, size)
        for off, size in idx_entries)
    body = b"AVI " + hdrl + movi + _chunk(b"idx1", idx1)
    return b"RIFF" + struct.pack("<I", len(body)) + body


GRAY_PALETTE = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)


def _rle8_encode(cur: np.ndarray, prev) -> bytes:
    """One BI_RLE8 frame (bottom-up rows). ``prev=None`` -> keyframe (every
    pixel encoded); else only pixels differing from ``prev`` are written —
    unchanged spans are skipped with the delta escape (00 02 dx dy), which
    is what makes the stream inter-frame."""
    h, w = cur.shape
    out = bytearray()
    cx, cy = 0, 0  # the decoder's cursor after replaying `out`
    for y in range(h):
        row = cur[y]
        changed = (np.ones(w, bool) if prev is None
                   else np.not_equal(row, prev[y]))
        idx = np.flatnonzero(changed)
        if idx.size == 0:
            continue  # cursor stays put; a later delta escape jumps rows
        if cy < y:
            if cx != 0:
                out += b"\x00\x00"  # EOL: x=0, y+1
                cy += 1
                cx = 0
            while cy < y:
                d = min(255, y - cy)
                out += bytes((0, 2, 0, d))
                cy += d
        # contiguous changed spans in this row
        splits = np.flatnonzero(np.diff(idx) > 1) + 1
        for span in np.split(idx, splits):
            s, e = int(span[0]), int(span[-1])
            gap = s - cx
            while gap > 0:
                d = min(255, gap)
                out += bytes((0, 2, d, 0))
                gap -= d
            seg = row[s:e + 1]
            j, n = 0, e + 1 - s
            while j < n:
                v = int(seg[j])
                k = j
                while k < n and seg[k] == v:
                    k += 1
                run = k - j
                while run > 0:
                    step = min(255, run)
                    out += bytes((step, v))
                    run -= step
                j = k
            cx = e + 1
        out += b"\x00\x00"
        cy += 1
        cx = 0
    out += b"\x00\x01"  # end of bitmap
    return bytes(out)


def _rle8_apply(data: bytes, canvas: np.ndarray) -> None:
    """Replay one RLE8 frame onto the persistent bottom-up canvas.
    Malformed streams (overruns, truncation, missing end-of-bitmap) raise
    ValueError — a corrupt payload is a per-row decode error upstream,
    never a task-killing crash."""
    h, w = canvas.shape
    a = np.frombuffer(data, np.uint8)
    i, x, y, n = 0, 0, 0, len(a)
    while i + 2 <= n:
        b0, b1 = int(a[i]), int(a[i + 1])
        i += 2
        if b0:
            if y >= h or x + b0 > w:
                raise ValueError("RLE8 run overruns bitmap")
            canvas[y, x:x + b0] = b1
            x += b0
        elif b1 == 0:
            x, y = 0, y + 1
        elif b1 == 1:
            return
        elif b1 == 2:
            if i + 2 > n:
                raise ValueError("truncated RLE8 delta escape")
            x += int(a[i])
            y += int(a[i + 1])
            i += 2
            if x > w or y > h:
                raise ValueError("RLE8 delta overruns bitmap")
        else:
            if i + b1 > n:
                raise ValueError("truncated RLE8 absolute run")
            if y >= h or x + b1 > w:
                raise ValueError("RLE8 absolute run overruns bitmap")
            canvas[y, x:x + b1] = a[i:i + b1]
            x += b1
            i += b1 + (b1 & 1)
    raise ValueError("RLE8 stream missing end-of-bitmap")


def rle8_avi_bytes(frames: List[np.ndarray], fps: float = 25.0,
                   palette: np.ndarray = None) -> bytes:
    """Encode uint8 palette-index (h, w) frames as an MS-RLE8 AVI.

    Frame 0 is a keyframe; every later frame is a DELTA against its
    predecessor (only changed pixels hit the stream). Lossless. ``palette``
    is a (256, 3) uint8 RGB table (default grayscale identity)."""
    if not frames:
        raise ValueError("no frames")
    pal = GRAY_PALETTE if palette is None else np.asarray(palette, np.uint8)
    if pal.shape != (256, 3):
        raise ValueError("palette must be (256, 3) uint8 RGB")
    h, w = frames[0].shape[:2]
    encoded = []
    prev = None
    for f in frames:
        f = np.asarray(f, np.uint8)
        if f.ndim != 2 or f.shape != (h, w):
            raise ValueError("frames must be uint8 (h, w) palette indices "
                             "of one shape")
        bu = f[::-1]  # DIBs store rows bottom-up
        encoded.append(_rle8_encode(bu, prev))
        prev = bu
    max_size = max(len(e) for e in encoded)
    usec_per_frame = int(round(1_000_000 / fps))
    avih = struct.pack(
        "<14I", usec_per_frame, max_size * int(np.ceil(fps)), 0,
        0x10, len(frames), 0, 1, max_size, w, h, 0, 0, 0, 0)
    strh = (b"vids" + b"MRLE"
            + struct.pack("<10I", 0, 0, 0, 1000, int(round(fps * 1000)), 0,
                          len(frames), max_size, 0xFFFFFFFF, 0)
            + struct.pack("<4H", 0, 0, w, h))
    # BITMAPINFOHEADER: 8bpp, biCompression=1 (BI_RLE8), 256-color table
    strf = (struct.pack("<I2i2H6i", 40, w, h, 1, 8, 1, w * h, 0, 0, 256, 0)
            + b"".join(bytes((int(b), int(g), int(r), 0))
                       for r, g, b in pal))
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl",
                         _chunk(b"strh", strh) + _chunk(b"strf", strf)))
    chunks = b""
    idx_entries = []
    for fi, e in enumerate(encoded):
        idx_entries.append((4 + len(chunks), len(e), 0x10 if fi == 0 else 0))
        chunks += _chunk(b"00dc", e)
    movi = _list(b"movi", chunks)
    idx1 = b"".join(
        b"00dc" + struct.pack("<3I", flags, off, size)
        for off, size, flags in idx_entries)
    body = b"AVI " + hdrl + movi + _chunk(b"idx1", idx1)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi(raw: bytes) -> Tuple[float, List[np.ndarray]]:
    """Decode an MJPG or MS-RLE8 AVI -> (fps, [uint8 frames]). Frames come
    back RGB (h, w, 3) (grayscale JPEGs are expanded; RLE8 indices go
    through the stream's palette). RLE8 is stateful: each delta frame is
    replayed onto the previous frame's canvas. Raises ValueError on
    malformed containers or foreign codecs."""
    if raw is None or len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"AVI ":
        raise ValueError("not an AVI container")
    r = Reader(bytes(raw), "avi", 12)
    fps = 25.0
    codec = "mjpg"
    pal = GRAY_PALETTE
    canvas = None  # RLE8: persistent bottom-up index canvas
    frames: List[np.ndarray] = []

    def walk(scope: Reader, depth: int) -> None:
        nonlocal fps, codec, pal, canvas
        if depth > 8:  # real AVIs nest 2-3 deep; a crafted bomb raises, not
            raise ValueError("AVI LIST nesting too deep")  # RecursionError
        for fourcc, body in scope.riff_chunks():
            if fourcc == b"LIST":
                body.skip(4, "list type")
                walk(body, depth + 1)
            elif fourcc == b"strh" and body.left() >= 28:
                kind, handler, scale, rate = body.unpack("<4s4s12xII")
                if kind == b"vids":
                    if handler in (b"MRLE", b"mrle", b"RLE8",
                                   b"\x01\x00\x00\x00"):
                        codec = "rle8"
                    elif handler not in (b"MJPG", b"mjpg",
                                         b"\x00\x00\x00\x00"):
                        raise ValueError(
                            f"unsupported video codec {handler!r}; only "
                            "MJPG and MS-RLE8 decode here — inject a native "
                            "decoder for modern inter-frame codecs")
                    if scale and rate:
                        fps = rate / scale
            elif fourcc == b"strf" and body.left() >= 40:
                _, bi_w, bi_h, _planes, bits, comp = body.unpack("<I2iHHI")
                if comp == 1 or (codec == "rle8" and bits == 8):
                    if bits != 8:
                        raise ValueError("RLE AVI: only 8bpp (BI_RLE8)")
                    if bi_h <= 0 or bi_w <= 0:
                        raise ValueError("RLE AVI: need positive bottom-up "
                                         "dimensions")
                    codec = "rle8"
                    body.claim(bi_w * bi_h, "RLE8 canvas")
                    canvas = np.zeros((bi_h, bi_w), np.uint8)
                    body.skip(20)  # rest of the BITMAPINFOHEADER
                    if body.left() >= 256 * 4:
                        bgrx = np.frombuffer(body.take(256 * 4), np.uint8)
                        pal = bgrx.reshape(256, 4)[:, [2, 1, 0]]
            elif fourcc[2:4] in (b"dc", b"db") and body.left():
                data = body.take(body.left())
                if codec == "rle8":
                    if canvas is None:
                        raise ValueError("RLE AVI: frame before strf header")
                    body.claim(canvas.size * 3, "RLE8 frame")
                    _rle8_apply(data, canvas)
                    frames.append(pal[canvas[::-1]])
                else:
                    # not charged here: each JPEG charges its own decode, and
                    # its blocks are bounded by its entropy bytes, so this
                    # list grows with the input, not with a declared size
                    h, w, c, px = decode_jpeg(data)
                    if c == 1:
                        px = np.repeat(px[:, :, None], 3, axis=2)
                    frames.append(px)

    walk(r, 0)
    if not frames:
        raise ValueError("no video frames found")
    return fps, frames
