"""Real GIF decode/encode with stdlib-only LZW — no imaging library.

GIF87a/GIF89a: logical screen + global/local color tables, graphic control
extensions (transparency, frame delay), interlaced images, multi-frame
animations with DISPOSAL/partial-frame compositing left simple (frames are
composited onto the previous canvas at their (left, top) offset, which covers
the common disposal=0/1 encoders; disposal=2/3 restore semantics are
approximated by the same overlay, documented). The LZW code stream is decoded
with a Python table loop — O(codes) per image, the same complexity class any
C decoder pays, and GIF images are small by construction (the format caps
codes at 12 bits).

The encoder exists so tests and fixtures can synthesize REAL payloads
(round-trip: encode -> decode -> pixel equality): single- or multi-frame,
256-color palette built from the image, no transparency, uncompressed-style
LZW (clear-code-flushed, always valid).

Feeds ``multimodal.real_image_decoder`` (first frame, RGB) and
``multimodal.real_video_decoder`` (animated GIF -> (fps, frames)), so every
image/video operator — dHash fingerprints, near-dup, decontam, contract
rules — runs on real GIF payloads. Reference parity note: the reference CLI
(datacontract-cli) has no payload decoding at all; this extends the engine's
multimodal matrix (SURVEY §2.5 family).
"""

from __future__ import annotations

from typing import List, Optional, Tuple

import numpy as np

from .binread import Reader

_GIF87 = b"GIF87a"
_GIF89 = b"GIF89a"

# interlace pass offsets/strides per the GIF89a spec appendix E
_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def _sub_blocks(r: Reader) -> bytes:
    out = bytearray()
    while True:
        n = r.u8("sub-block size")
        if n == 0:
            return bytes(out)
        out += r.take(n, "sub-block")


def _lzw_decode(min_code_size: int, data: bytes, n_pixels: int) -> np.ndarray:
    """GIF LZW -> uint8 index array of length n_pixels."""
    clear = 1 << min_code_size
    eoi = clear + 1
    # table entries are bytes objects; rebuilt on clear
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    code_size = min_code_size + 1
    out = bytearray()
    prev: Optional[bytes] = None
    acc = 0
    nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                table = list(base)
                code_size = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return np.frombuffer(bytes(out[:n_pixels]), dtype=np.uint8).copy()
            if prev is None:
                if code >= len(table):
                    # bounds-check, not IndexError: decode errors must
                    # surface as per-row decode_error in the Arrow UDFs,
                    # whose catch tuples take ValueError — a stray
                    # IndexError would abort the whole Spark job
                    raise ValueError("corrupt GIF LZW stream")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("corrupt GIF LZW stream")
            out += entry
            prev = entry
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
            if len(out) >= n_pixels:
                # some encoders omit EOI; stop once the raster is full
                return np.frombuffer(bytes(out[:n_pixels]), dtype=np.uint8).copy()
    if len(out) < n_pixels:
        raise ValueError("GIF LZW stream ended short of the raster")
    return np.frombuffer(bytes(out[:n_pixels]), dtype=np.uint8).copy()


def _deinterlace(idx: np.ndarray, h: int, w: int) -> np.ndarray:
    rows = idx.reshape(h, w)
    out = np.empty_like(rows)
    src = 0
    for start, step in _INTERLACE:
        for y in range(start, h, step):
            out[y] = rows[src]
            src += 1
    return out.reshape(-1)


def decode_gif(raw: bytes) -> Tuple[float, List[np.ndarray]]:
    """Decode GIF -> (fps, [uint8 RGB (h, w, 3) frames]).

    fps derives from the median graphic-control delay (centiseconds; GIF's
    conventional 10 fps when absent/zero). Transparent pixels keep the
    underlying canvas (first frame: the GIF background color)."""
    if raw is None or len(raw) < 13 or bytes(raw[:6]) not in (_GIF87, _GIF89):
        raise ValueError("not a GIF payload")
    r = Reader(bytes(raw), "gif", 6)
    width, height, flags, bg_index, _aspect = r.unpack("<HHBBB",
                                                       "logical screen")
    if width == 0 or height == 0:
        raise ValueError("empty GIF logical screen")
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(r.take(3 * n, "global color table"),
                            dtype=np.uint8).reshape(n, 3)

    r.claim(width * height * 3, "logical screen")
    canvas = np.zeros((height, width, 3), dtype=np.uint8)
    if gct is not None and bg_index < len(gct):
        canvas[:] = gct[bg_index]
    frames: List[np.ndarray] = []
    delays: List[int] = []
    transparent: Optional[int] = None
    delay = 0

    while True:
        block = r.u8()
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = r.u8()
            data = _sub_blocks(r)
            if label == 0xF9 and len(data) >= 4:  # graphic control
                delay = data[1] | (data[2] << 8)
                transparent = data[3] if data[0] & 0x01 else None
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        left, top, fw, fh, iflags = r.unpack("<HHHHB", "image descriptor")
        if left + fw > width or top + fh > height:
            raise ValueError("GIF frame exceeds logical screen")
        lct = None
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            lct = np.frombuffer(r.take(3 * n, "local color table"),
                                dtype=np.uint8).reshape(n, 3)
        palette = lct if lct is not None else gct
        if palette is None:
            raise ValueError("GIF image without a color table")
        min_code = r.u8()
        if not 2 <= min_code <= 11:
            raise ValueError("invalid GIF LZW minimum code size")
        idx = _lzw_decode(min_code, _sub_blocks(r), fw * fh)
        if iflags & 0x40:
            idx = _deinterlace(idx, fh, fw)
        if idx.max(initial=0) >= len(palette):
            raise ValueError("GIF index outside color table")
        rect = palette[idx].reshape(fh, fw, 3)
        region = canvas[top:top + fh, left:left + fw]
        if transparent is not None:
            mask = (idx.reshape(fh, fw) != transparent)[..., None]
            region[:] = np.where(mask, rect, region)
        else:
            region[:] = rect
        r.claim(canvas.nbytes, "frame")
        frames.append(canvas.copy())
        delays.append(delay)
        transparent, delay = None, 0

    if not frames:
        raise ValueError("GIF contains no image frames")
    med = float(np.median([d for d in delays])) if delays else 0.0
    fps = 100.0 / med if med > 0 else 10.0
    return fps, frames


def decode_gif_image(raw: bytes) -> Tuple[int, int, int, np.ndarray]:
    """First frame as (height, width, 3, uint8 HWC) — the image-column view."""
    _, frames = decode_gif(raw)
    f = frames[0]
    return f.shape[0], f.shape[1], 3, f


def _lzw_encode(min_code_size: int, indices: np.ndarray) -> bytes:
    """Valid (not size-optimal) GIF LZW: emit a clear code whenever the table
    would outgrow 12 bits; single-pass dict build otherwise."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, size: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    code_size = min_code_size + 1
    emit(clear, code_size)
    prev = b""
    for b in indices.tobytes():
        cur = prev + bytes([b])
        if cur in table:
            prev = cur
            continue
        emit(table[prev], code_size)
        table[cur] = next_code
        next_code += 1
        # growth fires ONE ADD LATER than the decoder's (next_code ==
        # 2^cs + 1, not == 2^cs): the decoder adds its k-th entry while
        # READING code k+1, so it widens one stream position after the
        # encoder adds — an encoder that widens at == 2^cs writes the next
        # code one bit wider than the decoder reads it (verified both ways
        # against the decoder + real-tool GIFs in tests). At the 12-bit
        # ceiling, flush with a clear code; the final 4096-valued entry is
        # never emitted before the reset.
        if next_code == (1 << code_size) + 1:
            if code_size < 12:
                code_size += 1
            else:
                emit(clear, code_size)
                table = {bytes([i]): i for i in range(clear)}
                next_code = eoi + 1
                code_size = min_code_size + 1
        prev = bytes([b])
    if prev:
        emit(table[prev], code_size)
    emit(eoi, code_size)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(
    frames: List[np.ndarray], fps: float = 10.0, interlace_first: bool = False
) -> bytes:
    """Encode uint8 RGB (h, w, 3) frames as a real GIF89a.

    Builds one global 256-color palette from the union of frame colors
    (ValueError if the frames use more than 256 distinct colors — synthesize
    fixtures accordingly); per-frame delay = round(100/fps) centiseconds.
    """
    if not frames:
        raise ValueError("no frames")
    h, w = frames[0].shape[:2]
    colors: dict = {}
    for f in frames:
        if f.shape[:2] != (h, w) or f.shape[2] != 3 or f.dtype != np.uint8:
            raise ValueError("frames must be uniform uint8 (h, w, 3)")
        for c in map(tuple, np.unique(f.reshape(-1, 3), axis=0)):
            colors.setdefault(c, len(colors))
    if len(colors) > 256:
        raise ValueError("encode_gif supports at most 256 distinct colors")
    n_bits = max(1, (len(colors) - 1).bit_length())
    table_n = 1 << n_bits
    palette = np.zeros((table_n, 3), dtype=np.uint8)
    for c, i in colors.items():
        palette[i] = c

    out = bytearray()
    out += _GIF89
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | (n_bits - 1), 0, 0])  # GCT present, bg 0
    out += palette.tobytes()
    delay = max(1, round(100.0 / fps))
    # vectorized pixel -> palette-index lookup: pack RGB to int24 and
    # searchsorted against the palette keys (a per-pixel Python dict walk
    # costs O(h*w) tuple allocations per frame)
    keys = np.array(
        [(c[0] << 16) | (c[1] << 8) | c[2] for c in colors], dtype=np.int64
    )
    order = np.argsort(keys)
    sorted_keys = keys[order]
    min_code = max(2, n_bits)
    for fi, f in enumerate(frames):
        # graphic control (delay only)
        out += bytes([0x21, 0xF9, 4, 0, delay & 0xFF, delay >> 8, 0, 0])
        out += bytes([0x2C]) + (0).to_bytes(2, "little") * 2
        out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
        inter = interlace_first and fi == 0
        out += bytes([0x40 if inter else 0x00])
        flat = f.reshape(-1, 3).astype(np.int64)
        flatk = (flat[:, 0] << 16) | (flat[:, 1] << 8) | flat[:, 2]
        idx = order[np.searchsorted(sorted_keys, flatk)].astype(np.uint8)
        if inter:
            rows = idx.reshape(h, w)
            order = [y for start, step in _INTERLACE for y in range(start, h, step)]
            idx = rows[order].reshape(-1)
        out += bytes([min_code])
        lzw = _lzw_encode(min_code, idx)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i:i + 255]
            out += bytes([len(chunk)]) + chunk
        out += bytes([0])
    out += bytes([0x3B])
    return bytes(out)
