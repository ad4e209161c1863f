"""WebP lossless (VP8L) codec: stdlib + numpy, no external libraries.

Implements the published WebP Lossless Bitstream Specification (RFC 9649 /
developers.google.com/speed/webp/docs/webp_lossless_bitstream_specification):

- **decoder** (`decode_webp`): full VP8L — LSB-first bit reading, canonical
  prefix codes (simple and normal forms, code-length codes with the 16/17/18
  repeat alphabet and the max_symbol shortcut), meta prefix codes (entropy
  image), color cache (the spec's 0x1e35a7bd multiplicative hash), LZ77
  backward references with the 120-entry close-neighborhood distance map,
  and all four transforms (predictor with its 14 modes, cross-color,
  subtract-green, color indexing with sub-byte pixel bundling). Container
  handling covers bare 'VP8L' files and 'VP8X' wrappers; lossy 'VP8 ' and
  animations are rejected with a clear message (they are a different codec,
  not a bitstream variant).
- **encoder** (`webp_bytes`): a valid literal-only VP8L writer for fixtures
  and round-trips — no transforms, no LZ77, one prefix-code group per image,
  balanced canonical codes over the symbols present (complete by
  construction: with n symbols, 2^L - n codes get length L-1 and the rest
  L). Lossless, so round-trips are exact.

Conformance evidence beyond round-trips (this sandbox has no libwebp):
the distance map is GENERATED from its ordering rule (all (dx, dy) offsets
with dy in [0,7], dx in [-7,8] that reference an earlier pixel, sorted by
dx^2+dy^2 then descending dy then positive-before-negative dx — verified to
be a 120-entry bijection in tests), and tests/test_webp.py decodes the
VP8L-compressed ALPH plane of CPython's bundled real `python.webp` (encoded
by libwebp itself), which exercises the Huffman, LZ77, and bit-order paths
against a stream this repo did not produce.

Reference parity note: the reference CLI (datacontract-cli) has no image
codecs at all; this closes the repo's last remaining *image* codec seam so
`type: image` contract rules and the image dedup/decontam operators accept
WebP payloads without an injected decoder.
"""

from __future__ import annotations

import struct
from typing import Dict, List, Optional, Tuple

import numpy as np

from .binread import Reader

# code-length code order (spec "Decoding of Meta Prefix Codes" section)
K_CODE_LENGTH_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11,
                       12, 13, 14, 15]


def _gen_distance_map() -> List[Tuple[int, int]]:
    """The spec's 120 close-neighborhood (dx, dy) offsets for distance
    codes 1..120, ordered by squared euclidean distance, then larger dy
    first, then positive dx before negative."""
    offs = []
    for dy in range(0, 8):
        for dx in range(-7, 9):
            if dy == 0 and dx <= 0:
                continue
            offs.append((dx, dy))
    offs.sort(key=lambda o: (o[0] * o[0] + o[1] * o[1], -o[1],
                             0 if o[0] > 0 else 1))
    return offs


DISTANCE_MAP = _gen_distance_map()


class BitReader:
    """LSB-first bit reader over bytes (the VP8L convention)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ValueError("VP8L: bitstream truncated")
            v |= ((self.data[byte] >> (self.pos & 7)) & 1) << i
            self.pos += 1
        return v


class BitWriter:
    """LSB-first bit writer (inverse of BitReader)."""

    def __init__(self):
        self.bytes = bytearray()
        self.bit = 0

    def write(self, value: int, n: int) -> None:
        for i in range(n):
            if self.bit == 0:
                self.bytes.append(0)
            if (value >> i) & 1:
                self.bytes[-1] |= 1 << self.bit
            self.bit = (self.bit + 1) & 7

    def getvalue(self) -> bytes:
        return bytes(self.bytes)


class PrefixCode:
    """Canonical prefix code decoder. Codes are canonical per DEFLATE
    (assigned in (length, symbol) order); code bits appear in the stream
    most-significant-bit first, so decode accumulates (code << 1) | bit."""

    def __init__(self, lengths: List[int]):
        nz = [(l, s) for s, l in enumerate(lengths) if l > 0]
        self.table: Dict[Tuple[int, int], int] = {}
        if len(nz) == 1:
            # single-symbol code: zero bits per symbol
            self.single: Optional[int] = nz[0][1]
            return
        self.single = None
        if not nz:
            raise ValueError("VP8L: empty prefix code")
        nz.sort()
        kraft = sum(1 / (1 << l) for l, _ in nz)
        if abs(kraft - 1.0) > 1e-9:
            raise ValueError("VP8L: prefix code not complete "
                             f"(Kraft sum {kraft})")
        code = 0
        prev_len = nz[0][0]
        for l, s in nz:
            code <<= (l - prev_len)
            prev_len = l
            self.table[(l, code)] = s
            code += 1
        self.max_len = nz[-1][0]

    def read_symbol(self, br: BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for length in range(1, self.max_len + 1):
            code = (code << 1) | br.read(1)
            sym = self.table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("VP8L: invalid prefix code in stream")


def _read_code_lengths(br: BitReader, cl_code: "PrefixCode",
                       alphabet: int, max_symbol: int) -> List[int]:
    lengths = [0] * alphabet
    prev_nonzero = 8
    symbol = 0
    remaining = max_symbol
    while symbol < alphabet:
        if remaining <= 0:
            break
        remaining -= 1
        cl = cl_code.read_symbol(br)
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            if cl:
                prev_nonzero = cl
        elif cl == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if symbol >= alphabet:
                    raise ValueError("VP8L: code length repeat overflow")
                lengths[symbol] = prev_nonzero
                symbol += 1
        elif cl == 17:
            symbol += 3 + br.read(3)
        else:  # 18
            symbol += 11 + br.read(7)
        if symbol > alphabet:
            raise ValueError("VP8L: code length zeros overflow")
    return lengths


def read_prefix_code(br: BitReader, alphabet: int) -> PrefixCode:
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        first_8bit = br.read(1)
        s0 = br.read(8 if first_8bit else 1)
        lengths = [0] * alphabet
        if num_symbols == 2:
            s1 = br.read(8)
            if s0 >= alphabet or s1 >= alphabet or s0 == s1:
                raise ValueError("VP8L: bad simple prefix code symbols")
            lengths[s0] = 1
            lengths[s1] = 1
        else:
            if s0 >= alphabet:
                raise ValueError("VP8L: bad simple prefix code symbol")
            lengths[s0] = 1
            return PrefixCode.__new__(PrefixCode)._init_single(s0)
        return PrefixCode(lengths)
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[K_CODE_LENGTH_ORDER[i]] = br.read(3)
    cl_code = PrefixCode(cl_lengths)
    if br.read(1):  # use max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
        if max_symbol > alphabet:
            raise ValueError("VP8L: max_symbol exceeds alphabet")
    else:
        max_symbol = alphabet
    lengths = _read_code_lengths(br, cl_code, alphabet, max_symbol)
    return PrefixCode(lengths)


def _init_single(self, sym):  # pragma: no cover - helper bound below
    self.single = sym
    self.table = {}
    return self


PrefixCode._init_single = _init_single


def _prefix_value(br: BitReader, code: int) -> int:
    """Length/distance value from its prefix code (spec extra-bits rule)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


class _Group:
    __slots__ = ("green", "red", "blue", "alpha", "dist")

    def __init__(self, br: BitReader, cache_bits: int):
        self.green = read_prefix_code(br, 256 + 24 + (1 << cache_bits
                                                      if cache_bits else 0))
        self.red = read_prefix_code(br, 256)
        self.blue = read_prefix_code(br, 256)
        self.alpha = read_prefix_code(br, 256)
        self.dist = read_prefix_code(br, 40)


def _decode_pixels(br: BitReader, w: int, h: int,
                   allow_meta: bool) -> np.ndarray:
    """One entropy-coded image -> uint32 ARGB array of length w*h.
    Handles meta prefix codes (top-level only), color cache, literals,
    LZ77 backward references, and cache references."""
    meta = None
    meta_bits = 0
    if allow_meta and br.read(1):
        meta_bits = br.read(3) + 2
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta_px = _decode_pixels(br, mw, mh, False)
        meta = ((meta_px >> 8) & 0xFFFF).astype(np.int64)  # (red<<8)|green
        n_groups = int(meta.max()) + 1
        meta_w = mw
    else:
        n_groups = 1
        meta_w = 0
    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits and not 1 <= cache_bits <= 11:
        raise ValueError("VP8L: color cache bits out of range")
    cache = [0] * (1 << cache_bits) if cache_bits else None
    shift = 32 - cache_bits if cache_bits else 0
    groups = [_Group(br, cache_bits) for _ in range(n_groups)]
    out = np.zeros(w * h, np.uint32)
    pos = 0
    n = w * h
    g = groups[0]
    while pos < n:
        if meta is not None:
            x, y = pos % w, pos // w
            g = groups[int(meta[(y >> meta_bits) * meta_w
                                + (x >> meta_bits)])]
        sym = g.green.read_symbol(br)
        if sym < 256:
            red = g.red.read_symbol(br)
            blue = g.blue.read_symbol(br)
            alpha = g.alpha.read_symbol(br)
            px = (alpha << 24) | (red << 16) | (sym << 8) | blue
            out[pos] = px
            pos += 1
            if cache is not None:
                cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> shift] = px
        elif sym < 280:
            length = _prefix_value(br, sym - 256)
            dist_code = _prefix_value(br, g.dist.read_symbol(br))
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = DISTANCE_MAP[dist_code - 1]
                dist = dy * w + dx
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > n:
                raise ValueError("VP8L: backward reference out of range")
            for _ in range(length):
                px = int(out[pos - dist])
                out[pos] = px
                pos += 1
                if cache is not None:
                    cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> shift] = px
        else:
            if cache is None:
                raise ValueError("VP8L: cache reference without color cache")
            idx = sym - 280
            out[pos] = cache[idx]
            pos += 1
    return out


# ---------------------------------------------------------------------------
# transforms (inverse)
# ---------------------------------------------------------------------------


def _avg2(a: int, b: int) -> int:
    return (((a >> 24) + (b >> 24)) // 2 << 24 |
            (((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) // 2 << 16 |
            (((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) // 2 << 8 |
            ((a & 0xFF) + (b & 0xFF)) // 2)


def _channels(p: int) -> Tuple[int, int, int, int]:
    return (p >> 24) & 0xFF, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _select(t: int, l: int, tl: int) -> int:
    ta, tr, tg, tb = _channels(t)
    la, lr, lg, lb = _channels(l)
    xa, xr, xg, xb = _channels(tl)
    pa, pr, pg, pb = ta + la - xa, tr + lr - xr, tg + lg - xg, tb + lb - xb
    p_l = abs(pa - la) + abs(pr - lr) + abs(pg - lg) + abs(pb - lb)
    p_t = abs(pa - ta) + abs(pr - tr) + abs(pg - tg) + abs(pb - tb)
    return l if p_l < p_t else t


def _clamp_add_full(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        c = _clamp(((l >> sh) & 0xFF) + ((t >> sh) & 0xFF)
                   - ((tl >> sh) & 0xFF))
        out |= c << sh
    return out


def _clamp_add_half(ave: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        a = (ave >> sh) & 0xFF
        b = (tl >> sh) & 0xFF
        d = a - b
        half = d // 2 if d >= 0 else -((-d) // 2)  # C truncation
        out |= _clamp(a + half) << sh
    return out


def _inv_predictor(px: np.ndarray, w: int, h: int, bits: int,
                   modes: np.ndarray, mw: int) -> None:
    """In-place inverse predictor transform (spec modes 0-13). Per-channel
    addition is mod 256. Flat addressing makes TR of the last column the
    first pixel of the current row, as in the reference decoder."""
    for i in range(w * h):
        x, y = i % w, i // w
        if i == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = int(px[i - 1])  # L
        elif x == 0:
            pred = int(px[i - w])  # T
        else:
            mode = int(modes[(y >> bits) * mw + (x >> bits)]) >> 8 & 0xFF
            l = int(px[i - 1])
            t = int(px[i - w])
            tl = int(px[i - w - 1])
            tr = int(px[i - w + 1])
            if mode == 0:
                pred = 0xFF000000
            elif mode == 1:
                pred = l
            elif mode == 2:
                pred = t
            elif mode == 3:
                pred = tr
            elif mode == 4:
                pred = tl
            elif mode == 5:
                pred = _avg2(_avg2(l, tr), t)
            elif mode == 6:
                pred = _avg2(l, tl)
            elif mode == 7:
                pred = _avg2(l, t)
            elif mode == 8:
                pred = _avg2(tl, t)
            elif mode == 9:
                pred = _avg2(t, tr)
            elif mode == 10:
                pred = _avg2(_avg2(l, tl), _avg2(t, tr))
            elif mode == 11:
                pred = _select(t, l, tl)
            elif mode == 12:
                pred = _clamp_add_full(l, t, tl)
            elif mode == 13:
                pred = _clamp_add_half(_avg2(l, t), tl)
            else:
                raise ValueError(f"VP8L: predictor mode {mode} invalid")
        cur = int(px[i])
        px[i] = ((((cur >> 24) + (pred >> 24)) & 0xFF) << 24 |
                 ((((cur >> 16) & 0xFF) + ((pred >> 16) & 0xFF)) & 0xFF)
                 << 16 |
                 ((((cur >> 8) & 0xFF) + ((pred >> 8) & 0xFF)) & 0xFF) << 8 |
                 (((cur & 0xFF) + (pred & 0xFF)) & 0xFF))


def _s8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _inv_color_transform(px: np.ndarray, w: int, h: int, bits: int,
                         elems: np.ndarray, mw: int) -> None:
    """Inverse cross-color transform: red += delta(g2r, green);
    blue += delta(g2b, green) + delta(r2b, new red); delta(t, c) =
    (int8(t) * int8(c)) >> 5 (arithmetic shift)."""
    for i in range(w * h):
        x, y = i % w, i // w
        e = int(elems[(y >> bits) * mw + (x >> bits)])
        g2r = _s8(e & 0xFF)          # blue channel of the element
        g2b = _s8((e >> 8) & 0xFF)   # green channel
        r2b = _s8((e >> 16) & 0xFF)  # red channel
        p = int(px[i])
        green = _s8((p >> 8) & 0xFF)
        red = ((p >> 16) & 0xFF) + ((g2r * green) >> 5) & 0xFF
        blue = ((p & 0xFF) + ((g2b * green) >> 5)
                + ((r2b * _s8(red)) >> 5)) & 0xFF
        px[i] = (p & 0xFF00FF00) | (red << 16) | blue


def _inv_subtract_green(px: np.ndarray) -> None:
    g = (px >> 8) & 0xFF
    r = ((px >> 16) & 0xFF) + g & 0xFF
    b = (px & 0xFF) + g & 0xFF
    px[:] = (px & 0xFF00FF00) | (r << 16) | b


def _inv_color_index(px: np.ndarray, w: int, h: int, packed_w: int,
                     palette: np.ndarray, width_bits: int) -> np.ndarray:
    """Unbundle packed index pixels and map through the palette.
    Out-of-range indices decode as 0 (transparent black), matching the
    reference's memset default."""
    idx = (px >> 8) & 0xFF  # green channel holds the index
    if width_bits:
        per = 1 << width_bits
        bpp = 8 >> width_bits
        mask = (1 << bpp) - 1
        rows = idx.reshape(h, packed_w)
        # little-end sub-pixels first
        cols = np.stack([(rows >> (j * bpp)) & mask for j in range(per)],
                        axis=2).reshape(h, packed_w * per)[:, :w]
        idx = cols.reshape(-1)
    full = np.zeros(idx.shape[0], np.uint32)
    valid = idx < palette.shape[0]
    full[valid] = palette[idx[valid].astype(np.int64)]
    return full


# ---------------------------------------------------------------------------
# top-level decode
# ---------------------------------------------------------------------------


def _sub_image(br: BitReader, w: int, h: int) -> np.ndarray:
    return _decode_pixels(br, w, h, False)


def decode_vp8l(chunk: Reader, *, headerless_size: Optional[Tuple[int, int]]
                = None) -> Tuple[int, int, bool, np.ndarray]:
    """Decode the VP8L stream filling ``chunk`` -> (w, h, alpha_hint, argb
    uint32 array). The declared raster is charged to the decode's output
    budget before any pixel is allocated.

    ``headerless_size=(w, h)`` decodes the header-free variant used by the
    container's VP8L-compressed ALPH chunk."""
    data = chunk.take(chunk.left())
    br = BitReader(data)
    if headerless_size is None:
        if not data or data[0] != 0x2F:
            raise ValueError("VP8L: bad signature byte")
        br.pos = 8
        w = br.read(14) + 1
        h = br.read(14) + 1
        alpha_hint = bool(br.read(1))
        version = br.read(3)
        if version != 0:
            raise ValueError(f"VP8L: unsupported version {version}")
    else:
        w, h = headerless_size
        alpha_hint = False
    chunk.claim(w * h * 4, "VP8L image")
    # transforms (top level only); each records the xsize at read time
    transforms = []
    cur_w = w
    seen = set()
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen:
            raise ValueError("VP8L: duplicate transform")
        seen.add(ttype)
        if ttype == 0:  # predictor
            bits = br.read(3) + 2
            mw = (cur_w + (1 << bits) - 1) >> bits
            mh = (h + (1 << bits) - 1) >> bits
            transforms.append(("pred", cur_w, bits,
                               _sub_image(br, mw, mh), mw))
        elif ttype == 1:  # cross-color
            bits = br.read(3) + 2
            mw = (cur_w + (1 << bits) - 1) >> bits
            mh = (h + (1 << bits) - 1) >> bits
            transforms.append(("color", cur_w, bits,
                               _sub_image(br, mw, mh), mw))
        elif ttype == 2:  # subtract green
            transforms.append(("subg", cur_w, 0, None, 0))
        else:  # color indexing
            n_colors = br.read(8) + 1
            pal = _sub_image(br, n_colors, 1)
            # palette entries are delta-coded per channel
            acc = 0
            for i in range(n_colors):
                p, q = int(pal[i]), acc
                acc = (((p >> 24) + (q >> 24) & 0xFF) << 24 |
                       ((p >> 16) + (q >> 16) & 0xFF) << 16 |
                       ((p >> 8) + (q >> 8) & 0xFF) << 8 |
                       (p + q) & 0xFF)
                pal[i] = acc
            if n_colors <= 2:
                width_bits = 3
            elif n_colors <= 4:
                width_bits = 2
            elif n_colors <= 16:
                width_bits = 1
            else:
                width_bits = 0
            full_w = cur_w
            cur_w = (cur_w + (1 << width_bits) - 1) >> width_bits
            transforms.append(("index", full_w, width_bits, pal, cur_w))
    px = _decode_pixels(br, cur_w, h, True)
    for kind, t_w, bits, payload, mw in reversed(transforms):
        if kind == "index":
            px = _inv_color_index(px, t_w, h, mw, payload, bits)
        elif kind == "subg":
            _inv_subtract_green(px)
        elif kind == "pred":
            _inv_predictor(px, t_w, h, bits, payload, mw)
        else:
            _inv_color_transform(px, t_w, h, bits, payload, mw)
    return w, h, alpha_hint, px


def decode_webp(raw: bytes) -> Tuple[int, int, int, np.ndarray]:
    """Decode a lossless WebP -> (h, w, channels, uint8 (h, w, c) array),
    the `multimodal.real_image_decoder` contract. Lossy 'VP8 ' payloads and
    animations raise ValueError (different codec, clearly reported)."""
    raw = bytes(raw or b"")
    if len(raw) < 20 or raw[:4] != b"RIFF" or raw[8:12] != b"WEBP":
        raise ValueError("not a WebP container")
    vp8l = None
    for fourcc, body in Reader(raw, "webp", 12).riff_chunks():
        if fourcc == b"VP8L":
            vp8l = body
            break
        if fourcc == b"ANIM" or fourcc == b"ANMF":
            raise ValueError("animated WebP is not supported here")
        if fourcc == b"VP8 ":
            raise ValueError(
                "lossy WebP (VP8) requires a DCT video codec; only "
                "lossless VP8L decodes here — inject a native decoder")
    if vp8l is None:
        raise ValueError("WebP container has no VP8L chunk")
    w, h, alpha_hint, px = decode_vp8l(vp8l)
    a = (px >> 24 & 0xFF).astype(np.uint8).reshape(h, w)
    r = (px >> 16 & 0xFF).astype(np.uint8).reshape(h, w)
    g = (px >> 8 & 0xFF).astype(np.uint8).reshape(h, w)
    b = (px & 0xFF).astype(np.uint8).reshape(h, w)
    if alpha_hint or not (a == 255).all():
        return h, w, 4, np.stack([r, g, b, a], axis=2)
    return h, w, 3, np.stack([r, g, b], axis=2)


def decode_webp_alpha(raw: bytes) -> np.ndarray:
    """Decode the ALPH chunk of an extended WebP whose alpha plane is
    VP8L-compressed (compression method 1) -> uint8 (h, w) alpha. Used as
    a real-file conformance probe: the stream comes from libwebp, not from
    this module's encoder. Filtering methods 1-3 are inverted per the
    container spec."""
    raw = bytes(raw)
    if raw[:4] != b"RIFF" or raw[8:12] != b"WEBP" or raw[12:16] != b"VP8X":
        raise ValueError("not an extended WebP (VP8X) container")
    w = h = alph = None
    for fourcc, body in Reader(raw, "webp", 12).riff_chunks():
        if fourcc == b"VP8X":
            body.skip(4, "VP8X flags")
            w = 1 + body.uint(3, "little", "canvas width")
            h = 1 + body.uint(3, "little", "canvas height")
        elif fourcc == b"ALPH":
            alph = body
            break
    if alph is None:
        raise ValueError("WebP has no ALPH chunk")
    hdr = alph.u8("ALPH header")
    if hdr & 3 != 1:
        raise ValueError("ALPH chunk is not VP8L-compressed")
    filt = (hdr >> 2) & 3
    _, _, _, px = decode_vp8l(alph, headerless_size=(w, h))
    plane = ((px >> 8) & 0xFF).astype(np.int64).reshape(h, w)
    if filt:
        for y in range(h):
            for x in range(w):
                if filt == 1:
                    p = plane[y, x - 1] if x else (plane[y - 1, 0]
                                                   if y else 0)
                elif filt == 2:
                    p = plane[y - 1, x] if y else (plane[0, x - 1]
                                                   if x else 0)
                else:
                    if x == 0 and y == 0:
                        p = 0
                    elif y == 0:
                        p = plane[0, x - 1]
                    elif x == 0:
                        p = plane[y - 1, 0]
                    else:
                        p = min(255, max(0, int(plane[y, x - 1])
                                         + int(plane[y - 1, x])
                                         - int(plane[y - 1, x - 1])))
                plane[y, x] = (plane[y, x] + p) & 0xFF
    return plane.astype(np.uint8)


# ---------------------------------------------------------------------------
# encoder (literal-only fixtures; lossless round-trip)
# ---------------------------------------------------------------------------


def _balanced_lengths(used: List[int], alphabet: int) -> List[int]:
    """Complete canonical code over the used symbols: with n symbols and
    L = ceil(log2 n), the first 2^L - n symbols get length L-1, the rest
    length L (Kraft sum exactly 1)."""
    n = len(used)
    lengths = [0] * alphabet
    if n == 1:
        lengths[used[0]] = 1  # handled via the simple-code path anyway
        return lengths
    L = max(1, (n - 1).bit_length())
    k = (1 << L) - n
    for i, s in enumerate(sorted(used)):
        lengths[s] = L - 1 if i < k else L
    return lengths


def _canonical_codes(lengths: List[int]) -> Dict[int, Tuple[int, int]]:
    nz = sorted((l, s) for s, l in enumerate(lengths) if l > 0)
    codes = {}
    code = 0
    prev = nz[0][0] if nz else 0
    for l, s in nz:
        code <<= (l - prev)
        prev = l
        codes[s] = (l, code)
        code += 1
    return codes


def _write_code_bits(bw: BitWriter, length: int, code: int) -> None:
    for i in range(length - 1, -1, -1):  # MSB of the code first
        bw.write((code >> i) & 1, 1)


def _write_prefix_code(bw: BitWriter, lengths: List[int],
                       used: List[int]) -> Dict[int, Tuple[int, int]]:
    """Serialize one prefix code (simple form for <=2 symbols, else the
    normal code-length-coded form with no RLE) and return the symbol ->
    (length, code) map for payload writing."""
    if len(used) == 1:
        s = used[0]
        bw.write(1, 1)  # simple
        bw.write(0, 1)  # one symbol
        if s <= 1:
            bw.write(0, 1)  # first symbol in 1 bit
            bw.write(s, 1)
        else:
            bw.write(1, 1)
            bw.write(s, 8)
        return {s: (0, 0)}
    if len(used) == 2:
        s0, s1 = sorted(used)
        bw.write(1, 1)
        bw.write(1, 1)  # two symbols
        bw.write(1, 1)  # 8-bit first symbol
        bw.write(s0, 8)
        bw.write(s1, 8)
        return {s0: (1, 0), s1: (1, 1)}
    bw.write(0, 1)  # normal code
    cl_used = sorted({l for l in lengths})
    cl_lengths = _balanced_lengths(cl_used, 19)
    if len(cl_used) == 1:
        # single-symbol code-length code is zero bits per entry
        cl_codes = {cl_used[0]: (0, 0)}
    else:
        cl_codes = _canonical_codes(cl_lengths)
    need = max(K_CODE_LENGTH_ORDER.index(s) for s in cl_used) + 1
    num_cl = max(4, need)
    bw.write(num_cl - 4, 4)
    for i in range(num_cl):
        bw.write(cl_lengths[K_CODE_LENGTH_ORDER[i]], 3)
    bw.write(0, 1)  # no max_symbol shortcut
    for l in lengths:
        cl_len, cl_code = cl_codes[l]
        _write_code_bits(bw, cl_len, cl_code)
    return _canonical_codes(lengths)


def encode_vp8l(img: np.ndarray) -> bytes:
    """uint8 (h, w), (h, w, 3), or (h, w, 4) -> VP8L stream (with header).
    Literal-only: valid, complete prefix codes; no transforms, no LZ77."""
    img = np.asarray(img, np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        raise ValueError("VP8L: dimensions must be in [1, 16384]")
    if c == 1:
        r = g = b = img[:, :, 0]
        a = np.full((h, w), 255, np.uint8)
    elif c == 3:
        r, g, b = img[:, :, 0], img[:, :, 1], img[:, :, 2]
        a = np.full((h, w), 255, np.uint8)
    elif c == 4:
        r, g, b, a = (img[:, :, i] for i in range(4))
    else:
        raise ValueError(f"VP8L: cannot encode {c}-channel image")
    has_alpha = not (a == 255).all()
    bw = BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if has_alpha else 0, 1)
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no transforms
    _write_literal_pixels(bw, g.reshape(-1), r.reshape(-1),
                          b.reshape(-1), a.reshape(-1))
    return bw.getvalue()


def _write_literal_pixels(bw: BitWriter, g: np.ndarray, r: np.ndarray,
                          b: np.ndarray, a: np.ndarray,
                          top_level: bool = True) -> None:
    """One literal-only entropy-coded image body (no meta, no cache,
    balanced trees). Shared by the encoder and the spec-following
    test-local writers that prepend transform headers. Sub-images
    (``top_level=False``) carry no meta-prefix bit per the spec."""
    if top_level:
        bw.write(0, 1)  # no meta prefix codes
    bw.write(0, 1)  # no color cache
    flat = [g, r, b, a]
    trees = []
    for arr, alphabet in zip(flat, (280, 256, 256, 256)):
        used = sorted(int(v) for v in np.unique(arr))
        codes = _write_prefix_code(bw, _balanced_lengths(used, alphabet),
                                   used)
        trees.append(codes)
    _write_prefix_code(bw, [0] * 40, [0])  # distance tree: never read
    green_c, red_c, blue_c, alpha_c = trees
    for i in range(len(g)):
        for codes, arr in ((green_c, flat[0]), (red_c, flat[1]),
                           (blue_c, flat[2]), (alpha_c, flat[3])):
            l, code = codes[int(arr[i])]
            if l:
                _write_code_bits(bw, l, code)


def webp_bytes(img: np.ndarray) -> bytes:
    """Encode an image as a lossless WebP file (RIFF + VP8L chunk)."""
    stream = encode_vp8l(img)
    pad = b"\x00" if len(stream) & 1 else b""
    body = (b"WEBP" + b"VP8L" + struct.pack("<I", len(stream))
            + stream + pad)
    return b"RIFF" + struct.pack("<I", len(body)) + body
