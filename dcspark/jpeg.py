"""Baseline JPEG codec in stdlib + numpy — no external image libraries.

Implements ITU-T T.81 baseline sequential DCT (the format >99% of real-world
JPEGs use): SOI/APP/DQT/SOF0/DHT/DRI/SOS marker parsing, Huffman entropy
decode with byte unstuffing and restart markers, dequantization, inverse
zigzag, orthonormal 8x8 IDCT (batched numpy matmul), chroma upsampling for
4:2:0 / 4:2:2 / 4:4:4, and BT.601 YCbCr->RGB. The encoder is the exact
counterpart (Annex K quantization + Huffman tables, IJG quality scaling,
4:2:0 or 4:4:4 subsampling, grayscale) so fixtures can be synthesized without
external data and round-trips are verifiable by PSNR.

Engine-extension codec for the multimodal column family (SURVEY.md §2.5);
the reference has no image path. The DCT transform stage is batched numpy
(one einsum over all blocks of a component); the entropy coder is per-symbol
Python, which is fine for the validation/fixture path this serves — at
training-corpus scale you'd inject a native decoder via multimodal's
``decoder=`` seam, with THIS implementation as the always-available fallback
and ground truth.
"""

from __future__ import annotations

import struct
from typing import Dict, List, Optional, Tuple

import numpy as np

from .binread import Reader

# ---------------------------------------------------------------------------
# shared tables
# ---------------------------------------------------------------------------

#: zigzag scan order: position k of the scan reads flat index ZIGZAG[k] of the
#: row-major 8x8 block (ITU-T T.81 Figure 5)
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

_UNZIGZAG = np.argsort(ZIGZAG)

# Annex K.1/K.2 reference quantization tables (quality 50)
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.float64).reshape(8, 8)

QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.float64).reshape(8, 8)

# Annex K.3-K.6 "typical" Huffman tables: (bits[1..16], symbol values)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

for _b, _v in ((DC_LUMA_BITS, DC_LUMA_VALS), (DC_CHROMA_BITS, DC_CHROMA_VALS),
               (AC_LUMA_BITS, AC_LUMA_VALS), (AC_CHROMA_BITS, AC_CHROMA_VALS)):
    assert sum(_b) == len(_v), "huffman bits/values mismatch"


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix A: freq = A @ spatial @ A.T, with
    the JPEG-conventional DC = 8 * block mean."""
    k = np.arange(8)[:, None]
    n = np.arange(8)[None, :]
    a = np.sqrt(0.25) * np.cos(np.pi * (2 * n + 1) * k / 16.0)
    a[0] /= np.sqrt(2.0)
    return a


_A = _dct_matrix()


def _huff_decode_map(bits: List[int], vals: List[int]) -> Dict[Tuple[int, int], int]:
    """(code_length, code) -> symbol, built by the canonical T.81 procedure."""
    out: Dict[Tuple[int, int], int] = {}
    code = 0
    vi = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[vi]
            vi += 1
            code += 1
        code <<= 1
    return out


def _huff_encode_map(bits: List[int], vals: List[int]) -> Dict[int, Tuple[int, int]]:
    """symbol -> (code, code_length)."""
    return {sym: (code, ln) for (ln, code), sym in _huff_decode_map(bits, vals).items()}


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: map t-bit magnitude to signed coefficient."""
    return v - (1 << t) + 1 if v < (1 << (t - 1)) else v


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 unstuffing;
    stops at any non-RST marker and exposes restart handling."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0
        self.marker: Optional[int] = None

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("truncated entropy-coded data")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2
            elif nxt is not None and 0xD0 <= nxt <= 0xD7:
                # restart marker reached mid-read: report, do not consume bits
                self.marker = nxt
                raise ValueError("hit restart marker while reading bits")
            else:
                self.marker = nxt
                raise ValueError("truncated scan: hit marker")
        else:
            self.pos += 1
        self.bitbuf = (self.bitbuf << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_symbol(self, table: Dict[Tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid huffman code")

    def sync_restart(self, expected: int) -> None:
        """Byte-align and consume the next RSTn marker."""
        self.bitbuf = 0
        self.nbits = 0
        self.marker = None
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                if d[self.pos + 1] != 0xD0 + (expected & 7):
                    raise ValueError("restart marker out of sequence")
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("missing restart marker")


class _Component:
    __slots__ = ("cid", "h", "v", "tq", "td", "ta", "blocks", "bw", "bh", "dc_pred")

    def __init__(self, cid: int, h: int, v: int, tq: int):
        self.cid, self.h, self.v, self.tq = cid, h, v, tq
        self.td = self.ta = 0
        self.dc_pred = 0


def decode_jpeg(raw: bytes) -> Tuple[int, int, int, np.ndarray]:
    """Decode a baseline JPEG -> (height, width, channels, uint8 pixels).

    channels is 1 (grayscale, shape (h, w)) or 3 (RGB, shape (h, w, 3)).
    Raises ValueError on malformed/unsupported streams (progressive SOF2,
    arithmetic coding, 12-bit precision).
    """
    if raw is None or len(raw) < 4 or raw[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream (missing SOI)")
    return _decode_markers(Reader(bytes(raw), "jpeg", 2))


def _decode_markers(r: Reader) -> Tuple[int, int, int, np.ndarray]:
    qtables: Dict[int, np.ndarray] = {}
    htables: Dict[Tuple[int, int], Dict[Tuple[int, int], int]] = {}
    comps: List[_Component] = []
    height = width = 0
    restart_interval = 0
    while r.left() >= 4:
        if r.u8() != 0xFF:
            raise ValueError("marker expected")
        marker = r.u8()
        if marker == 0xD8:
            continue
        seg = r.sub(r.be16("segment length") - 2, f"marker 0x{marker:02X}")
        if marker == 0xDB:  # DQT
            while seg.left():
                pq_tq = seg.u8()
                if pq_tq >> 4:
                    raise ValueError("16-bit quant tables unsupported (baseline)")
                q = np.zeros(64)
                q[ZIGZAG] = np.frombuffer(seg.take(64, "quant table"),
                                          np.uint8)  # stored in zigzag order
                qtables[pq_tq & 0xF] = q.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            while seg.left():
                tc_th = seg.u8()
                bits = list(seg.take(16, "huffman code counts"))
                vals = list(seg.take(sum(bits), "huffman symbols"))
                htables[(tc_th >> 4, tc_th & 0xF)] = _huff_decode_map(bits, vals)
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            precision, height, width, nc = seg.unpack(">BHHB", "frame header")
            if precision != 8:
                raise ValueError(f"{precision}-bit precision unsupported")
            comps = []
            for _ in range(nc):
                cid, hv, tq = seg.unpack("3B", "frame component")
                comps.append(_Component(cid, hv >> 4, hv & 0xF, tq))
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError("only baseline sequential JPEG is supported")
        elif marker == 0xDD:  # DRI
            restart_interval = seg.be16()
        elif marker == 0xDA:  # SOS — entropy data follows
            if any(c.h < 1 or c.v < 1 for c in comps):
                raise ValueError("SOF sampling factor of zero")
            order = []
            for _ in range(seg.u8("scan component count")):
                cs, tt = seg.unpack("2B", "scan component")
                comp = next((c for c in comps if c.cid == cs), None)
                if comp is None:
                    raise ValueError(f"SOS references unknown component {cs}")
                comp.td, comp.ta = tt >> 4, tt & 0xF
                order.append(comp)
            pixels = _decode_scan(r, order, comps, qtables, htables, height,
                                  width, restart_interval)
            if len(comps) == 1:
                return height, width, 1, pixels[..., 0]
            return height, width, 3, pixels
        elif marker == 0xD9:
            break
    raise ValueError("no SOS scan found")


def _decode_scan(r: Reader, order, comps, qtables, htables, height, width,
                 restart_interval) -> np.ndarray:
    """Decode the scan whose entropy-coded data starts at ``r``'s cursor."""
    hmax = max(c.h for c in comps)
    vmax = max(c.v for c in comps)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    # every block codes at least a DC and an EOB symbol (2 bits), so the
    # declared raster must fit the bytes left before anything is allocated
    r.count(mcus_x * mcus_y * sum(c.h * c.v for c in order), 1 / 4,
            "scan block")
    r.claim(mcus_x * mcus_y * sum(c.h * c.v for c in comps) * 64 * 8,
            "coefficient blocks")
    for c in comps:
        c.bw = mcus_x * c.h
        c.bh = mcus_y * c.v
        c.blocks = np.zeros((c.bh * c.bw, 64))
    br = _BitReader(r.buf, r.pos)
    mcu_i = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                br.sync_restart(mcu_i // restart_interval - 1)
                for c in comps:
                    c.dc_pred = 0
            for c in order:
                dct = htables.get((0, c.td))
                act = htables.get((1, c.ta))
                if dct is None or act is None:
                    raise ValueError("missing huffman table for scan")
                for by in range(c.v):
                    for bx in range(c.h):
                        coeff = _decode_block(br, dct, act)
                        coeff[0] += c.dc_pred
                        c.dc_pred = coeff[0]
                        row = my * c.v + by
                        col = mx * c.h + bx
                        c.blocks[row * c.bw + col] = coeff
            mcu_i += 1
    # dequantize + inverse zigzag + batched IDCT per component
    planes = []
    for c in comps:
        q = qtables.get(c.tq)
        if q is None:
            raise ValueError("missing quantization table")
        deq = (c.blocks[:, _UNZIGZAG].reshape(-1, 8, 8)
               * q[None, :, :])
        spatial = np.einsum("ij,njk,kl->nil", _A.T, deq, _A) + 128.0
        plane = (spatial.reshape(c.bh, c.bw, 8, 8)
                 .transpose(0, 2, 1, 3)
                 .reshape(c.bh * 8, c.bw * 8))
        # upsample subsampled chroma to full MCU resolution, then crop
        if c.h != hmax or c.v != vmax:
            plane = np.repeat(np.repeat(plane, vmax // c.v, axis=0),
                              hmax // c.h, axis=1)
        planes.append(plane[:height, :width])
    img = np.stack(planes, axis=-1)
    if len(comps) == 3:
        y, cb, cr = img[..., 0], img[..., 1] - 128.0, img[..., 2] - 128.0
        img = np.stack([y + 1.402 * cr,
                        y - 0.344136 * cb - 0.714136 * cr,
                        y + 1.772 * cb], axis=-1)
    return np.clip(np.rint(img), 0, 255).astype(np.uint8)


def _decode_block(br: _BitReader, dct, act) -> np.ndarray:
    coeff = np.zeros(64)
    t = br.read_symbol(dct)
    coeff[0] = _extend(br.read_bits(t), t) if t else 0
    k = 1
    while k < 64:
        rs = br.read_symbol(act)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL: 16 zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC run past end of block")
        coeff[k] = _extend(br.read_bits(s), s)
        k += 1
    return coeff


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0

    def write(self, code: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (code & ((1 << nbits) - 1))
        self.nacc += nbits
        while self.nacc >= 8:
            self.nacc -= 8
            b = (self.acc >> self.nacc) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
        self.acc &= (1 << self.nacc) - 1

    def flush(self) -> None:
        if self.nacc:
            self.write(0x7F, 8 - self.nacc)  # pad with 1-bits


def _scale_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling of an Annex K table."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip(np.floor((base * scale + 50) / 100), 1, 255)


def _mag_bits(v: int) -> Tuple[int, int]:
    """signed value -> (category t, t-bit code)."""
    t = int(abs(v)).bit_length()
    return t, (v if v >= 0 else v + (1 << t) - 1) & ((1 << t) - 1)


def _encode_plane_blocks(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Pad to 8-multiples (edge replicate), forward DCT all blocks, quantize,
    zigzag — returns (n_blocks_y * n_blocks_x, 64) int32 in scan order."""
    h, w = plane.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(plane.astype(np.float64) - 128.0,
                    ((0, ph - h), (0, pw - w)), mode="edge")
    blocks = (padded.reshape(ph // 8, 8, pw // 8, 8)
              .transpose(0, 2, 1, 3).reshape(-1, 8, 8))
    freq = np.einsum("ij,njk,kl->nil", _A, blocks, _A.T)
    quant = np.rint(freq / q[None, :, :]).astype(np.int32)
    return quant.reshape(-1, 64)[:, ZIGZAG]


def _write_block(bw: _BitWriter, coeff: np.ndarray, dc_pred: int,
                 dc_map, ac_map) -> int:
    diff = int(coeff[0]) - dc_pred
    t, code = _mag_bits(diff)
    c, ln = dc_map[t]
    bw.write(c, ln)
    if t:
        bw.write(code, t)
    run = 0
    nz = np.nonzero(coeff[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for k in range(1, last + 1):
        v = int(coeff[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_map[0xF0]  # ZRL
            bw.write(c, ln)
            run -= 16
        t, code = _mag_bits(v)
        c, ln = ac_map[(run << 4) | t]
        bw.write(c, ln)
        bw.write(code, t)
        run = 0
    if last < 63:
        c, ln = ac_map[0x00]  # EOB
        bw.write(c, ln)
    return int(coeff[0])


def jpeg_bytes(pixels: np.ndarray, quality: int = 85,
               subsampling: str = "4:2:0",
               restart_interval: int = 0) -> bytes:
    """Encode uint8 pixels (h, w) grayscale or (h, w, 3) RGB as baseline JPEG.

    ``subsampling``: "4:2:0" (2x2 chroma, the real-world default) or "4:4:4".
    ``restart_interval`` > 0 emits a DRI segment and RSTn markers every that
    many MCUs (what camera firmware writes for error resilience). Uses the
    Annex K tables with IJG quality scaling — the same bitstream shape every
    mainstream encoder emits, so the decoder is exercised on representative
    input.
    """
    pixels = np.asarray(pixels, dtype=np.uint8)
    gray = pixels.ndim == 2
    if not gray and (pixels.ndim != 3 or pixels.shape[2] != 3):
        raise ValueError("expected (h, w) grayscale or (h, w, 3) RGB")
    if subsampling not in ("4:2:0", "4:4:4"):
        raise ValueError("subsampling must be '4:2:0' or '4:4:4'")
    h, w = pixels.shape[:2]
    ql = _scale_quant(QUANT_LUMA, quality)
    qc = _scale_quant(QUANT_CHROMA, quality)

    if gray:
        planes = [pixels.astype(np.float64)]
        samp = [(1, 1)]
        qsel = [0]
    else:
        rgb = pixels.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsampling == "4:2:0":
            ph, pw = -(-h // 2) * 2, -(-w // 2) * 2
            cbp = np.pad(cb, ((0, ph - h), (0, pw - w)), mode="edge")
            crp = np.pad(cr, ((0, ph - h), (0, pw - w)), mode="edge")
            cb = cbp.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            cr = crp.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1), (1, 1), (1, 1)]
        planes = [y, cb, cr]
        qsel = [0, 1, 1]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    # per-component quantized block grids, padded to full MCU coverage
    grids = []
    for plane, (sh, sv), qs in zip(planes, samp, qsel):
        q = ql if qs == 0 else qc
        bw_blocks = mcus_x * sh
        bh_blocks = mcus_y * sv
        # crop/extend the plane so its block grid is exactly bh x bw blocks
        tgt_h, tgt_w = bh_blocks * 8, bw_blocks * 8
        ph, pw = plane.shape
        plane = np.pad(plane, ((0, max(0, tgt_h - ph)), (0, max(0, tgt_w - pw))),
                       mode="edge")[:tgt_h, :tgt_w]
        blocks = _encode_plane_blocks(plane, q)
        grids.append(blocks.reshape(bh_blocks, bw_blocks, 64))

    # entropy-code in MCU interleave order
    dc_maps = [_huff_encode_map(DC_LUMA_BITS, DC_LUMA_VALS),
               _huff_encode_map(DC_CHROMA_BITS, DC_CHROMA_VALS)]
    ac_maps = [_huff_encode_map(AC_LUMA_BITS, AC_LUMA_VALS),
               _huff_encode_map(AC_CHROMA_BITS, AC_CHROMA_VALS)]
    bw = _BitWriter()
    preds = [0] * len(planes)
    mcu_i = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + ((mcu_i // restart_interval - 1) & 7)])
                preds = [0] * len(planes)
            mcu_i += 1
            for ci, (sh, sv) in enumerate(samp):
                hsel = 0 if (gray or ci == 0) else 1
                for by in range(sv):
                    for bx in range(sh):
                        coeff = grids[ci][my * sv + by, mx * sh + bx]
                        preds[ci] = _write_block(
                            bw, coeff, preds[ci], dc_maps[hsel], ac_maps[hsel])
    bw.flush()

    # assemble marker segments
    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def dqt(tq: int, q: np.ndarray) -> bytes:
        return seg(0xDB, bytes([tq]) + bytes(
            int(q.reshape(-1)[ZIGZAG[i]]) for i in range(64)))

    def dht(tc: int, th: int, bits: List[int], vals: List[int]) -> bytes:
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")  # APP0
    out += dqt(0, ql)
    if not gray:
        out += dqt(1, qc)
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([len(planes)])
    for ci, (sh, sv) in enumerate(samp):
        sof += bytes([ci + 1, (sh << 4) | sv, qsel[ci]])
    out += seg(0xC0, sof)
    out += dht(0, 0, DC_LUMA_BITS, DC_LUMA_VALS)
    out += dht(1, 0, AC_LUMA_BITS, AC_LUMA_VALS)
    if not gray:
        out += dht(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS)
        out += dht(1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([len(planes)])
    for ci in range(len(planes)):
        hsel = 0 if (gray or ci == 0) else 1
        sos += bytes([ci + 1, (hsel << 4) | hsel])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 ** 2 / mse)
