"""Ogg container (Opus / Vorbis) metadata: bounded page walk, no decode.

Opus-in-Ogg is the dominant codec for speech/ASR corpora and Vorbis its
older sibling; both need external libraries for PCM decode (the pluggable
seam), but everything a contract checks lives in the container (RFC 3533
page layout + the codec id headers):

    page:  "OggS" ver type granule(8 LE) serial(4) seq(4) crc(4)
           nsegs(1) segtable(nsegs) payload
    BOS page payload: "OpusHead" (channels, preskip, input sample rate)
                      or "\\x01vorbis" (channels, sample rate)
    last page granule = total samples (Opus: at 48 kHz, minus preskip;
                        Vorbis: at the stream rate)

CRC (Ogg's own CRC-32, poly 0x04C11DB7, init 0, unreflected, CRC field
zeroed) is verified for the pages the metadata derives from — the header
pages and the final (granule-bearing) page — by default, or for EVERY page
in ``check_crc="all"`` audit mode (a per-byte pure-Python pass over the
file; the default keeps the census walk header-speed). Page sequence gaps,
a missing EOS page (boundary truncation), corrupt pages, or bad magics
raise ``ValueError`` → per-row decode_error upstream.

Census convention: ``ogg_meta_triple`` reports ``sr_hz`` as the
INPUT/stream rate (what a contract's ``sr_hz`` column declares: Opus
carries the original input rate in OpusHead even though decode is always
48 kHz) and ``n_samples`` at that rate, so ``dur_ms`` math matches the
WAV/FLAC/MP3 census rows. :func:`ogg_opus_bytes` /
:func:`ogg_vorbis_bytes` write structurally valid fixtures (stub packet
payloads, NOT decodable audio) with correct CRCs.
"""

from __future__ import annotations

import struct
from typing import Any, Dict, List, Tuple

from .binread import Reader

__all__ = ["parse_ogg_meta", "ogg_meta_triple", "ogg_opus_bytes",
           "ogg_vorbis_bytes", "is_ogg"]


def is_ogg(raw: bytes) -> bool:
    return raw is not None and len(raw) >= 4 and bytes(raw[:4]) == b"OggS"


def _crc_table() -> List[int]:
    table = []
    for i in range(256):
        r = i << 24
        for _ in range(8):
            r = ((r << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if r & 0x80000000 \
                else (r << 1) & 0xFFFFFFFF
        table.append(r)
    return table


_CRC = _crc_table()


def _ogg_crc(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _CRC[((crc >> 24) & 0xFF) ^ b]
    return crc


def _verify_page_crc(buf: bytes, page_start: int, page_end: int,
                     crc: int) -> None:
    zeroed = bytearray(buf[page_start:page_end])
    zeroed[22:26] = b"\x00\x00\x00\x00"
    if _ogg_crc(bytes(zeroed)) != crc:
        raise ValueError(f"ogg: page CRC mismatch at byte {page_start}")


def _iter_pages(buf: bytes, check_crc: str = "edges"):
    """Yield (header_type, granule, serial, seq, payload_start, payload_end,
    page_start, crc) per page.

    ``check_crc``: ``"all"`` verifies every page (O(file bytes) of pure
    Python — the bit-rot audit mode); ``"edges"`` (default) verifies the
    header pages (seq < 2: codec id + tags — where sr/channels come from)
    and leaves the caller to verify the final page (where the duration-
    determining granule lives); ``"none"`` skips CRC. The page STRUCTURE
    (sync, version, sizes) is always validated."""
    r = Reader(buf, "ogg")
    while r.left():
        p = r.pos
        if r.peek(4) != b"OggS":
            r.fail("lost page sync")
        _magic, version, htype, granule, serial, seq, crc, nsegs = r.unpack(
            "<4sBBqIIIB", "page header")
        if version != 0:
            r.fail(f"unsupported page version {version}", p)
        payload = r.sub(sum(r.take(nsegs, "segment table")), "page payload")
        if check_crc == "all" or (check_crc == "edges" and seq < 2):
            _verify_page_crc(buf, p, payload.end, crc)
        yield htype, granule, serial, seq, payload.pos, payload.end, p, crc


def parse_ogg_meta(raw: bytes, check_crc: str = "edges") -> Dict[str, Any]:
    """Page walk -> ``{codec, sr_hz, channels, n_samples, duration_ms,
    n_pages, preskip}`` for the FIRST logical stream (chained/multiplexed
    streams beyond it are rejected — a training-data clip is one stream).

    Opus: ``sr_hz`` is OpusHead's input sample rate (the RFC 7845-legal
    "unspecified" value 0 falls back to the 48 kHz decode rate); samples =
    (final granule - preskip) rescaled from the 48 kHz granule clock to
    ``sr_hz``. Vorbis: granules are already at the stream rate.

    Page sequence numbers must be contiguous and the final page must carry
    the EOS flag — a stream truncated at a page boundary (all CRCs intact)
    would otherwise silently undercount samples. ``check_crc``: ``"edges"``
    (default) CRC-verifies the header pages + the final page — the pages
    the reported metadata actually derives from — keeping the census walk
    header-speed; ``"all"`` audits every page (O(file bytes) pure Python);
    ``"none"`` skips CRC."""
    if not is_ogg(raw):
        raise ValueError("ogg: not an Ogg container")
    buf = bytes(raw)
    codec = None
    sr = channels = None
    preskip = 0
    serial0 = None
    last_granule = None
    n_pages = 0
    prev_seq = None
    last_htype = 0
    last_span = None
    for htype, granule, serial, seq, ps, pe, p0, crc in _iter_pages(buf, check_crc):
        n_pages += 1
        if serial0 is None:
            if not (htype & 0x02):
                raise ValueError("ogg: first page is not BOS")
            serial0 = serial
            head = Reader(buf, "ogg", ps, pe, "codec id header")
            if head.peek(8) == b"OpusHead":
                codec = "opus"
                channels, preskip, sr = head.unpack("<9xBHI3x", "OpusHead")
                sr = sr or 48000
            elif head.peek(7) == b"\x01vorbis":
                codec = "vorbis"
                channels, sr = head.unpack("<11xBI", "vorbis id header")
            else:
                raise ValueError("ogg: unknown codec id packet")
        elif serial != serial0:
            raise ValueError("ogg: multiplexed/chained streams unsupported")
        if prev_seq is not None and seq != prev_seq + 1:
            raise ValueError(
                f"ogg: page sequence jump {prev_seq} -> {seq} (pages lost)")
        prev_seq = seq
        last_htype = htype
        last_span = (p0, pe, crc)
        if granule >= 0:
            last_granule = granule
    if codec is None:
        raise ValueError("ogg: no pages")
    if not (last_htype & 0x04):
        raise ValueError("ogg: stream has no EOS page (truncated at a "
                         "page boundary)")
    if check_crc == "edges" and last_span is not None:
        _verify_page_crc(buf, last_span[0], last_span[1], last_span[2])
    if sr == 0:
        raise ValueError("ogg: zero sample rate in codec header")
    if last_granule is None:
        n_samples = 0
    elif codec == "opus":
        n48 = max(0, last_granule - preskip)
        n_samples = round(n48 * sr / 48000)
    else:
        n_samples = last_granule
    return {
        "codec": codec, "sr_hz": sr, "channels": channels,
        "n_samples": n_samples,
        "duration_ms": n_samples * 1000.0 / sr,
        "n_pages": n_pages, "preskip": preskip,
    }


def ogg_meta_triple(raw: bytes) -> Tuple[int, str, int]:
    """The :func:`dcspark.audio.parse_wav_meta` census shape."""
    m = parse_ogg_meta(raw)
    return m["sr_hz"], m["codec"], m["n_samples"]


def _page(htype: int, granule: int, serial: int, seq: int,
          packets: List[bytes]) -> bytes:
    segs = bytearray()
    payload = b"".join(packets)
    for pkt in packets:
        ln = len(pkt)
        while ln >= 255:
            segs.append(255)
            ln -= 255
        segs.append(ln)
    head = (b"OggS" + b"\x00" + bytes([htype])
            + struct.pack("<q", granule) + struct.pack("<II", serial, seq)
            + b"\x00\x00\x00\x00" + bytes([len(segs)]) + bytes(segs))
    crc = _ogg_crc(head + payload)
    return head[:22] + struct.pack("<I", crc) + head[26:] + payload


def ogg_opus_bytes(sr: int = 16000, n_samples: int = 16000,
                   channels: int = 1, preskip: int = 312,
                   frames_per_page: int = 50, serial: int = 0x6473) -> bytes:
    """A structurally valid Ogg-Opus stream: BOS OpusHead page, OpusTags
    page, data pages of 20 ms stub packets with correct granule positions
    and CRCs. ``n_samples`` is at ``sr``; granules run on the 48 kHz clock
    per the Opus-in-Ogg spec."""
    head = (b"OpusHead" + bytes([1, channels])
            + struct.pack("<H", preskip) + struct.pack("<I", sr)
            + struct.pack("<h", 0) + b"\x00")
    tags = (b"OpusTags" + struct.pack("<I", 7) + b"dcspark"
            + struct.pack("<I", 0))
    pages = [_page(0x02, 0, serial, 0, [head]),
             _page(0x00, 0, serial, 1, [tags])]
    n48 = round(n_samples * 48000 / sr)
    frame48 = 960  # 20 ms at 48 kHz
    done = 0
    seq = 2
    while done < n48:
        take = min(frames_per_page, (n48 - done + frame48 - 1) // frame48)
        done = min(n48, done + take * frame48)
        granule = preskip + done
        eos = 0x04 if done >= n48 else 0x00
        pkts = [b"\x00" * 12 for _ in range(take)]  # stub opus packets
        pages.append(_page(eos, granule, serial, seq, pkts))
        seq += 1
    if n48 == 0:
        pages.append(_page(0x04, preskip, serial, seq, [b"\x00"]))
    return b"".join(pages)


def ogg_vorbis_bytes(sr: int = 44100, n_samples: int = 44100,
                     channels: int = 2, serial: int = 0x7662) -> bytes:
    """A structurally valid Ogg-Vorbis stream (id header + stub data)."""
    ident = (b"\x01vorbis" + struct.pack("<I", 0) + bytes([channels])
             + struct.pack("<I", sr) + struct.pack("<iii", -1, 128000, -1)
             + b"\xb8" + b"\x01")
    pages = [_page(0x02, 0, serial, 0, [ident]),
             _page(0x00, 0, serial, 1, [b"\x03vorbis" + b"\x00" * 8,
                                        b"\x05vorbis" + b"\x00" * 8]),
             _page(0x04, n_samples, serial, 2, [b"\x00" * 16])]
    return b"".join(pages)
