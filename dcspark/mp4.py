"""MP4 / ISO-BMFF container metadata: bounded box walk, no decode.

Most real-world video is H.264/H.265-in-MP4 — codecs whose inter-frame
decode needs external libraries (the documented pluggable seam in
``multimodal.real_video_decoder``). But the CONTAINER metadata a
``type: video`` contract rule checks (dims / fps / frame count / duration)
lives entirely in the ``moov`` box tree, readable with nothing but
a bounded byte cursor (``dcspark.binread``):

    moov
      mvhd                  movie timescale + duration
      trak                  one per stream
        tkhd                track dims (16.16 fixed point)
        mdia
          mdhd              media timescale + duration
          hdlr              handler type ('vide' / 'soun')
          minf/stbl
            stsd            sample description: codec fourcc + coded dims
            stts            time-to-sample: frame count + per-frame delta
            stsz            sample sizes: frame count

So :func:`parse_mp4` header-checks payloads the engine cannot fully decode:
declared fps/dims/frame-count columns are verified against the stream's own
header, and a corrupt box tree raises ``ValueError`` (→ per-row
``decode_error``, never a crash). PCM-decode conformance (SNR vs declared)
remains impossible without the codec — the contract rule's fps/dims/frames
subset is exactly what the header can prove, and the disclosure lives in
``multimodal.real_video_decoder``'s docstring.

:func:`mp4_bytes` writes a structurally complete MP4 (ftyp + mdat stub +
full moov tree) for fixtures and round-trip tests — the box layout follows
the public ISO/IEC 14496-12 structure. No reference counterpart: the
reference repo (datacontract-cli) decodes no media at all.
"""

from __future__ import annotations

import struct
from typing import Any, Dict, Iterator, List, Optional, Tuple

from .binread import Reader

__all__ = ["parse_mp4", "parse_mp4_audio", "mp4_audio_meta_triple",
           "mp4_bytes", "m4a_bytes", "mp4_fragmented_bytes", "is_mp4"]

def is_mp4(raw: bytes) -> bool:
    """Cheap sniff: an ISO-BMFF file starts with a box whose type is ftyp
    (or a raw moov/mdat for headerless fragments). bytes() coercion keeps
    the check working on numpy uint8 views (the census's Arrow heap
    slices), where a raw ndarray slice would not compare against bytes."""
    return (raw is not None and len(raw) >= 12
            and bytes(raw[4:8]) in (b"ftyp", b"moov", b"mdat", b"styp",
                                    b"wide"))


def _boxes(scope: Reader) -> Iterator[Tuple[bytes, Reader]]:
    """(type, payload scope) for each box in ``scope``, walked on a fork so
    the scope can be walked again.

    Sizes are strict: a box shorter than its own header, or running past
    its parent, is corrupt — raise rather than mis-walk (a forged size
    would otherwise alias unrelated bytes into box payloads)."""
    r = scope.fork()
    while r.left():
        start = r.pos
        size, btype = r.unpack(">I4s", "box header")
        if size == 1:  # 64-bit largesize
            size = r.be64("largesize")
        elif size == 0:  # box extends to end of enclosing scope
            size = r.end - start
        yield btype, r.sub(size - (r.pos - start), btype.decode("latin-1"))


def _find(scope: Reader, btype: bytes) -> Optional[Reader]:
    for t, box in _boxes(scope):
        if t == btype:
            return box
    return None


def _need(scope: Reader, btype: bytes, missing: str) -> Reader:
    box = _find(scope, btype)
    if box is None:
        raise ValueError(f"mp4: {missing}")
    return box


def _version_flags(box: Reader) -> Tuple[int, int]:
    """(version, flags) of a full box; the cursor moves past them."""
    vf = box.be32("full box header")
    return vf >> 24, vf & 0xFFFFFF


def _timing(box: Reader) -> Tuple[int, int]:
    """(timescale, duration) of an mvhd or mdhd box (one layout)."""
    version, _ = _version_flags(box)
    timescale, duration = box.unpack(">16xIQ" if version == 1 else ">8xII")
    if timescale == 0:
        box.fail("timescale is zero")
    return timescale, duration


def _stts(box: Reader) -> Tuple[int, int]:
    """(total sample count, total duration in media-timescale units)."""
    _version_flags(box)
    samples = time = 0
    for _ in range(box.count(box.be32(), 8, "stts entry")):
        cnt, delta = box.unpack(">II")
        samples += cnt
        time += cnt * delta
    return samples, time


def _trex_defaults(moov: Reader) -> Dict[int, int]:
    """mvex/trex per-track default_sample_duration (fragmented MP4)."""
    out: Dict[int, int] = {}
    mvex = _find(moov, b"mvex")
    for t, box in _boxes(mvex) if mvex is not None else ():
        if t == b"trex":
            _version_flags(box)
            track_id, _index, out[track_id], _size = box.unpack(">IIII")
    return out


def _traf(traf: Reader, trex_dur: Dict[int, int]) -> Tuple[int, int, int]:
    """One traf -> (track_id, sample_count, total_duration).

    tfhd's optional fields are flag-gated at fixed widths; trun carries
    per-sample durations only when flag 0x100 is set, else the tfhd default
    (flag 0x08), else the trex default applies (ISO 14496-12 §8.8)."""
    tfhd = _need(traf, b"tfhd", "traf without tfhd")
    _, flags = _version_flags(tfhd)
    track_id = tfhd.be32()
    # base-data-offset, sample-description-index
    tfhd.skip((8 if flags & 0x01 else 0) + (4 if flags & 0x02 else 0))
    default_dur = tfhd.be32() if flags & 0x08 else trex_dur.get(track_id, 0)
    n = time = 0
    for t, trun in _boxes(traf):
        if t != b"trun":
            continue
        _, tflags = _version_flags(trun)
        cnt = trun.be32()
        # data-offset, first-sample-flags
        trun.skip((4 if tflags & 0x01 else 0) + (4 if tflags & 0x04 else 0))
        # per-sample duration / size / flags / composition-time-offset
        per = 4 * sum(1 for bit in (0x100, 0x200, 0x400, 0x800)
                      if tflags & bit)
        trun.count(cnt, per, "trun sample")
        if tflags & 0x100:
            for _ in range(cnt):
                time += trun.be32()
                trun.skip(per - 4)
        else:
            time += cnt * default_dur
        n += cnt
    return track_id, n, time


def _top(raw: bytes) -> Tuple[Optional[str], Reader, List[Reader]]:
    """(ftyp brand, moov, moof boxes) of a payload's top level."""
    if raw is None or len(raw) < 12:
        raise ValueError("mp4: empty or truncated payload")
    brand, moov, moofs = None, None, []
    for t, box in _boxes(Reader(bytes(raw), "mp4")):
        if t == b"ftyp" and box.left() >= 4:
            brand = box.take(4).decode("latin-1")
        elif t == b"moov":
            moov = box
        elif t == b"moof":
            moofs.append(box)
    if moov is None:
        raise ValueError("mp4: no moov box")
    return brand, moov, moofs


def parse_mp4(raw: bytes) -> Dict[str, Any]:
    """Metadata of the first VIDEO track of an ISO-BMFF payload.

    Returns ``{brand, codec, width, height, fps, n_frames, duration_ms,
    n_tracks, has_audio}``. ``fps`` is media-timescale exact
    (timescale * samples / total stts time); ``width``/``height`` prefer the
    stsd VisualSampleEntry's integer coded dims over tkhd's display
    fixed-point. Raises ``ValueError`` on any corrupt box (forged size,
    truncated header, missing mandatory boxes)."""
    brand, moov, moofs = _top(raw)
    mv_timescale, mv_duration = _timing(_need(moov, b"mvhd", "no mvhd box"))
    out: Dict[str, Any] = {
        "brand": brand,
        "codec": None, "width": None, "height": None,
        "fps": None, "n_frames": None,
        "duration_ms": mv_duration * 1000.0 / mv_timescale,
        "n_tracks": 0, "has_audio": False,
    }
    vid_track_id = None
    vid_timescale = None
    for t, trak in _boxes(moov):
        if t != b"trak":
            continue
        out["n_tracks"] += 1
        tm = _trak_media(trak)
        if tm is None:
            raise ValueError("mp4: trak without mdia")
        if tm["handler"] == b"soun":
            out["has_audio"] = True
        if tm["handler"] != b"vide" or out["codec"] is not None:
            continue
        # VisualSampleEntry (>= 78 bytes): integer coded dims at payload
        # bytes 24/26; else tkhd's display dims
        entry = tm["entry"]
        w, h = entry.unpack(">24xHH") if entry.left() >= 70 else (0, 0)
        if not (w and h):
            w, h = tm["dims"]
        out["codec"], out["width"], out["height"] = tm["fourcc"], w, h
        stsz = _find(tm["stbl"], b"stsz")
        n_frames = None
        if stsz is not None:
            _version_flags(stsz)
            n_frames = stsz.unpack(">II")[1]
        stts = _find(tm["stbl"], b"stts")
        if stts is not None:
            n_samples, total_time = _stts(stts)
            if n_frames is None:
                n_frames = n_samples
            if total_time > 0:
                out["fps"] = tm["timescale"] * n_samples / total_time
        out["n_frames"] = n_frames
        vid_timescale = tm["timescale"]
        vid_track_id = tm["track_id"]
    if out["codec"] is None:
        raise ValueError("mp4: no video track")
    # fragmented MP4 (DASH/HLS): the moov's sample tables are empty and the
    # samples live in moof/traf/trun fragments — accumulate the video
    # track's fragment sample counts + durations instead
    if moofs and not out["n_frames"]:
        n, time = _fragment_totals(moov, moofs, vid_track_id)
        out["n_frames"] = n
        if time > 0 and vid_timescale:
            out["fps"] = vid_timescale * n / time
        if out["duration_ms"] == 0 and time > 0 and vid_timescale:
            out["duration_ms"] = time * 1000.0 / vid_timescale
    return out


#: stsd fourcc -> census codec name (ffmpeg-ish, what contract enums use)
_AUDIO_CODEC_NAMES = {"mp4a": "aac", "alac": "alac", "ac-3": "ac3",
                      "ec-3": "eac3", "Opus": "opus", "fLaC": "flac"}


def _trak_media(trak: Reader) -> Optional[Dict[str, Any]]:
    """Shared trak walk for the audio AND video parsers: handler, mdhd
    timescale/duration, stbl scope, the VALIDATED first stsd entry
    (fourcc + entry payload scope per the entry's own declared size — a
    forged short entry must not alias the next entry's bytes into field
    reads), and the tkhd track id and display dims. Returns None for a trak
    without mdia."""
    mdia = _find(trak, b"mdia")
    if mdia is None:
        return None
    hdlr = _find(mdia, b"hdlr")
    handler = b"????"
    if hdlr is not None:
        _version_flags(hdlr)
        (handler,) = hdlr.unpack(">4x4s")
    timescale, md_duration = _timing(
        _need(mdia, b"mdhd", "trak without mdhd"))
    minf = _find(mdia, b"minf")
    stbl = _find(minf, b"stbl") if minf is not None else None
    if stbl is None:
        raise ValueError("mp4: trak without stbl")
    stsd = _need(stbl, b"stsd", "trak without stsd")
    _version_flags(stsd)
    if stsd.be32() == 0:
        stsd.fail("no sample entries")
    esize, fourcc = stsd.unpack(">I4s", "stsd entry header")
    entry = stsd.sub(esize - 8, "stsd entry")
    track_id, dims = None, (None, None)
    tkhd = _find(trak, b"tkhd")
    if tkhd is not None:
        version, _ = _version_flags(tkhd)
        tkhd.skip(16 if version == 1 else 8)
        track_id = tkhd.be32()
        # display dims: the LAST two 16.16 fixed-point words of the box
        tkhd.skip(max(0, tkhd.left() - 8))
        dims = tuple(int(round(v / 65536.0)) or None
                     for v in tkhd.unpack(">II", "tkhd dims"))
    return {
        "handler": handler, "timescale": timescale,
        "md_duration": md_duration, "stbl": stbl,
        "fourcc": fourcc.decode("latin-1").strip(), "entry": entry,
        "track_id": track_id, "dims": dims,
    }


def _fragment_totals(moov: Reader, moofs: List[Reader],
                     track_id: Optional[int]) -> Tuple[int, int]:
    """(sample count, total duration in media ticks) accumulated over every
    moof fragment for ``track_id`` (None matches any track)."""
    trex_dur = _trex_defaults(moov)
    n = time = 0
    for moof in moofs:
        for t, traf in _boxes(moof):
            if t != b"traf":
                continue
            tid, cnt, dur = _traf(traf, trex_dur)
            if track_id is None or tid == track_id:
                n += cnt
                time += dur
    return n, time


def parse_mp4_audio(raw: bytes) -> Dict[str, Any]:
    """Metadata of the first AUDIO track (M4A/AAC census path) ->
    ``{codec, sr_hz, channels, n_samples, duration_ms}``.

    ``sr_hz`` prefers the AudioSampleEntry's 16.16 samplerate, falling back
    to the mdhd timescale (they agree in well-formed files). ``n_samples``
    is PCM samples: the total stts TIME in media-timescale ticks — for AAC
    each stts "sample" is a 1024-PCM-frame packet, so counting packets
    would undercount 1024x; time in ticks IS samples when timescale == sr.
    Fragmented (fMP4/DASH/CMAF) audio accumulates moof/traf/trun durations
    like the video path. Raises ``ValueError`` when no audio track exists
    or boxes are corrupt."""
    _brand, moov, moofs = _top(raw)
    for t, trak in _boxes(moov):
        if t != b"trak":
            continue
        tm = _trak_media(trak)
        if tm is None or tm["handler"] != b"soun":
            continue
        timescale = tm["timescale"]
        # AudioSampleEntry: 6 reserved + data_ref_index(2), 8 reserved,
        # channelcount(2), samplesize(2), predefined(2), reserved(2),
        # samplerate(4, 16.16) — reads bounded by the entry's declared size
        entry = tm["entry"]
        channels = sr_fixed = None
        if entry.left() >= 28:
            channels, sr_fixed = entry.unpack(">16xH6xI")
            sr_fixed >>= 16
        sr = sr_fixed or timescale
        if sr == 0:
            raise ValueError("mp4: zero audio sample rate")
        stts = _find(tm["stbl"], b"stts")
        total_time = _stts(stts)[1] if stts is not None else 0
        n_ticks = total_time or tm["md_duration"]
        if n_ticks == 0 and moofs:
            _fn, n_ticks = _fragment_totals(moov, moofs, tm["track_id"])
        # rescale when the sample entry's rate disagrees with the timescale
        n_samples = (n_ticks if sr == timescale
                     else round(n_ticks * sr / timescale))
        return {
            "codec": _AUDIO_CODEC_NAMES.get(tm["fourcc"], tm["fourcc"]),
            "sr_hz": sr, "channels": channels, "n_samples": n_samples,
            "duration_ms": n_samples * 1000.0 / sr,
        }
    raise ValueError("mp4: no audio track")


def mp4_audio_meta_triple(raw: bytes) -> Tuple[int, str, int]:
    """The :func:`dcspark.audio.parse_wav_meta` census shape for M4A/AAC."""
    m = parse_mp4_audio(raw)
    return m["sr_hz"], m["codec"], m["n_samples"]


# ---------------------------------------------------------------------------
# writer — fixtures / round-trip ground truth
# ---------------------------------------------------------------------------

def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _full(btype: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(btype, struct.pack(">B3s", version,
                                   flags.to_bytes(3, "big")) + payload)


def mp4_bytes(width: int, height: int, fps: float, n_frames: int,
              codec: str = "avc1", sample_size: int = 64,
              with_audio: bool = False) -> bytes:
    """A structurally complete MP4: ftyp + mdat (stub samples) + moov with
    the full mvhd/trak/tkhd/mdia/mdhd/hdlr/minf/stbl tree.

    The mdat carries ``n_frames`` dummy samples (NOT decodable video — the
    point is the header). Media timescale is ``round(fps * 1000)`` with a
    constant stts delta of 1000, so ``parse_mp4`` recovers ``fps`` exactly
    for any rate with <= 3 decimals."""
    if fps <= 0 or n_frames < 0 or width <= 0 or height <= 0:
        raise ValueError("mp4_bytes: invalid dimensions/fps/frame count")
    timescale = int(round(fps * 1000))
    delta = 1000
    duration = n_frames * delta

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    mdat = _box(b"mdat", b"\x00" * (sample_size * n_frames))

    mvhd = _full(b"mvhd", 0, 0, struct.pack(
        ">IIII", 0, 0, 1000, int(round(duration * 1000 / timescale)))
        + struct.pack(">i", 0x00010000)   # rate 1.0
        + struct.pack(">h", 0x0100)       # volume 1.0
        + b"\x00" * 10
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2 if with_audio else 1))  # next track id

    def trak(track_id: int, handler: bytes, name: bytes,
             stsd_entry: bytes, w: int, h: int) -> bytes:
        tkhd = _full(b"tkhd", 0, 7, struct.pack(
            ">IIII", 0, 0, track_id, 0)
            + struct.pack(">I", int(round(duration * 1000 / timescale)))
            + b"\x00" * 8 + struct.pack(">hhhh", 0, 0, 0, 0)
            + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                          0x40000000)
            + struct.pack(">II", w << 16, h << 16))
        mdhd = _full(b"mdhd", 0, 0, struct.pack(
            ">IIII", 0, 0, timescale, duration) + struct.pack(">HH", 0x55C4, 0))
        hdlr = _full(b"hdlr", 0, 0, struct.pack(">I", 0) + handler
                     + b"\x00" * 12 + name + b"\x00")
        stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + stsd_entry)
        stts = _full(b"stts", 0, 0, struct.pack(">III", 1, n_frames, delta)
                     if n_frames else struct.pack(">I", 0))
        stsc = _full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, n_frames or 1, 1))
        # constant sample_size => no per-sample entry table
        stsz = _full(b"stsz", 0, 0, struct.pack(">II", sample_size, n_frames))
        stco = _full(b"stco", 0, 0, struct.pack(">II", 1, 8 + len(ftyp)))
        vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
        dref = _full(b"dref", 0, 0, struct.pack(">I", 1)
                     + _full(b"url ", 0, 1, b""))
        dinf = _box(b"dinf", dref)
        stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
        minf = _box(b"minf", vmhd + dinf + stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        return _box(b"trak", tkhd + mdia)

    # VisualSampleEntry (ISO 14496-12 §12.1.3): 6 reserved + data_ref_index,
    # then 16 predefined/reserved bytes, integer dims, resolution, frame
    # count, 32-byte compressor name, depth, -1 — plus a stub codec-config
    # child box (a real avc1 entry carries avcC; the parser never reads it)
    cfg = _box(b"stub", b"")
    visual = (b"\x00" * 6 + struct.pack(">H", 1)
              + b"\x00" * 16
              + struct.pack(">HH", width, height)
              + struct.pack(">II", 0x00480000, 0x00480000)
              + struct.pack(">I", 0)
              + struct.pack(">H", 1)
              + b"\x00" * 32
              + struct.pack(">Hh", 24, -1)
              + cfg)
    entry = struct.pack(">I", 8 + len(visual)) + codec.encode("latin-1")[:4].ljust(4) + visual
    boxes = [trak(1, b"vide", b"VideoHandler", entry, width, height)]
    if with_audio:
        audio = (b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 8
                 + struct.pack(">HH", 2, 16) + b"\x00" * 4
                 + struct.pack(">I", 16000 << 16))
        aentry = struct.pack(">I", 8 + len(audio)) + b"mp4a" + audio
        boxes.append(trak(2, b"soun", b"SoundHandler", aentry, 0, 0))
    moov = _box(b"moov", mvhd + b"".join(boxes))
    return ftyp + mdat + moov


def m4a_bytes(sr: int = 16000, n_samples: int = 16000, channels: int = 1,
              codec: str = "mp4a", packet_samples: int = 1024,
              packet_bytes: int = 96) -> bytes:
    """A structurally complete M4A (audio-only MP4): ftyp M4A + mdat stub +
    moov with one 'soun' trak whose mdhd timescale is ``sr`` and whose stts
    carries ``n_samples`` ticks as 1024-sample AAC-style packets (plus a
    remainder entry). Stub packets are NOT decodable audio."""
    if sr <= 0 or n_samples < 0:
        raise ValueError("m4a_bytes: invalid sr/sample count")
    n_full, rem = divmod(n_samples, packet_samples)
    n_packets = n_full + (1 if rem else 0)

    ftyp = _box(b"ftyp", b"M4A " + struct.pack(">I", 512) + b"M4A isommp42")
    mdat = _box(b"mdat", b"\x00" * (packet_bytes * max(1, n_packets)))
    dur_movie = int(round(n_samples * 1000 / sr))
    mvhd = _full(b"mvhd", 0, 0, struct.pack(">IIII", 0, 0, 1000, dur_movie)
                 + struct.pack(">i", 0x00010000) + struct.pack(">h", 0x0100)
                 + b"\x00" * 10
                 + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                               0x40000000)
                 + b"\x00" * 24 + struct.pack(">I", 2))
    tkhd = _full(b"tkhd", 0, 7, struct.pack(">IIII", 0, 0, 1, 0)
                 + struct.pack(">I", dur_movie) + b"\x00" * 8
                 + struct.pack(">hhhh", 0, 0, 0x0100, 0)
                 + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                               0x40000000)
                 + struct.pack(">II", 0, 0))
    mdhd = _full(b"mdhd", 0, 0, struct.pack(">IIII", 0, 0, sr, n_samples)
                 + struct.pack(">HH", 0x55C4, 0))
    hdlr = _full(b"hdlr", 0, 0, struct.pack(">I", 0) + b"soun"
                 + b"\x00" * 12 + b"SoundHandler\x00")
    audio = (b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 8
             + struct.pack(">HHHH", channels, 16, 0, 0)
             + struct.pack(">I", sr << 16)
             + _box(b"stub", b""))
    entry = (struct.pack(">I", 8 + len(audio))
             + codec.encode("latin-1")[:4].ljust(4) + audio)
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    stts_entries = []
    if n_full:
        stts_entries.append((n_full, packet_samples))
    if rem:
        stts_entries.append((1, rem))
    stts = _full(b"stts", 0, 0, struct.pack(">I", len(stts_entries))
                 + b"".join(struct.pack(">II", c, d) for c, d in stts_entries))
    stsc = _full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, max(1, n_packets), 1))
    stsz = _full(b"stsz", 0, 0, struct.pack(">II", packet_bytes,
                                            max(1, n_packets)))
    stco = _full(b"stco", 0, 0, struct.pack(">II", 1, 8 + len(ftyp)))
    smhd = _full(b"smhd", 0, 0, struct.pack(">HH", 0, 0))
    dref = _full(b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b""))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _box(b"minf", smhd + _box(b"dinf", dref) + stbl)
    trak = _box(b"trak", tkhd + _box(b"mdia", mdhd + hdlr + minf))
    return ftyp + mdat + _box(b"moov", mvhd + trak)


def m4a_fragmented_bytes(sr: int = 16000, n_samples: int = 32000,
                         packet_samples: int = 1024, packet_bytes: int = 96,
                         packets_per_frag: int = 16) -> bytes:
    """A structurally complete FRAGMENTED audio MP4 (CMAF/DASH audio): moov
    with empty sample tables + mvex/trex default duration, then
    moof(mfhd, traf(tfhd, trun)) + mdat per fragment. The final fragment
    carries a remainder-duration trun entry so ``n_samples`` is exact."""
    if sr <= 0 or n_samples < 0:
        raise ValueError("m4a_fragmented_bytes: invalid sr/sample count")
    ftyp = _box(b"ftyp", b"M4A " + struct.pack(">I", 512) + b"M4A iso5cmfc")
    mvhd = _full(b"mvhd", 0, 0, struct.pack(">IIII", 0, 0, 1000, 0)
                 + struct.pack(">i", 0x00010000) + struct.pack(">h", 0x0100)
                 + b"\x00" * 10
                 + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                               0x40000000)
                 + b"\x00" * 24 + struct.pack(">I", 2))
    tkhd = _full(b"tkhd", 0, 7, struct.pack(">IIII", 0, 0, 1, 0)
                 + struct.pack(">I", 0) + b"\x00" * 8
                 + struct.pack(">hhhh", 0, 0, 0x0100, 0)
                 + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                               0x40000000)
                 + struct.pack(">II", 0, 0))
    mdhd = _full(b"mdhd", 0, 0, struct.pack(">IIII", 0, 0, sr, 0)
                 + struct.pack(">HH", 0x55C4, 0))
    hdlr = _full(b"hdlr", 0, 0, struct.pack(">I", 0) + b"soun"
                 + b"\x00" * 12 + b"SoundHandler\x00")
    audio = (b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 8
             + struct.pack(">HHHH", 1, 16, 0, 0)
             + struct.pack(">I", sr << 16) + _box(b"stub", b""))
    entry = struct.pack(">I", 8 + len(audio)) + b"mp4a" + audio
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    stts = _full(b"stts", 0, 0, struct.pack(">I", 0))
    stsc = _full(b"stsc", 0, 0, struct.pack(">I", 0))
    stsz = _full(b"stsz", 0, 0, struct.pack(">II", 0, 0))
    stco = _full(b"stco", 0, 0, struct.pack(">I", 0))
    smhd = _full(b"smhd", 0, 0, struct.pack(">HH", 0, 0))
    dref = _full(b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b""))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _box(b"minf", smhd + _box(b"dinf", dref) + stbl)
    trak = _box(b"trak", tkhd + _box(b"mdia", mdhd + hdlr + minf))
    trex = _full(b"trex", 0, 0, struct.pack(">IIIII", 1, 1, packet_samples,
                                            packet_bytes, 0))
    moov = _box(b"moov", mvhd + trak + _box(b"mvex", trex))
    frags = []
    seq = 1
    left = n_samples
    while left > 0:
        cnt = min(packets_per_frag, (left + packet_samples - 1) // packet_samples)
        durs = []
        for _ in range(cnt):
            d = min(packet_samples, left)
            durs.append(d)
            left -= d
        mfhd = _full(b"mfhd", 0, 0, struct.pack(">I", seq))
        tfhd = _full(b"tfhd", 0, 0x020010, struct.pack(">II", 1, packet_bytes))
        # per-sample durations (flag 0x100) so the remainder packet is exact
        body = struct.pack(">Ii", cnt, 0) + b"".join(
            struct.pack(">I", d) for d in durs)
        trun = _full(b"trun", 0, 0x000101, body)
        moof = _box(b"moof", mfhd + _box(b"traf", tfhd + trun))
        frags.append(moof + _box(b"mdat", b"\x00" * (packet_bytes * cnt)))
        seq += 1
    return ftyp + moov + b"".join(frags)


def mp4_fragmented_bytes(width: int, height: int, fps: float, n_frames: int,
                         codec: str = "avc1", samples_per_frag: int = 32,
                         sample_size: int = 64,
                         per_sample_durations: bool = False) -> bytes:
    """A structurally complete FRAGMENTED MP4 (fMP4, the DASH/HLS layout):
    ftyp + moov with EMPTY sample tables + mvex/trex defaults, then
    moof(mfhd, traf(tfhd, trun)) + mdat per fragment.

    ``per_sample_durations=True`` writes explicit per-sample durations in
    each trun (flag 0x100) instead of relying on the trex default — both
    accumulation paths of :func:`parse_mp4` are exercised by fixtures."""
    if fps <= 0 or n_frames < 0 or width <= 0 or height <= 0:
        raise ValueError("mp4_fragmented_bytes: invalid dims/fps/frames")
    timescale = int(round(fps * 1000))
    delta = 1000

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso5dash")
    mvhd = _full(b"mvhd", 0, 0, struct.pack(">IIII", 0, 0, 1000, 0)
                 + struct.pack(">i", 0x00010000) + struct.pack(">h", 0x0100)
                 + b"\x00" * 10
                 + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                               0x40000000)
                 + b"\x00" * 24 + struct.pack(">I", 2))
    tkhd = _full(b"tkhd", 0, 7, struct.pack(">IIII", 0, 0, 1, 0)
                 + struct.pack(">I", 0) + b"\x00" * 8
                 + struct.pack(">hhhh", 0, 0, 0, 0)
                 + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                               0x40000000)
                 + struct.pack(">II", width << 16, height << 16))
    mdhd = _full(b"mdhd", 0, 0, struct.pack(">IIII", 0, 0, timescale, 0)
                 + struct.pack(">HH", 0x55C4, 0))
    hdlr = _full(b"hdlr", 0, 0, struct.pack(">I", 0) + b"vide"
                 + b"\x00" * 12 + b"VideoHandler\x00")
    cfg = _box(b"stub", b"")
    visual = (b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 16
              + struct.pack(">HH", width, height)
              + struct.pack(">II", 0x00480000, 0x00480000)
              + struct.pack(">I", 0) + struct.pack(">H", 1)
              + b"\x00" * 32 + struct.pack(">Hh", 24, -1) + cfg)
    entry = (struct.pack(">I", 8 + len(visual))
             + codec.encode("latin-1")[:4].ljust(4) + visual)
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    # empty sample tables: all samples live in fragments
    stts = _full(b"stts", 0, 0, struct.pack(">I", 0))
    stsc = _full(b"stsc", 0, 0, struct.pack(">I", 0))
    stsz = _full(b"stsz", 0, 0, struct.pack(">II", 0, 0))
    stco = _full(b"stco", 0, 0, struct.pack(">I", 0))
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dref = _full(b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b""))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _box(b"minf", vmhd + _box(b"dinf", dref) + stbl)
    trak = _box(b"trak", tkhd + _box(b"mdia", mdhd + hdlr + minf))
    trex = _full(b"trex", 0, 0, struct.pack(">IIIII", 1, 1, delta,
                                            sample_size, 0))
    moov = _box(b"moov", mvhd + trak + _box(b"mvex", trex))

    frags = []
    seq = 1
    left = n_frames
    while left > 0:
        cnt = min(samples_per_frag, left)
        left -= cnt
        mfhd = _full(b"mfhd", 0, 0, struct.pack(">I", seq))
        # tfhd: default-base-is-moof (0x020000) + default-sample-size (0x10)
        tfhd = _full(b"tfhd", 0, 0x020010,
                     struct.pack(">II", 1, sample_size))
        if per_sample_durations:
            # flags: data-offset (0x01) + sample-duration (0x100)
            body = struct.pack(">Ii", cnt, 0) + b"".join(
                struct.pack(">I", delta) for _ in range(cnt))
            trun = _full(b"trun", 0, 0x000101, body)
        else:
            trun = _full(b"trun", 0, 0x000001, struct.pack(">Ii", cnt, 0))
        moof = _box(b"moof", mfhd + _box(b"traf", tfhd + trun))
        frags.append(moof + _box(b"mdat", b"\x00" * (sample_size * cnt)))
        seq += 1
    return ftyp + moov + b"".join(frags)
