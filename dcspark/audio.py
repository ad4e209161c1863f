"""Audio decode-conformance pass: vectorized WAV/RIFF decode in Arrow batches.

Implements the per-row invariant from BASELINE.json ``input_hint``: decoded PCM
allclose vs an oracle at SNR >= 30 dB, header sample-rate/duration/codec
conformance against the declared ``sr_hz``/``dur_ms``/``codec`` columns, and
transcript equality vs the reference table.

Engine-extension operator (the reference has no audio path — SURVEY.md §2.5).
Execution model: ``mapInArrow`` over Arrow record batches; per-row payloads are
ZERO-COPY numpy views into the Arrow binary value heap (a pandas conversion would
allocate a ~60 KB PyBytes per clip — at 10^12 rows that's an extra full copy of
the corpus through every worker's allocator), and inside a batch the work is
numpy-array-per-row (RIFF header parse + ``np.frombuffer`` + vector math), never
per-sample Python. No decode libraries are needed for WAV/PCM; non-WAV codecs are
out of sandbox scope and surface as a decode error, with the plumbing (schema,
batching, UDF signature) fully real.

Two public passes share one per-row evaluator:

* :func:`audio_decode_report` — one output row per input row (the per-row API).
* :func:`audio_decode_compact` — the ENGINE path: one decode scan emits per-task
  aggregate count rows plus capped violation rows, so metrics and the violation
  sample come out of a single pass over the payload corpus (at 10^12 rows the
  decode scan is the dominant cost; it must never run twice).
"""

from __future__ import annotations

import math
import struct
from typing import Callable, Dict, Iterator, List, Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .binread import Reader
from .drift import partition_key
from .rowmap import DECODE_ERRORS, _binary_views, ddl_schemas, map_payloads

AUDIO_REPORT_DDL = (
    "clip_id string, bytes_null boolean, decoded_sr int, decoded_dur_ms double, "
    "sr_ok boolean, dur_ok boolean, codec_ok boolean, snr_db double, snr_ok boolean, "
    "decode_error string"
)

#: count columns of the compact pass, in output order
COMPACT_COUNT_COLS = (
    "rows", "bytes_null", "decode_error", "sr_bad", "dur_bad", "codec_bad",
    "snr_bad", "violations",
)

AUDIO_COMPACT_DDL = (
    "__part string, row_type string, "
    + ", ".join(f"{c} bigint" for c in COMPACT_COUNT_COLS)
    + ", clip_id string, observed string, t int, hash bigint"
)

#: the audio payload column this pass decodes; the engine reroutes JVM-side
#: aggregates on this column (e.g. the required/missing count) into this pass
#: so the shared metric scan never materializes the payload on-heap
BYTES_COL = "bytes"

# decoded duration tolerance: +-1 frame plus int-ms rounding (FIXTURES.md §1)
DUR_TOL_MS = 1.0

# WAVE format tags (RIFF spec / mmreg.h — public constants)
_FMT_PCM, _FMT_FLOAT, _FMT_ALAW, _FMT_MULAW, _FMT_EXTENSIBLE = 0x1, 0x3, 0x6, 0x7, 0xFFFE
_FMT_IMA_ADPCM = 0x11

#: (format_tag, bits) -> canonical codec name (ffmpeg naming convention)
WAV_CODEC_NAMES = {
    (_FMT_PCM, 8): "pcm_u8",
    (_FMT_PCM, 16): "pcm_s16le",
    (_FMT_PCM, 24): "pcm_s24le",
    (_FMT_PCM, 32): "pcm_s32le",
    (_FMT_FLOAT, 32): "pcm_f32le",
    (_FMT_ALAW, 8): "pcm_alaw",
    (_FMT_MULAW, 8): "pcm_mulaw",
    (_FMT_IMA_ADPCM, 4): "adpcm_ima_wav",
}

_g711_cache: dict = {}


def _mulaw_table() -> np.ndarray:
    """ITU-T G.711 mu-law byte -> linear int16 decode table (verified byte-exact
    against CPython's audioop.ulaw2lin in tests/test_audio_codecs.py)."""
    t = _g711_cache.get("mu")
    if t is None:
        u = (~np.arange(256, dtype=np.int32)) & 0xFF
        mag = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)) - 0x84
        t = np.where((u & 0x80) != 0, -mag, mag).astype(np.int16)
        _g711_cache["mu"] = t
    return t


def _alaw_table() -> np.ndarray:
    """ITU-T G.711 A-law byte -> linear int16 decode table (byte-exact vs
    audioop.alaw2lin; sign bit set after the 0x55 toggle means positive)."""
    t = _g711_cache.get("a")
    if t is None:
        a = np.arange(256, dtype=np.int32) ^ 0x55
        exponent = (a >> 4) & 0x07
        mantissa = a & 0x0F
        mag = np.where(exponent == 0, (mantissa << 4) + 8,
                       ((mantissa << 4) + 0x108) << np.maximum(exponent - 1, 0))
        t = np.where((a & 0x80) != 0, mag, -mag).astype(np.int16)
        _g711_cache["a"] = t
    return t


def lin2mulaw(pcm: np.ndarray) -> np.ndarray:
    """Vectorized linear int16 -> G.711 mu-law bytes (byte-exact vs audioop)."""
    x = np.asarray(pcm, np.int32) >> 2
    mask = np.where(x < 0, 0x7F, 0xFF)
    ax = np.minimum(np.abs(x), 8159) + 33
    seg = np.searchsorted(
        np.array([0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF], np.int32),
        ax, side="left")
    uval = (seg << 4) | ((ax >> (seg + 1)) & 0xF)
    return np.where(seg >= 8, 0x7F ^ mask, uval ^ mask).astype(np.uint8)


def lin2alaw(pcm: np.ndarray) -> np.ndarray:
    """Vectorized linear int16 -> G.711 A-law bytes (byte-exact vs audioop)."""
    x = np.asarray(pcm, np.int32) >> 3
    mask = np.where(x >= 0, 0xD5, 0x55)
    pv = np.where(x >= 0, x, -x - 1)
    seg = np.searchsorted(
        np.array([0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF], np.int32),
        pv, side="left")
    segc = np.minimum(seg, 7)
    aval = (segc << 4) | np.where(segc < 2, (pv >> 1) & 0xF, (pv >> segc) & 0xF)
    return np.where(seg >= 8, 0x7F ^ mask, aval ^ mask).astype(np.uint8)


def _decode_wav_samples(b, data_off: int, data_len: int,
                        tag: int, bits: int, channels: int,
                        block_align: int = 0):
    """Decode a WAV data chunk to canonical mono int16 PCM (one allocation;
    every transform is whole-array numpy). Multi-channel audio is downmixed by
    per-frame arithmetic mean. Raises ValueError on unsupported tag/bits."""
    name = WAV_CODEC_NAMES.get((tag, bits))
    if name is None or channels < 1:
        raise ValueError(f"unsupported codec: fmt={tag} bits={bits} ch={channels}")
    if name == "adpcm_ima_wav":
        if channels != 1:
            raise ValueError("multi-channel IMA ADPCM unsupported")
        from .adpcm import decode_ima_blocks

        raw = np.frombuffer(b, dtype=np.uint8, count=data_len, offset=data_off)
        return name, decode_ima_blocks(raw, block_align)
    if name == "pcm_s16le":
        pcm = np.frombuffer(b, dtype="<i2", count=data_len // 2, offset=data_off)
    elif name == "pcm_u8":
        raw = np.frombuffer(b, dtype=np.uint8, count=data_len, offset=data_off)
        pcm = ((raw.astype(np.int16) - 128) << 8)
    elif name == "pcm_s24le":
        n3 = data_len // 3
        u = np.frombuffer(b, dtype=np.uint8, count=n3 * 3, offset=data_off)
        u = u.reshape(-1, 3).astype(np.int32)
        v = u[:, 0] | (u[:, 1] << 8) | (u[:, 2] << 16)
        v = (v ^ 0x800000) - 0x800000  # sign-extend 24 -> 32
        pcm = (v >> 8).astype(np.int16)
    elif name == "pcm_s32le":
        raw = np.frombuffer(b, dtype="<i4", count=data_len // 4, offset=data_off)
        pcm = (raw >> 16).astype(np.int16)
    elif name == "pcm_f32le":
        raw = np.frombuffer(b, dtype="<f4", count=data_len // 4, offset=data_off)
        pcm = np.clip(np.rint(raw.astype(np.float64) * 32768.0),
                      -32768, 32767).astype(np.int16)
    elif name == "pcm_alaw":
        raw = np.frombuffer(b, dtype=np.uint8, count=data_len, offset=data_off)
        pcm = _alaw_table()[raw]
    else:  # pcm_mulaw
        raw = np.frombuffer(b, dtype=np.uint8, count=data_len, offset=data_off)
        pcm = _mulaw_table()[raw]
    if channels > 1:
        frames = len(pcm) // channels
        pcm = np.rint(
            pcm[:frames * channels].reshape(-1, channels).mean(axis=1)
        ).astype(np.int16)
    return name, pcm


def _walk_wav_header(b):
    """Shared RIFF chunk walk -> (tag, channels, sr, bits, block_align,
    data_off, data_len, fact_samples). Raises ValueError on malformed
    containers, zero sample rates, or truncated extensible headers."""
    if b is None or len(b) < 44:
        raise ValueError("not a RIFF/WAVE container")
    r = Reader(memoryview(b), "wav")
    riff, _size, wave = r.unpack("<4sI4s")
    if riff != b"RIFF" or wave != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    fmt = ext_tag = fact_samples = data = None
    for fourcc, body in r.riff_chunks():
        if fourcc == b"fmt ":
            # bounded by the chunk: an undersized fmt chunk raises instead
            # of unpacking the NEXT chunk's bytes as format fields
            fmt = body.unpack("<HHIIHH")
            # WAVE_FORMAT_EXTENSIBLE: cbSize(2) validBits(2) channelMask(4)
            # SubFormat GUID (real format tag = first 2 bytes, little-endian)
            if fmt[0] == _FMT_EXTENSIBLE and body.left() >= 24:
                (ext_tag,) = body.unpack("<8xH")
        elif fourcc == b"fact" and body.left() >= 4:
            # total sample count — authoritative for block codecs whose final
            # block is padded (IMA ADPCM)
            fact_samples = body.le32()
        elif fourcc == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, sr, _byte_rate, block_align, bits = fmt
    if sr <= 0:
        # a zero sample rate would turn every downstream duration/ratio
        # division into a task-killing ZeroDivisionError — reject at the
        # parse boundary so per-row quarantines catch it
        raise ValueError("invalid sample rate 0 in fmt chunk")
    if audio_format == _FMT_EXTENSIBLE:
        if ext_tag is None:
            raise ValueError("extensible fmt chunk too short for SubFormat")
        audio_format = ext_tag
    return (audio_format, channels, sr, bits, block_align,
            data.pos, data.left(), fact_samples)


def parse_wav_view(b) -> tuple:
    """RIFF/WAV parser -> (sample_rate, codec_name, mono int16 PCM).

    Accepts any C-contiguous byte buffer (``bytes`` or a ``np.uint8`` slice of
    an Arrow value heap). For the dominant mono ``pcm_s16le`` case the returned
    PCM is a ZERO-COPY ``np.frombuffer`` view into the input; other codecs
    (u8 / s24le / s32le / f32le / G.711 A-law & mu-law / IMA ADPCM, any
    channel count, WAVE_FORMAT_EXTENSIBLE headers) decode to canonical mono
    int16 with whole-array numpy transforms. Stdlib-struct + numpy only;
    raises ValueError on malformed containers or unsupported codecs.
    """
    if b is not None and len(b) >= 4 and bytes(b[:4]) == b"fLaC":
        # real compressed codec: the in-repo FLAC decoder (dcspark/flac.py)
        from .flac import decode_flac

        return decode_flac(b)
    if b is not None and len(b) >= 4 and bytes(b[:1]) != b"R":
        # precise errors for the MPEG-audio / Ogg / ISO-BMFF seams (cheap:
        # first byte already rules out every RIFF/WAV payload)
        from .ogg import is_ogg

        if is_ogg(b):
            raise ValueError(
                "ogg (opus/vorbis) codec: header metadata available via "
                "parse_wav_meta; PCM decode needs an external codec")
        from .mp4 import is_mp4

        if len(b) >= 12 and is_mp4(b):
            raise ValueError(
                "iso-bmff (m4a/aac) codec: header metadata available via "
                "parse_wav_meta; PCM decode needs an external codec")
        from .mp3 import is_mp3

        if is_mp3(b):
            raise ValueError(
                "mpeg-audio (mp3) codec: header metadata available via "
                "parse_wav_meta; PCM decode needs an external codec")
    (audio_format, channels, sr, bits, block_align,
     data_off, data_len, fact_samples) = _walk_wav_header(b)
    if audio_format == _FMT_PCM and bits == 16 and channels == 1:
        # hot path: zero-copy int16 view straight into the Arrow value heap.
        # honor a fact chunk like every other codec path does (an encoder
        # that padded the data chunk otherwise yields a longer decode than
        # parse_wav_meta reports for the SAME clip — slicing keeps zero-copy)
        count = data_len // 2
        if fact_samples is not None and fact_samples < count:
            count = fact_samples
        pcm = np.frombuffer(b, dtype="<i2", count=count, offset=data_off)
        return sr, "pcm_s16le", pcm
    name, pcm = _decode_wav_samples(b, data_off, data_len, audio_format, bits,
                                    channels, block_align)
    if fact_samples is not None and fact_samples < len(pcm):
        pcm = pcm[:fact_samples]
    return sr, name, pcm


def parse_wav_meta(b) -> tuple:
    """Header-only metadata -> (sample_rate, codec_name, n_samples) WITHOUT
    decoding any PCM: sample counts derive from the data-chunk size (and the
    fact chunk for block codecs; MPEG audio from a frame-header walk), so
    surveying a compressed archive costs a chunk walk per clip instead of a
    full decode — the census path. Covers every in-repo-decodable codec plus
    MPEG audio (mp1/mp2/mp3 — dcspark/mp3.py), whose PCM decode remains the
    pluggable seam."""
    if b is not None and len(b) >= 4 and bytes(b[:4]) == b"fLaC":
        from .flac import parse_flac_meta

        return parse_flac_meta(b)
    if b is not None and len(b) >= 4 and bytes(b[:1]) != b"R":
        from .ogg import is_ogg, ogg_meta_triple

        if is_ogg(b):
            return ogg_meta_triple(bytes(b))
        from .mp4 import is_mp4, mp4_audio_meta_triple

        if len(b) >= 12 and is_mp4(b):
            # ftyp-headed M4A plus raw-moov init segments / mdat-first
            # (non-faststart) layouts — the walker finds moov anywhere
            return mp4_audio_meta_triple(bytes(b))
        from .mp3 import is_mp3, mp3_meta_triple

        if is_mp3(b):
            return mp3_meta_triple(bytes(b))
    (tag, channels, sr, bits, block_align,
     data_off, data_len, fact_samples) = _walk_wav_header(b)
    name = WAV_CODEC_NAMES.get((tag, bits))
    if name is None or channels < 1:
        raise ValueError(f"unsupported codec: fmt={tag} bits={bits} ch={channels}")
    if name == "adpcm_ima_wav":
        if channels != 1:
            raise ValueError("multi-channel IMA ADPCM unsupported")
        if block_align < 5:
            raise ValueError("IMA ADPCM payload too short")
        spb = (block_align - 4) * 2 + 1
        n_full, rem = divmod(data_len, block_align)
        n = n_full * spb + ((rem - 4) * 2 + 1 if rem >= 4 else 0)
    else:
        n = data_len // (bits // 8) // channels
    if fact_samples is not None and fact_samples < n:
        n = fact_samples
    return sr, name, n


def parse_wav(b: bytes):
    """bytes-input alias of :func:`parse_wav_view` (kept for API stability)."""
    return parse_wav_view(b)


#: codec name -> (format_tag, bits) for the encoder
_ENCODE_TAGS = {name: key for key, name in WAV_CODEC_NAMES.items()}

# KSDATAFORMAT_SUBTYPE GUID tail shared by all WAVE_FORMAT_EXTENSIBLE subtypes
_EXT_GUID_TAIL = bytes.fromhex("000000001000800000aa00389b71")


def encode_wav(pcm: np.ndarray, sr: int, codec: str = "pcm_s16le",
               channels: int = 1, extensible: bool = False) -> bytes:
    """Encode canonical mono int16 PCM as a RIFF/WAV payload in ``codec``.

    The inverse of :func:`parse_wav_view` for every codec it decodes: u8 /
    s16le / s24le / s32le / f32le / G.711 A-law & mu-law. ``channels`` > 1
    duplicates the mono signal into interleaved frames (round-trips through
    the decoder's mean-downmix unchanged); ``extensible=True`` writes a
    WAVE_FORMAT_EXTENSIBLE fmt chunk with the codec in the SubFormat GUID.
    All sample transforms are whole-array numpy.
    """
    if codec == "flac":
        if extensible:
            raise ValueError("flac has no WAVE_FORMAT_EXTENSIBLE form")
        from .flac import encode_flac

        return encode_flac(np.asarray(pcm, dtype=np.int16), sr,
                           channels=channels)
    tag_bits = _ENCODE_TAGS.get(codec)
    if tag_bits is None:
        raise ValueError(f"unknown codec: {codec}")
    tag, bits = tag_bits
    x = np.asarray(pcm, dtype=np.int16)
    if codec == "adpcm_ima_wav":
        if channels != 1 or extensible:
            raise ValueError("IMA ADPCM encoder is mono, non-extensible")
        from .adpcm import encode_ima_blocks

        ba = 256
        data, spb = encode_ima_blocks(x, block_align=ba)
        byte_rate = (sr * ba + spb - 1) // spb
        fmt_body = struct.pack("<HHIIHHHH", _FMT_IMA_ADPCM, 1, sr,
                               byte_rate, ba, 4, 2, spb)
        fact = struct.pack("<I", len(x))
        pad = b"\x00" if len(data) & 1 else b""
        riff_len = 4 + (8 + len(fmt_body)) + (8 + len(fact)) + (8 + len(data) + len(pad))
        return (b"RIFF" + struct.pack("<I", riff_len) + b"WAVE"
                + b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
                + b"fact" + struct.pack("<I", len(fact)) + fact
                + b"data" + struct.pack("<I", len(data)) + data + pad)
    if channels > 1:
        x = np.repeat(x, channels)
    if codec == "pcm_s16le":
        data = x.astype("<i2").tobytes()
    elif codec == "pcm_u8":
        data = ((x.astype(np.int16) >> 8) + 128).astype(np.uint8).tobytes()
    elif codec == "pcm_s24le":
        v = x.astype(np.int32) << 8
        u = np.empty((len(v), 3), dtype=np.uint8)
        u[:, 0] = v & 0xFF
        u[:, 1] = (v >> 8) & 0xFF
        u[:, 2] = (v >> 16) & 0xFF
        data = u.tobytes()
    elif codec == "pcm_s32le":
        data = (x.astype("<i4") << 16).tobytes()
    elif codec == "pcm_f32le":
        data = (x.astype(np.float64) / 32768.0).astype("<f4").tobytes()
    elif codec == "pcm_alaw":
        data = lin2alaw(x).tobytes()
    else:  # pcm_mulaw
        data = lin2mulaw(x).tobytes()
    block_align = channels * bits // 8
    byte_rate = sr * block_align
    if extensible:
        sub_guid = struct.pack("<H", tag) + _EXT_GUID_TAIL
        fmt_body = struct.pack("<HHIIHH", _FMT_EXTENSIBLE, channels, sr,
                               byte_rate, block_align, bits)
        fmt_body += struct.pack("<HHI", 22, bits, 0) + sub_guid
    else:
        fmt_body = struct.pack("<HHIIHH", tag, channels, sr,
                               byte_rate, block_align, bits)
    pad = b"\x00" if len(data) & 1 else b""
    riff_len = 4 + (8 + len(fmt_body)) + (8 + len(data) + len(pad))
    return (b"RIFF" + struct.pack("<I", riff_len) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
            + b"data" + struct.pack("<I", len(data)) + data + pad)


def snr_db(reference: np.ndarray, decoded: np.ndarray) -> float:
    """SNR of decoded vs reference PCM in dB; -inf when lengths differ wildly."""
    m = min(len(reference), len(decoded))
    if m == 0 or abs(len(reference) - len(decoded)) > max(4, int(0.01 * m)):
        return float("-inf")
    # float32 keeps this memory-bandwidth-bound step SIMD-friendly; pairwise
    # np.dot summation keeps the power estimates accurate to ~1e-4 relative,
    # i.e. ~0.001 dB — irrelevant against a 30 dB threshold
    ref = reference[:m].astype(np.float32)
    err = ref - decoded[:m].astype(np.float32)
    p_sig = float(np.dot(ref, ref))
    p_err = float(np.dot(err, err))
    if p_err == 0.0:
        return float("inf")
    if p_sig == 0.0:
        return float("-inf")
    return 10.0 * np.log10(p_sig / p_err)


SnrFn = Callable[[str, int, int, np.ndarray], Optional[float]]
"""(clip_id, declared_sr, declared_dur_ms, decoded_pcm) -> SNR dB or None (skip)."""


def synth_oracle(seed: int, dur_lo: int = 200, dur_hi: int = 30000) -> SnrFn:
    """SNR oracle for the deterministic synthetic table: re-synthesize the
    reference PCM from clip_id and compare it whole (:func:`snr_db`)."""
    from . import synth

    def snr_fn(clip_id: str, _sr: int, _dur: int, decoded: np.ndarray) -> Optional[float]:
        try:
            i = int(clip_id.rsplit("-", 1)[1])
        except (IndexError, ValueError):
            return None
        return snr_db(synth.oracle_pcm(seed, i, dur_lo, dur_hi), decoded)

    return snr_fn


def synth_snr_oracle(seed: int, dur_lo: int = 200, dur_hi: int = 30000,
                     sr_enum=None) -> SnrFn:
    """Blocked-SNR oracle (synth.oracle_snr): the scale path — cache-resident
    per-block synthesis instead of materializing the full reference PCM.
    ``sr_enum`` must match the generator's (compact low-rate layouts)."""
    from . import synth

    enum = sr_enum if sr_enum is not None else synth.SR_ENUM

    def snr_fn(clip_id: str, _sr: int, _dur: int, decoded: np.ndarray) -> Optional[float]:
        try:
            i = int(clip_id.rsplit("-", 1)[1])
        except (IndexError, ValueError):
            return None
        return synth.oracle_snr(seed, i, decoded, dur_lo, dur_hi, sr_enum=enum)

    return snr_fn


def _eval_batch(batch, snr_fn, snr_floor_db, fp_fn=None, feat_fns=None):
    """Evaluate the decode-conformance invariant for every row of one Arrow
    batch -> list of (clip_id, rec-dict). Shared by the per-row report and the
    compact engine pass so the two can never drift semantically.

    ``fp_fn(pcm, sr) -> int64 array`` (when given) computes acoustic
    fingerprints from the SAME decoded PCM into ``rec['fp']`` — this is how
    the content-uniqueness check shares the one decode pass instead of
    re-reading the payload corpus. ``feat_fns`` ({name: fn(pcm, sr) -> float})
    likewise computes per-clip scalar features into ``rec['feats']`` for the
    loudness-drift histograms."""
    n_rows = batch.num_rows
    ids = batch.column(0).to_pylist()
    offsets, heap, nulls = _binary_views(batch.column(1), n_rows)
    d_srs = batch.column(2).to_pylist()
    d_durs = batch.column(3).to_pylist()
    d_codecs = batch.column(4).to_pylist()
    out = []
    for i in range(n_rows):
        is_null = bool(nulls[i])
        raw = None if is_null else heap[offsets[i]:offsets[i + 1]]
        clip_id, d_sr, d_dur, d_codec = ids[i], d_srs[i], d_durs[i], d_codecs[i]
        rec = dict(bytes_null=is_null,
                   decoded_sr=None, decoded_dur_ms=None,
                   sr_ok=False, dur_ok=False, codec_ok=False,
                   snr_db=None, snr_ok=None, decode_error=None)
        try:
            sr, codec, pcm = parse_wav_view(raw)
            dur_ms = len(pcm) / sr * 1000.0
            rec.update(
                decoded_sr=int(sr),
                decoded_dur_ms=float(dur_ms),
                sr_ok=bool(d_sr is not None and int(sr) == int(d_sr)),
                dur_ok=bool(d_dur is not None and abs(dur_ms - float(d_dur)) <= DUR_TOL_MS),
                codec_ok=bool(codec == d_codec),
            )
            if fp_fn is not None:
                rec["fp"] = fp_fn(pcm, sr)
            if feat_fns is not None:
                rec["feats"] = eval_features(pcm, sr, feat_fns)
            if snr_fn is not None:
                s = snr_fn(clip_id, d_sr, d_dur, pcm)
                if s is not None:
                    # NaN (a user snr_fn without zero guards) normalizes like
                    # +-inf: None in the column, and NaN >= floor is False so
                    # the clip fails the invariant instead of poisoning
                    # downstream aggregates over snr_db
                    finite = not (math.isinf(s) or math.isnan(s))
                    rec["snr_db"] = float(s) if finite else None
                    rec["snr_ok"] = bool(s >= snr_floor_db)
        except DECODE_ERRORS as e:
            rec["decode_error"] = str(e)
        out.append((clip_id, rec))
    return out


def _rec_violates(rec: dict) -> bool:
    """Python twin of :func:`audio_violation_expr` (kept in lockstep)."""
    return (
        rec["decode_error"] is not None
        or not rec["sr_ok"] or not rec["dur_ok"] or not rec["codec_ok"]
        or (rec["snr_ok"] is not None and not rec["snr_ok"])
    )


def _rec_observed(rec: dict) -> str:
    """Violation-row detail string (same shape as the engine's old concat_ws)."""
    parts = []
    if rec["decoded_sr"] is not None:
        parts.append(f"decoded_sr={rec['decoded_sr']}")
    if rec["decoded_dur_ms"] is not None:
        parts.append(f"decoded_dur_ms={rec['decoded_dur_ms']:.1f}")
    if rec["snr_db"] is not None:
        parts.append(f"snr_db={rec['snr_db']:.1f}")
    if rec["decode_error"] is not None:
        parts.append(f"err={rec['decode_error']}")
    return ",".join(parts)


def audio_decode_report(
    df: DataFrame,
    snr_floor_db: float = 30.0,
    snr_fn: Optional[SnrFn] = None,
    id_col: str = "clip_id",
) -> DataFrame:
    """Per-row decode-conformance report (one output row per input row).

    Reads ONLY the columns it needs (clip_id, bytes, sr_hz, dur_ms, codec) so the
    parquet scan prunes everything else. When ``snr_fn`` is None the SNR invariant
    is skipped (snr_ok = null) and header conformance alone decides.
    """
    spark_schema, arrow_schema = ddl_schemas(AUDIO_REPORT_DDL)

    def check_batches(batches: Iterator["object"]) -> Iterator["object"]:
        import pyarrow as pa

        for batch in batches:
            rows = [{**rec, "clip_id": clip_id} for clip_id, rec
                    in _eval_batch(batch, snr_fn, snr_floor_db)]
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    cols = [F.col(id_col), F.col("bytes"), F.col("sr_hz"), F.col("dur_ms"), F.col("codec")]
    return df.select(*cols).mapInArrow(check_batches, schema=spark_schema)


def rms_dbfs(pcm, _sr) -> float:
    """Whole-clip RMS level in dBFS for int16 PCM (silence clamps at -120).

    float32 dot (pairwise summation, ~1e-6 relative = ~1e-5 dB) instead of a
    float64 copy + square + mean: half the memory traffic on the hot decoded
    payload, which is what the per-clip feature pass is bound by."""
    if len(pcm) == 0:
        return -120.0
    x = pcm.astype(np.float32)
    ms = float(np.dot(x, x)) / (len(x) * 32768.0 * 32768.0)
    return 10.0 * math.log10(ms) if ms > 0 else -120.0


def peak_dbfs(pcm, _sr) -> float:
    """Peak absolute sample level in dBFS (silence clamps at -120)."""
    if len(pcm) == 0:
        return -120.0
    p = float(np.max(np.abs(pcm.astype(np.int32)))) / 32768.0
    return 20.0 * math.log10(p) if p > 0 else -120.0


def clip_ratio(pcm, _sr) -> float:
    """Fraction of samples at (or beyond) int16 full scale — digital clipping."""
    if len(pcm) == 0:
        return 0.0
    return float(np.mean(np.abs(pcm.astype(np.int32)) >= 32767))


def dc_offset(pcm, _sr) -> float:
    """Mean sample value as a fraction of full scale (-1..1). A healthy
    capture chain sits near 0; a miswired ADC / failed high-pass shows a
    persistent bias that RMS and peak levels cannot distinguish from signal."""
    if len(pcm) == 0:
        return 0.0
    return float(np.mean(pcm.astype(np.float64))) / 32768.0


def zero_crossing_rate(pcm, sr) -> float:
    """Sign changes per second of decoded audio (0 for constant/empty
    signals). A pure tone crosses at ~2x its frequency; stuck-at or
    heavily-slewed captures collapse toward 0 while white-noise-swamped
    channels spike toward sr/2 — both invisible to level-based features."""
    if len(pcm) < 2:
        return 0.0
    s = np.sign(pcm.astype(np.int32))
    nz = s[s != 0]  # zeros neither create nor break a crossing
    if len(nz) < 2:
        return 0.0
    crossings = float(np.count_nonzero(nz[1:] != nz[:-1]))
    return crossings * float(sr) / (len(pcm) - 1)


#: spectral features analyze at most this many samples (one centered window)
#: so a feature pass stays O(window log window) per clip regardless of length
SPECTRAL_WINDOW_S = 1.0


def _power_spectrum(pcm, sr):
    """(freqs_hz, power) of a Hann-windowed center slice, capped at
    :data:`SPECTRAL_WINDOW_S` — bounds FFT cost per clip at any duration."""
    n = min(len(pcm), int(sr * SPECTRAL_WINDOW_S))
    if n < 16:
        return None, None
    start = (len(pcm) - n) // 2
    x = pcm[start:start + n].astype(np.float64) / 32768.0
    win = _g711_cache.get(("hann", n))
    if win is None:
        # the window depends only on n (= sr for clips >= 1 s at one rate):
        # cache it like the G.711 tables instead of re-evaluating an O(n)
        # cosine per clip on the hot feature pass
        win = np.hanning(n)
        _g711_cache[("hann", n)] = win
    x = x * win
    p = np.abs(np.fft.rfft(x)) ** 2
    freqs = np.fft.rfftfreq(n, d=1.0 / sr)
    return freqs, p


def spectral_centroid_hz(pcm, sr) -> float:
    """Power-weighted mean frequency in Hz of a centered 1 s window. Tracks
    where the energy lives: hiss/noise-swamped channels drift toward sr/4+,
    muffled or low-passed captures collapse toward 0."""
    freqs, p = _power_spectrum(pcm, sr)
    if freqs is None or float(p.sum()) <= 0.0:
        return 0.0
    return float(np.dot(freqs, p) / p.sum())


def spectral_rolloff_hz(pcm, sr) -> float:
    """Frequency below which 95% of spectral power sits. A telephony-band
    upsample masquerading as wideband shows rolloff << the declared sr/2."""
    freqs, p = _power_spectrum(pcm, sr)
    if freqs is None:
        return 0.0
    total = float(p.sum())
    if total <= 0.0:
        return 0.0
    idx = int(np.searchsorted(np.cumsum(p), 0.95 * total))
    return float(freqs[min(idx, len(freqs) - 1)])


def spectral_flatness(pcm, sr) -> float:
    """Geometric / arithmetic mean ratio of the power spectrum in (0, 1]:
    ~1 for white noise, ~0 for pure tones. Separates tonal content from
    broadband noise at identical RMS levels."""
    _, p = _power_spectrum(pcm, sr)
    if p is None:
        return 0.0
    p = p[1:]  # drop DC
    m = float(p.mean())
    if m <= 0.0:
        return 0.0
    g = float(np.exp(np.mean(np.log(p + 1e-30))))
    return g / m


#: energy-VAD framing: 20 ms frames, a frame is "speech-active" above this
#: absolute gate. An absolute (not adaptive) gate is deliberate — the
#: feature is a QUALITY bound ("is there audible signal where the contract
#: says speech is?"), so a -60 dBFS whisper-level capture scoring low is
#: the correct outcome, and determinism is trivial to reason about.
VAD_FRAME_S = 0.02
VAD_GATE_DBFS = -40.0


def _vad_frame_db(pcm, sr) -> np.ndarray:
    """Per-20ms-frame RMS dBFS (tail remainder folded into a final short
    frame so trailing silence/speech is never dropped)."""
    n = max(1, int(sr * VAD_FRAME_S))
    k = len(pcm) // n
    # float32 conversion + in-place square: int16^2 <= 2^30 is exact to ~1e-7
    # relative in float32, and the frame means accumulate in float64 — the
    # ~1e-6 dB wobble is irrelevant against a -40 dBFS gate, while the copy
    # is half the size of the former float64 path (this pass is
    # memory-bandwidth-bound at high core counts)
    x = pcm.astype(np.float32)
    np.multiply(x, x, out=x)
    scale = 1.0 / (32768.0 * 32768.0)
    out = np.empty(k + (1 if len(pcm) > k * n else 0), dtype=np.float64)
    if k:
        out[:k] = x[:k * n].reshape(k, n).mean(axis=1, dtype=np.float64)
        out[:k] *= scale
    if len(pcm) > k * n:
        out[k] = float(x[k * n:].mean(dtype=np.float64)) * scale
    with np.errstate(divide="ignore"):
        db = 10.0 * np.log10(out, out=np.full_like(out, -12.0),
                             where=out > 0)
    return np.maximum(db, -120.0)


def _speech_ratio_db(pcm, sr, db) -> float:
    if len(pcm) == 0:
        return 0.0
    return float(np.mean(db > VAD_GATE_DBFS))


def _leading_silence_ms_db(pcm, sr, db) -> float:
    if len(pcm) == 0:
        return 0.0
    act = np.flatnonzero(db > VAD_GATE_DBFS)
    if len(act) == 0:
        return float(len(pcm)) * 1000.0 / float(sr)
    # ACTUAL frame length in samples (int(sr*0.02)), converted via sr — the
    # same convention as _trailing_silence_ms_db; the nominal 20.0 ms frame
    # disagrees at rates where sr*0.02 is not integral (e.g. 11025 Hz), so
    # leading+speech+trailing would not reconcile with the clip duration
    n = max(1, int(sr * VAD_FRAME_S))
    return float(min(act[0] * n, len(pcm)) * 1000.0 / float(sr))


def _speech_seconds_db(pcm, sr, db) -> float:
    if len(pcm) == 0:
        return 0.0
    # sample-accurate: full active frames contribute n samples each, an
    # active tail remainder its true length (same convention as trailing)
    n = max(1, int(sr * VAD_FRAME_S))
    k = len(pcm) // n
    mask = db > VAD_GATE_DBFS
    samples = int(np.count_nonzero(mask[:k])) * n
    if len(mask) > k and mask[k]:
        samples += len(pcm) - k * n
    return float(min(samples, len(pcm))) / float(sr)


def speech_ratio(pcm, sr) -> float:
    """Fraction of 20 ms frames with RMS above the -40 dBFS speech gate.
    0 for silence-only payloads, ~1 for continuous speech/tone. The bound
    a speech corpus wants: `min: 0.5` drops clips that are mostly dead
    air even when every header column (sr_hz, dur_ms, codec) is valid and
    the decode round-trips perfectly."""
    return _speech_ratio_db(pcm, sr, _vad_frame_db(pcm, sr) if len(pcm) else None)


def leading_silence_ms(pcm, sr) -> float:
    """Milliseconds of dead air before the first speech-active frame
    (whole clip duration if nothing is active). Catches padding that
    inflates dur_ms and shifts transcript alignment."""
    return _leading_silence_ms_db(
        pcm, sr, _vad_frame_db(pcm, sr) if len(pcm) else None)


def speech_seconds(pcm, sr) -> float:
    """Seconds of speech-active audio (active 20 ms frames x frame length,
    clamped to the clip). The denominator of the speaking-rate invariant;
    also boundable directly (``minimum: 1.0`` = at least a second of
    audible signal)."""
    return _speech_seconds_db(
        pcm, sr, _vad_frame_db(pcm, sr) if len(pcm) else None)


#: pseudo-feature of the speaking-rate invariant: transcript characters per
#: second of DETECTED speech. Not in FEATURE_FNS — it needs the transcript
#: column, which rides the decode scan as a JVM-computed length (__chars),
#: so the Python side never sees the text itself.
RATE_FEATURE = "chars_per_speech_sec"


def _trailing_silence_ms_db(pcm, sr, db) -> float:
    if len(pcm) == 0:
        return 0.0
    act = np.flatnonzero(db > VAD_GATE_DBFS)
    total_ms = float(len(pcm)) * 1000.0 / float(sr)
    if len(act) == 0:
        return total_ms
    n = max(1, int(sr * VAD_FRAME_S))
    # end of the last active frame, clamped to the true clip length
    end_ms = min((act[-1] + 1) * n, len(pcm)) * 1000.0 / float(sr)
    return float(total_ms - end_ms)


def trailing_silence_ms(pcm, sr) -> float:
    """Milliseconds of dead air after the last speech-active frame."""
    return _trailing_silence_ms_db(
        pcm, sr, _vad_frame_db(pcm, sr) if len(pcm) else None)


#: decoded-PCM scalar features available to loudness-drift and
#: signal-quality checks and :func:`audio_feature_frame`; all vectorized
#: numpy over the int16 buffer
FEATURE_FNS = {
    "rms_dbfs": rms_dbfs,
    "peak_dbfs": peak_dbfs,
    "clip_ratio": clip_ratio,
    "dc_offset": dc_offset,
    "zero_crossing_rate": zero_crossing_rate,
    "spectral_centroid_hz": spectral_centroid_hz,
    "spectral_rolloff_hz": spectral_rolloff_hz,
    "spectral_flatness": spectral_flatness,
    "speech_ratio": speech_ratio,
    "leading_silence_ms": leading_silence_ms,
    "trailing_silence_ms": trailing_silence_ms,
    "speech_seconds": speech_seconds,
}

#: the VAD family shares one per-20ms-frame RMS vector; evaluated together
#: through :func:`eval_features` it is computed ONCE per clip instead of once
#: per feature (a contract with speech_ratio + speaking-rate was paying the
#: frame pass twice — ~16% of the whole per-clip eval, scripts/profile_eval.py)
_VAD_FROM_DB = {
    "speech_ratio": _speech_ratio_db,
    "leading_silence_ms": _leading_silence_ms_db,
    "trailing_silence_ms": _trailing_silence_ms_db,
    "speech_seconds": _speech_seconds_db,
}


def eval_features(pcm, sr, fns: Dict[str, Callable]) -> Dict[str, float]:
    """Evaluate the requested features over one decoded clip, sharing
    intermediates. Identical results to calling each ``fns[name]`` directly
    (the VAD family delegates to the same ``_*_db`` formulas) — locked by
    test_audioops.test_eval_features_matches_direct."""
    out = {}
    db = None
    for name, fn in fns.items():
        from_db = _VAD_FROM_DB.get(name)
        if from_db is not None and fn is FEATURE_FNS.get(name):
            if db is None and len(pcm):
                db = _vad_frame_db(pcm, sr)
            out[name] = from_db(pcm, sr, db)
        else:
            out[name] = fn(pcm, sr)
    return out


def audio_decode_compact(
    df: DataFrame,
    snr_floor_db: float = 30.0,
    snr_fn: Optional[SnrFn] = None,
    id_col: str = "clip_id",
    partition_col: Optional[str] = None,
    violation_cap: int = 500,
    fp_fn=None,
    feat_bins: Optional[Dict[str, List[float]]] = None,
    feat_limits: Optional[List[Tuple[str, Optional[float], Optional[float]]]] = None,
    text_col: Optional[str] = None,
) -> DataFrame:
    """Single-pass engine path: ONE decode scan -> per-task aggregate counts
    plus capped violation rows.

    Each task folds its rows into per-partition-value count vectors and keeps
    at most ``violation_cap`` violating rows per (task, partition-value), then
    emits ONE small batch: ``row_type='agg'`` count rows and ``row_type='vio'``
    detail rows. Output size is bounded by tasks x (parts_per_task + cap) —
    independent of input row count — so callers persist it for pennies and
    derive metrics AND the violation sample without a second decode of the
    payload corpus (at 10^12 rows the decode is the dominant cost; running it
    twice on the failure path would double the whole job, VERDICT.md defect #1).

    ``fp_fn(pcm, sr) -> int64 array`` additionally emits ``row_type='fp'``
    rows (clip_id, t, hash) — the acoustic fingerprint table for the
    content-uniqueness check, produced from the same decoded PCM. With fp
    rows the output is no longer input-independent (~1 row per 32 ms of
    audio), but it is ~50x smaller than the payload and replaces a second
    full decode scan.

    ``feat_bins`` ({feature: ascending bin edges}) additionally emits
    ``row_type='fh'`` histogram rows (clip_id=feature name, t=bin index,
    hash=count) — per-task bin counts of decoded-PCM features (FEATURE_FNS)
    for loudness-drift checks. Binning matches drift._bin_count_expr:
    (-inf, e0], (e0, e1], ..., (e_last, inf). Output stays tiny: at most
    tasks x parts x features x (bins+1) rows.

    ``feat_limits`` ([(feature, lo, hi), ...] — signal-quality bounds, one
    entry per contract rule) additionally emits ``row_type='fq'`` per-task
    out-of-range count rows (clip_id=feature, t=rule index, hash=count) and
    capped ``row_type='fv'`` violation rows (clip_id, observed="feature=val",
    t=rule index) from the SAME decoded PCM. A clip that fails to decode is
    counted by decode-conformance, never here (feats are only computed on
    successful decode), so the two checks stay disjoint like missing/invalid.
    """
    limit_names = {name for name, _, _ in (feat_limits or [])}
    # speaking-rate pseudo-feature: needs the transcript length, which the
    # scan carries as a JVM-computed __chars column (the text itself never
    # crosses into Python); the denominator is the speech_seconds feature
    needs_chars = RATE_FEATURE in limit_names
    if feat_bins and RATE_FEATURE in feat_bins:
        raise ValueError(
            f"{RATE_FEATURE} is a per-clip bound, not a histogrammable "
            "feature; use a signal-quality rule")
    fn_names = (set(feat_bins or ()) | (limit_names - {RATE_FEATURE})
                | ({"speech_seconds"} if needs_chars else set()))
    feat_fns = (
        {name: FEATURE_FNS[name] for name in fn_names} if fn_names else None)
    text_col = text_col or "transcript"

    def compact_batches(batches: Iterator["object"]) -> Iterator["object"]:
        import bisect

        import pyarrow as pa

        counts: dict = {}
        vios: dict = {}
        fp_ids: list = []
        fp_ts: list = []
        fp_hashes: list = []
        fhists: dict = {}
        fq_counts: dict = {}
        fq_vios: dict = {}
        for batch in batches:
            base = 6 if needs_chars else 5
            has_part = batch.num_columns > base
            parts = batch.column(base).to_pylist() if has_part else None
            chars = batch.column(5).to_pylist() if needs_chars else None
            for i, (clip_id, rec) in enumerate(
                    _eval_batch(batch, snr_fn, snr_floor_db,
                                fp_fn=fp_fn, feat_fns=feat_fns)):
                part = parts[i] if parts is not None else None
                fp = rec.get("fp")
                if fp is not None and len(fp):
                    cid = str(clip_id)
                    fp_ids.extend([cid] * len(fp))
                    fp_ts.extend(range(len(fp)))
                    fp_hashes.extend(int(h) for h in fp)
                feats = rec.get("feats")
                if feats is not None:
                    for name, val in feats.items():
                        edges = feat_bins.get(name) if feat_bins else None
                        if edges is None:
                            continue
                        h = fhists.get((part, name))
                        if h is None:
                            h = fhists[(part, name)] = [0] * (len(edges) + 1)
                        h[bisect.bisect_left(edges, val)] += 1
                    for li, (name, lo, hi) in enumerate(feat_limits or ()):
                        if name == RATE_FEATURE:
                            ch = chars[i]
                            if ch is None or ch < 0:
                                # missing transcript is field_required's
                                # finding; rate stays disjoint from it the
                                # way invalid stays disjoint from missing
                                continue
                            val = ch / max(feats["speech_seconds"], 1e-9)
                        else:
                            val = feats[name]
                        if (lo is not None and val < lo) or (hi is not None and val > hi):
                            fq_counts[(part, li)] = fq_counts.get((part, li), 0) + 1
                            v = fq_vios.setdefault((part, li), [])
                            if len(v) < violation_cap:
                                v.append((str(clip_id), f"{name}={val:.4f}"))
                c = counts.get(part)
                if c is None:
                    c = counts[part] = [0] * len(COMPACT_COUNT_COLS)
                c[0] += 1
                if rec["bytes_null"]:
                    c[1] += 1
                if rec["decode_error"] is not None:
                    c[2] += 1
                else:
                    if not rec["sr_ok"]:
                        c[3] += 1
                    if not rec["dur_ok"]:
                        c[4] += 1
                    if not rec["codec_ok"]:
                        c[5] += 1
                if rec["snr_ok"] is not None and not rec["snr_ok"]:
                    c[6] += 1
                if _rec_violates(rec):
                    c[7] += 1
                    v = vios.setdefault(part, [])
                    if len(v) < violation_cap:
                        v.append((str(clip_id), _rec_observed(rec)))
        if not counts:
            return
        part_l, type_l = [], []
        cnt_ls = [[] for _ in COMPACT_COUNT_COLS]
        clip_l, obs_l, t_l, hash_l = [], [], [], []
        for part, c in counts.items():
            part_l.append(part)
            type_l.append("agg")
            for j, v in enumerate(c):
                cnt_ls[j].append(v)
            clip_l.append(None)
            obs_l.append(None)
            t_l.append(None)
            hash_l.append(None)
        for part, v in vios.items():
            for clip_id, obs in v:
                part_l.append(part)
                type_l.append("vio")
                for j in range(len(COMPACT_COUNT_COLS)):
                    cnt_ls[j].append(None)
                clip_l.append(clip_id)
                obs_l.append(obs)
                t_l.append(None)
                hash_l.append(None)
        nfp = len(fp_ids)
        part_l.extend([None] * nfp)
        type_l.extend(["fp"] * nfp)
        for j in range(len(COMPACT_COUNT_COLS)):
            cnt_ls[j].extend([None] * nfp)
        clip_l.extend(fp_ids)
        obs_l.extend([None] * nfp)
        t_l.extend(fp_ts)
        hash_l.extend(fp_hashes)
        for (part, name), hist in fhists.items():
            for b, cnt in enumerate(hist):
                if cnt == 0:
                    continue
                part_l.append(part)
                type_l.append("fh")
                for j in range(len(COMPACT_COUNT_COLS)):
                    cnt_ls[j].append(None)
                clip_l.append(name)
                obs_l.append(None)
                t_l.append(b)
                hash_l.append(cnt)
        for (part, li), cnt in fq_counts.items():
            part_l.append(part)
            type_l.append("fq")
            for j in range(len(COMPACT_COUNT_COLS)):
                cnt_ls[j].append(None)
            clip_l.append(feat_limits[li][0])
            obs_l.append(None)
            t_l.append(li)
            hash_l.append(cnt)
        for (part, li), v in fq_vios.items():
            for clip_id, obs in v:
                part_l.append(part)
                type_l.append("fv")
                for j in range(len(COMPACT_COUNT_COLS)):
                    cnt_ls[j].append(None)
                clip_l.append(clip_id)
                obs_l.append(obs)
                t_l.append(li)
                hash_l.append(None)
        arrays = (
            [pa.array(part_l, pa.string()), pa.array(type_l, pa.string())]
            + [pa.array(x, pa.int64()) for x in cnt_ls]
            + [pa.array(clip_l, pa.string()), pa.array(obs_l, pa.string()),
               pa.array(t_l, pa.int32()), pa.array(hash_l, pa.int64())]
        )
        names = ["__part", "row_type", *COMPACT_COUNT_COLS, "clip_id", "observed",
                 "t", "hash"]
        yield pa.RecordBatch.from_arrays(arrays, names)

    cols = [F.col(id_col), F.col(BYTES_COL), F.col("sr_hz"), F.col("dur_ms"), F.col("codec")]
    if needs_chars:
        if text_col not in df.columns:
            raise ValueError(
                f"speaking-rate rule needs text column {text_col!r} "
                f"in the model")
        # transcript LENGTH rides the scan (JVM length()); the text itself
        # never crosses the Arrow boundary. -1 sentinel = NULL transcript.
        cols.append(F.when(F.col(text_col).isNull(), F.lit(-1))
                    .otherwise(F.length(F.col(text_col)))
                    .cast("int").alias("__chars"))
    if partition_col:
        cols.append(partition_key(partition_col).alias("__part"))
    return df.select(*cols).mapInArrow(compact_batches, schema=AUDIO_COMPACT_DDL)


def audio_feature_frame(
    df: DataFrame,
    features: List[str] = ("rms_dbfs",),
    id_col: str = "clip_id",
    bytes_col: str = BYTES_COL,
) -> DataFrame:
    """Per-clip decoded-PCM scalar features: (clip_id, <feature double>...).

    The reference-snapshot builder for loudness-drift checks: run this on the
    reference sample, then ``drift.build_ref_stats(frame, features)`` yields
    the bin edges/probs the validation-time histogram (``feat_bins`` in
    :func:`audio_decode_compact`) is compared against. Same zero-copy
    mapInArrow decode as every other audio pass; decode failures yield null
    features. Projection is (id, bytes) only — everything else prunes out of
    the scan.
    """
    bad = [f for f in features if f not in FEATURE_FNS]
    if bad:
        raise ValueError(f"unknown audio features {bad}; known: {sorted(FEATURE_FNS)}")
    fns = {f: FEATURE_FNS[f] for f in features}

    def feats(raw):
        sr, _codec, pcm = parse_wav_view(raw)
        return eval_features(pcm, sr, fns)

    return map_payloads(
        df, id_col, bytes_col,
        "clip_id string, " + ", ".join(f"{f} double" for f in features), feats)


def audio_violation_expr() -> "F.Column":
    """Row violates decode conformance if any header check fails, decode errored,
    or the SNR invariant (when evaluated) fails."""
    return (
        F.col("decode_error").isNotNull()
        | ~F.col("sr_ok") | ~F.col("dur_ok") | ~F.col("codec_ok")
        | (F.col("snr_ok").isNotNull() & ~F.col("snr_ok"))
    )
