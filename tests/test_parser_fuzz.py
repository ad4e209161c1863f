"""Mutation fuzz of every container parser built on dcspark/binread.py.

Each entry point starts from its module's own writer output and decodes
mutated copies: bit flips, truncation, a size field overwritten with 0, 1,
2^28, 2^31-1 or 2^32-1, and inserted bytes. The invariant: every case
returns a value or raises ``ValueError`` (the per-row ``decode_error``
contract; ENTRIES names the one parser with older pinned errors), within
1 s and a 256 MB ``tracemalloc`` peak. Hypothesis runs derandomized, so the
cases are the same on every run.
"""

import random
import struct
import time
import tracemalloc

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dcspark import audio, avi, avrofile, ebml, flac, gif, jpeg, mp3, mp4
from dcspark import multimodal, ogg, synth, webp

CASES = 2000
SECONDS = 1.0
PEAK_BYTES = 256 << 20
SIZES = (0, 1, 1 << 28, (1 << 31) - 1, (1 << 32) - 1)
FIELDS = ("<H", ">H", "<I", ">I", "<Q", ">Q")

_RNG = np.random.default_rng(7)
_IMG = _RNG.integers(0, 256, (12, 16, 3), dtype=np.uint8)
_PCM = (np.sin(np.arange(1200) / 5.0) * 9000).astype(np.int16)
_AVRO_SCHEMA = {"type": "record", "name": "row", "fields": [
    {"name": "id", "type": "long"},
    {"name": "tag", "type": ["null", "string"]},
    {"name": "xs", "type": {"type": "array", "items": "double"}},
    {"name": "kv", "type": {"type": "map", "values": "bytes"}},
]}
_AVRO_ROWS = [{"id": i, "tag": None if i % 3 else f"t{i}", "xs": [i / 7.0] * (i % 3),
               "kv": {"k": bytes([i]) * (i % 4)}} for i in range(12)]


def _avro_rows(raw):
    _schema, rows = avrofile.parse_container(raw)
    return list(rows)


#: (entry point id, parser functions, writer outputs, errors they may
#: raise).
ENTRIES = [
    ("wav", (audio.parse_wav_view, audio.parse_wav_meta),
     [synth.wav_bytes(_PCM, 16000),
      audio.encode_wav(_PCM[:300], 16000, "pcm_s24le", channels=2,
                       extensible=True)], ValueError),
    ("mp4", (mp4.parse_mp4,),
     [mp4.mp4_bytes(32, 24, 25.0, 3, sample_size=4, with_audio=True),
      mp4.mp4_fragmented_bytes(32, 24, 25.0, 6, samples_per_frag=3,
                               sample_size=4, per_sample_durations=True)],
     ValueError),
    ("mp4_audio", (mp4.parse_mp4_audio,),
     [mp4.m4a_bytes(8000, 4000, packet_bytes=4),
      mp4.m4a_fragmented_bytes(8000, 6000, packet_bytes=4,
                               packets_per_frag=3)], ValueError),
    ("webm", (ebml.parse_webm,),
     [ebml.webm_bytes(32, 24, 25.0, 6, frames_per_cluster=3, frame_size=4,
                      with_audio=True, laced=True)], ValueError),
    ("ogg", (ogg.parse_ogg_meta,),
     [ogg.ogg_opus_bytes(8000, 8000, frames_per_page=10),
      ogg.ogg_vorbis_bytes()], ValueError),
    ("mp3", (mp3.parse_mp3_meta,),
     [mp3.mp3_bytes(16000, 4, 8, version=2, with_id3v2=True,
                    with_id3v1=True)], ValueError),
    ("avi", (avi.decode_avi,),
     [avi.avi_bytes([_IMG[:8, :8]] * 2),
      avi.rle8_avi_bytes([_IMG[:8, :8, 0], _IMG[:8, :8, 0] // 2])],
     ValueError),
    ("flac", (flac.decode_flac, flac.parse_flac_meta),
     [flac.encode_flac(_PCM[:128], 8000, block_size=64)], ValueError),
    ("gif", (gif.decode_gif,),
     [gif.encode_gif([_IMG // 64 * 64, _IMG // 128 * 128])], ValueError),
    ("webp", (webp.decode_webp,), [webp.webp_bytes(_IMG[:4, :6])],
     ValueError),
    ("jpeg", (jpeg.decode_jpeg,), [jpeg.jpeg_bytes(_IMG[:8, :8])],
     ValueError),
    ("png", (multimodal.decode_png,), [multimodal.png_bytes(_IMG)],
     ValueError),
    ("avro", (_avro_rows,),
     [avrofile.write_container(_AVRO_SCHEMA, _AVRO_ROWS, rows_per_block=5)],
     ValueError),
]


def _size_offsets(raw: bytes):
    """Offsets of the 4-byte fields next to each fourcc-like tag: RIFF and
    PNG chunk sizes, MP4 box sizes."""
    tags = [i for i in range(len(raw) - 3)
            if all(0x20 <= c < 0x7F for c in raw[i:i + 4])]
    return sorted({o for i in tags for o in (i - 4, i + 4)
                   if 0 <= o <= len(raw) - 4}) or [0]


def _mutate(raw: bytes, offsets, rng: random.Random) -> bytes:
    """One mutation of ``raw``: bit flips, a truncation, a size field set to
    one of SIZES (at a tag-adjacent offset or anywhere), or inserted bytes."""
    b = bytearray(raw)
    kind = rng.randrange(4)
    if kind == 0:
        for _ in range(rng.randint(1, 8)):
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
    elif kind == 1:
        del b[rng.randrange(len(b)):]
    elif kind == 2:
        fmt = rng.choice(FIELDS)
        width = struct.calcsize(fmt)
        pos = rng.choice(offsets) if rng.random() < 0.5 else rng.randrange(len(b))
        value = rng.choice(SIZES) & ((1 << 8 * width) - 1)
        b[pos:pos + width] = struct.pack(fmt, value)
    else:
        pos = rng.randrange(len(b) + 1)
        b[pos:pos] = rng.randbytes(rng.randint(1, 16))
    return bytes(b)


def _bounded(fn, raw: bytes, errors) -> None:
    """Run one decode under tracemalloc; assert it returned or raised
    ``errors`` within the time and memory bounds."""
    tracemalloc.start()
    t0 = time.perf_counter()
    try:
        fn(raw)
    except errors:
        pass
    finally:
        elapsed = time.perf_counter() - t0
        peak = tracemalloc.get_traced_memory()[1]
        tracemalloc.stop()
    assert elapsed < SECONDS, f"{fn.__name__} took {elapsed:.2f} s"
    assert peak < PEAK_BYTES, f"{fn.__name__} peaked at {peak} bytes"


@pytest.mark.parametrize("entry", ENTRIES, ids=[e[0] for e in ENTRIES])
def test_fixtures_decode_unmutated(entry):
    _id, fns, fixtures, _errors = entry
    for raw in fixtures:
        for fn in fns:
            fn(raw)


@pytest.mark.parametrize("entry", ENTRIES, ids=[e[0] for e in ENTRIES])
def test_mutated_payloads_fail_closed_and_bounded(entry):
    """CASES mutated payloads per entry point. Hypothesis draws one seed per
    case and the seed picks the fixture and the mutation: each drawn value
    costs about a millisecond of Hypothesis bookkeeping, so one draw keeps
    the whole file within tier-1 time."""
    _id, fns, fixtures, errors = entry
    offsets = [_size_offsets(raw) for raw in fixtures]

    @settings(max_examples=CASES, derandomize=True, deadline=None,
              database=None, suppress_health_check=list(HealthCheck))
    @given(seed=st.integers(0, 2 ** 64 - 1))
    def case(seed):
        rng = random.Random(seed)
        i = rng.randrange(len(fixtures))
        data = _mutate(fixtures[i], offsets[i], rng)
        for fn in fns:
            _bounded(fn, data, errors)

    case()
