"""The bounded binary reader (dcspark/binread.py): cursor semantics, the
output budget against declared-size bombs, and the guard that keeps every
container parser on it."""

import ast
import json
import os
import struct
import time
import tracemalloc
import zlib

import numpy as np
import pytest

from dcspark import avi, avrofile, binread, gif, jpeg, multimodal, webp
from dcspark.binread import OUTPUT_BUDGET, Reader

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ---------------------------------------------------------------------------
# cursor
# ---------------------------------------------------------------------------


def test_reads_ints_both_orders_and_advances():
    r = Reader(bytes(range(1, 17)), "t")
    assert r.u8() == 1
    assert r.be16() == 0x0203 and r.le16() == 0x0504
    assert r.be32() == 0x06070809
    assert r.le32() == 0x0D0C0B0A
    assert r.uint(3) == 0x0E0F10 and r.left() == 0
    r = Reader(bytes(range(16)), "t")
    assert r.be64() == 0x0001020304050607
    assert r.le64() == 0x0F0E0D0C0B0A0908


def test_failures_name_format_structure_and_offset():
    r = Reader(b"\x00\x01\x02", "mp4", what="tfhd")
    r.skip(2)
    with pytest.raises(ValueError, match=r"^mp4 tfhd: truncated field "
                                         r"\(need 4 bytes, 1 left\) at byte 2$"):
        r.be32()
    assert r.pos == 2  # a failed read does not move the cursor


def test_sub_scope_bounds_reads_and_rejects_oversize():
    r = Reader(b"abcdefgh", "t")
    box = r.sub(3, "box")
    assert r.pos == 3 and box.take(3) == b"abc"
    with pytest.raises(ValueError, match="t box: truncated"):
        box.u8()
    with pytest.raises(ValueError, match="t: next size 6 exceeds scope"):
        r.sub(6, "next")
    with pytest.raises(ValueError, match="size -1 exceeds scope"):
        r.sub(-1, "next")
    fork = r.fork()
    fork.skip(5)
    assert r.left() == 5 and fork.left() == 0


def test_count_checks_declared_items_against_bytes_left():
    r = Reader(b"\x00" * 16, "t")
    assert r.count(2, 8, "entry") == 2
    with pytest.raises(ValueError, match="entry count 3 exceeds the 16 bytes"):
        r.count(3, 8, "entry")
    with pytest.raises(ValueError, match="count -1"):
        r.count(-1, 8, "entry")


def test_claims_are_summed_per_decode_across_scopes():
    r = Reader(b"\x00" * 8, "t")
    child = r.sub(4, "chunk")
    assert child.claim(OUTPUT_BUDGET // 2, "frame") == OUTPUT_BUDGET // 2
    r.claim(OUTPUT_BUDGET // 2, "frame")
    with pytest.raises(ValueError, match="past its .*-byte output budget"):
        child.claim(1, "frame")
    assert Reader(b"", "t").claim(OUTPUT_BUDGET, "canvas") == OUTPUT_BUDGET


def test_riff_walk_clips_truncated_bodies_and_skips_pad_bytes():
    raw = (b"odd " + struct.pack("<I", 3) + b"xyz\x00"
           + b"cut " + struct.pack("<I", 100) + b"tail")
    chunks = [(fourcc, body.take(body.left()), body.what)
              for fourcc, body in Reader(raw, "t").riff_chunks()]
    assert chunks == [(b"odd ", b"xyz", "odd chunk"),
                      (b"cut ", b"tail", "cut chunk")]


# ---------------------------------------------------------------------------
# declared-size bombs: each raises ValueError in < 1 s under 256 MB
# ---------------------------------------------------------------------------

_IMG = np.random.default_rng(3).integers(0, 256, (12, 16, 3), dtype=np.uint8)


def _raises_bounded(fn, raw):
    tracemalloc.start()
    t0 = time.perf_counter()
    try:
        with pytest.raises(ValueError):
            fn(raw)
        elapsed = time.perf_counter() - t0
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert elapsed < 1.0 and peak < 256 << 20, (elapsed, peak)


def test_gif_screen_bomb_raises():
    raw = bytearray(gif.encode_gif([_IMG]))
    struct.pack_into("<HH", raw, 6, 40000, 40000)  # logical screen
    _raises_bounded(gif.decode_gif, bytes(raw))


def test_rle8_avi_canvas_bomb_raises():
    raw = bytearray(avi.rle8_avi_bytes([_IMG[..., 0], _IMG[..., 1]]))
    strf = bytes(raw).index(b"strf") + 8
    struct.pack_into("<ii", raw, strf + 4, 40000, 40000)  # biWidth, biHeight
    _raises_bounded(avi.decode_avi, bytes(raw))


def test_jpeg_sof_bomb_raises():
    raw = bytearray(jpeg.jpeg_bytes(_IMG))
    sof = bytes(raw).index(b"\xff\xc0") + 5  # marker, length, precision
    struct.pack_into(">HH", raw, sof, 30000, 30000)
    _raises_bounded(jpeg.decode_jpeg, bytes(raw))


def test_webp_vp8l_dimension_bomb_raises():
    raw = bytearray(webp.webp_bytes(_IMG))
    (bits,) = struct.unpack_from("<I", raw, 21)  # after RIFF, VP8L, 0x2F
    bits = (bits & ~((1 << 28) - 1)) | 16382 | (16382 << 14)
    struct.pack_into("<I", raw, 21, bits)  # 16383 x 16383
    _raises_bounded(webp.decode_webp, bytes(raw))


def test_png_inflate_bomb_raises():
    z = zlib.compressobj(9)
    zeros = b"\x00" * (1 << 20)
    idat = b"".join(z.compress(zeros) for _ in range(512)) + z.flush()
    ihdr = struct.pack(">IIBBBBB", 16, 12, 8, 2, 0, 0, 0)

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body)))

    raw = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
           + chunk(b"IEND", b""))
    _raises_bounded(multimodal.decode_png, raw)


def test_avro_schema_missing_key_is_valueerror():
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "n", "type": "long"}]}
    blob = avrofile.write_container(schema, [{"n": 1}], codec="null")
    key = json.dumps("fields").encode()
    assert blob.count(key) == 1
    bad = blob.replace(key, b'"fielda"')  # same length: header stays valid
    with pytest.raises(ValueError, match="missing key 'fields'"):
        avrofile.parse_container(bad)


# ---------------------------------------------------------------------------
# adoption guard
# ---------------------------------------------------------------------------

ADOPTED = ("mp4", "ebml", "ogg", "mp3", "avi", "flac", "gif", "webp", "jpeg",
           "avrofile", "audio", "multimodal")
#: the entropy bit readers read their own bit streams
BIT_READERS = {("flac", "_Bits"), ("webp", "BitReader"),
               ("jpeg", "_BitReader")}


def _is_writer(name):
    return name.endswith("_bytes") or name.startswith(("encode_", "write_"))


def _tree(module):
    with open(os.path.join(ROOT, "dcspark", module + ".py"),
              encoding="utf-8") as f:
        return ast.parse(f.read())


def _byte_parse_calls(module):
    """[(top-level def, call)] of struct.unpack*/struct.Struct/int.from_bytes
    calls outside the named exemptions."""
    out = []
    for top in _tree(module).body:
        name = getattr(top, "name", None)
        if (module, name) in BIT_READERS or (name and _is_writer(name)):
            continue
        for node in ast.walk(top):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and isinstance(node.func.value, ast.Name)):
                owner, attr = node.func.value.id, node.func.attr
                if ((owner == "struct" and ("unpack" in attr
                                            or attr == "Struct"))
                        or (owner == "int" and attr == "from_bytes")):
                    out.append((name, f"{owner}.{attr}"))
    return out


@pytest.mark.parametrize("module", ADOPTED)
def test_adopted_modules_read_bytes_only_through_binread(module):
    assert _byte_parse_calls(module) == []


@pytest.mark.parametrize("module", ADOPTED)
def test_adopted_modules_catch_no_struct_error(module):
    handlers = [node for node in ast.walk(_tree(module))
                if isinstance(node, ast.ExceptHandler) and node.type]
    assert not [h for h in handlers if "struct.error" in ast.unparse(h.type)]


def test_riff_walk_lives_in_binread_only():
    walkers = set()
    for module in ADOPTED:
        for top in _tree(module).body:
            for node in ast.walk(top):
                if (isinstance(node, ast.Attribute)
                        and node.attr == "riff_chunks"):
                    walkers.add((module, top.name))
    assert walkers == {("audio", "_walk_wav_header"), ("avi", "decode_avi"),
                       ("webp", "decode_webp"), ("webp", "decode_webp_alpha")}
    assert "riff_chunks" in dir(binread.Reader)
