"""Multimodal binary-column plumbing: image/video (stub and real decoders)."""

import hashlib
import struct
import sys
from typing import Tuple

import numpy as np
import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F

from dcspark import multimodal


def fake_image_decoder(raw: bytes) -> Tuple[int, int, int, np.ndarray]:
    """Deterministic stand-in decoder: dimensions + pixels derived from the
    payload hash. Exercises the full Spark path with knowable outputs."""
    if raw is None or len(raw) == 0:
        raise ValueError("empty image payload")
    h = hashlib.md5(raw).digest()
    height = 8 + h[0] % 56
    width = 8 + h[1] % 56
    channels = 3
    rng = np.random.default_rng(int.from_bytes(h[2:10], "little"))
    pixels = rng.integers(0, 256, size=(height, width, channels), dtype=np.uint8)
    return height, width, channels, pixels


def fake_video_decoder(raw: bytes) -> Tuple[float, list]:
    """Deterministic stand-in video decoder: n_frames/fps from payload hash."""
    if raw is None or len(raw) == 0:
        raise ValueError("empty video payload")
    h = hashlib.md5(raw).digest()
    fps = 10.0 + (h[0] % 21)
    n_frames = 4 + h[1] % 29
    rng = np.random.default_rng(int.from_bytes(h[2:10], "little"))
    frames = [
        rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8) for _ in range(n_frames)
    ]
    return fps, frames


# the stand-in decoders run inside Python workers, which cannot import this
# test module: ship its functions by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])


@pytest.fixture(scope="module")
def image_df(spark):
    rows = [(f"img-{i}", bytes([i]) * (100 + i)) for i in range(20)]
    return spark.createDataFrame(rows, schema="id string, bytes binary")


def test_image_metadata_fake_decoder(spark, image_df):
    out = multimodal.image_metadata(image_df, decoder=fake_image_decoder)
    rows = {r["id"]: r for r in out.collect()}
    assert len(rows) == 20
    assert all(r["decode_error"] is None for r in rows.values())
    assert all(8 <= r["width"] <= 64 and 8 <= r["height"] <= 64 for r in rows.values())
    # deterministic: same payload -> same metadata
    again = {r["id"]: r for r in multimodal.image_metadata(
        image_df, decoder=fake_image_decoder).collect()}
    assert {k: (v["width"], v["height"], v["mean_luma"]) for k, v in rows.items()} == \
           {k: (v["width"], v["height"], v["mean_luma"]) for k, v in again.items()}


def test_image_metadata_default_decoder_errors(spark, image_df):
    """Garbage payloads surface a per-row decode_error; a corrupt JPEG body
    surfaces the real decoder's malformed-stream error (PNG and JPEG are both
    real decoders now); WebP magic surfaces the pluggable-codec message."""
    out = multimodal.image_metadata(image_df)  # default: real sniffing decoder
    rows = out.collect()
    assert all(r["decode_error"] is not None for r in rows)
    assert "unrecognized image container" in rows[0]["decode_error"]
    jpeg_df = spark.createDataFrame(
        [("j", b"\xff\xd8\xff\xe0" + b"x" * 100)], "id string, bytes binary")
    jrow = multimodal.image_metadata(jpeg_df).first()
    assert jrow["decode_error"] in ("no SOS scan found",) or \
        "JPEG" in jrow["decode_error"] or "marker" in jrow["decode_error"]
    webp_df = spark.createDataFrame(
        [("w", b"RIFF\x00\x00\x00\x00WEBPx" + b"x" * 50)], "id string, bytes binary")
    wrow = multimodal.image_metadata(webp_df).first()
    assert "VP8L" in wrow["decode_error"]  # junk chunks: no lossless stream


def _checker(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    px = np.zeros((h, w, 3), dtype=np.uint8)
    px[..., 0] = ((yy + xx) % 2) * 255
    px[..., 1] = (xx * 255 // max(w - 1, 1)).astype(np.uint8)
    px[..., 2] = (yy * 255 // max(h - 1, 1)).astype(np.uint8)
    return px


def test_real_bmp_and_ppm_decode_roundtrip(spark):
    """BMP and netpbm are REAL numpy decoders (no codec libs): encoded pixels
    come back bit-identical through the Spark image pipeline."""
    px = _checker(9, 13)  # odd width exercises BMP row padding
    rows = [
        ("bmp", multimodal.bmp_bytes(px)),
        ("ppm", multimodal.ppm_bytes(px)),
        ("pgm", multimodal.ppm_bytes(px[..., 0])),
    ]
    df = spark.createDataFrame(rows, "id string, bytes binary")
    meta = {r["id"]: r for r in multimodal.image_metadata(df).collect()}
    assert all(r["decode_error"] is None for r in meta.values()), meta
    for k in ("bmp", "ppm"):
        assert (meta[k]["height"], meta[k]["width"], meta[k]["channels"]) == (9, 13, 3)
        assert abs(meta[k]["mean_luma"] - float(px.mean())) < 1e-9
    assert meta["pgm"]["channels"] == 1
    # bit-exact pixel recovery, both containers
    h, w, c, out_bmp = multimodal.decode_bmp(multimodal.bmp_bytes(px))
    assert np.array_equal(out_bmp, px)
    h, w, c, out_ppm = multimodal.decode_netpbm(multimodal.ppm_bytes(px))
    assert np.array_equal(out_ppm, px)
    # netpbm header comments handled
    commented = b"P6\n# a comment\n13 9\n255\n" + px.tobytes()
    _, _, _, out_c = multimodal.decode_netpbm(commented)
    assert np.array_equal(out_c, px)


def test_real_decoder_resize_path(spark):
    px = _checker(32, 24)
    df = spark.createDataFrame(
        [("a", multimodal.bmp_bytes(px))], "id string, bytes binary")
    out = multimodal.image_resize(df, target=(8, 6)).first()
    assert out["decode_error"] is None
    resized = np.frombuffer(out["pixels"], dtype=np.uint8).reshape(8, 6, 3)
    yi = (np.arange(8) * 32 // 8)
    xi = (np.arange(6) * 24 // 6)
    assert np.array_equal(resized, px[yi][:, xi])


def test_image_resize_shape(spark, image_df):
    out = multimodal.image_resize(
        image_df, target=(16, 12), decoder=fake_image_decoder)
    rows = out.collect()
    assert all(r["height"] == 16 and r["width"] == 12 for r in rows)
    assert all(len(r["pixels"]) == 16 * 12 * 3 for r in rows)


def test_video_frame_sample_bounded(spark, image_df):
    out = multimodal.video_frame_sample(
        image_df, every_n=3, max_frames=4, decoder=fake_video_decoder)
    rows = out.collect()
    per_id = {}
    for r in rows:
        per_id.setdefault(r["id"], []).append(r)
    assert len(per_id) == 20
    for frames in per_id.values():
        assert 1 <= len(frames) <= 4
        assert all(f["decode_error"] is None for f in frames)
        assert all(f["frame_idx"] % 3 == 0 for f in frames)
        assert all(len(f["frame"]) == 16 * 16 * 3 for f in frames)


def _png_frame_decoder(raw: bytes) -> Tuple[float, list]:
    """A PNG payload as a one-frame video, so the frame sampler meets the
    PNG decoder's errors."""
    _h, _w, _c, px = multimodal.decode_png(raw)
    return 25.0, [px]


def _corrupt_pngs():
    """(corrupt IDAT stream, IHDR length 5): both raise ValueError."""
    raw = multimodal.png_bytes(np.zeros((4, 4, 3), dtype=np.uint8))
    idat = raw.index(b"IDAT") + 4
    bad_idat = raw[:idat] + b"\x00" * 12 + raw[idat + 12:]
    bad_ihdr = raw[:8] + struct.pack(">I", 5) + raw[12:]
    return [("idat", bad_idat), ("ihdr", bad_ihdr)]


@pytest.mark.parametrize("op", [
    multimodal.image_metadata,
    multimodal.image_resize,
    multimodal.image_transcode,
    lambda df: multimodal.video_frame_sample(df, decoder=_png_frame_decoder),
], ids=["metadata", "resize", "transcode", "frame_sample"])
def test_corrupt_png_is_one_decode_error_row(spark, op):
    """A corrupt IDAT stream and a short IHDR each raise ValueError and
    become one decode_error row instead of failing the task."""
    for _id, raw in _corrupt_pngs():
        with pytest.raises(ValueError):
            multimodal.decode_png(raw)
    df = spark.createDataFrame(_corrupt_pngs(), "id string, bytes binary")
    rows = op(df).collect()
    assert sorted(r["id"] for r in rows) == ["idat", "ihdr"]
    errors = {r["id"]: r["decode_error"] for r in rows}
    assert "PNG zlib stream corrupt" in errors["idat"]
    assert "PNG IHDR chunk is 5 bytes, not 13" in errors["ihdr"]


# ---------------------------------------------------------------------------
# PNG: the one real COMPRESSED codec (stdlib zlib + numpy, VERDICT r02 next #5)
# ---------------------------------------------------------------------------

def test_png_roundtrip_all_filter_types():
    """Every PNG scanline filter type (0 None, 1 Sub, 2 Up, 3 Average,
    4 Paeth) decodes bit-exactly, for gray / gray+alpha / RGB / RGBA."""
    rng = np.random.RandomState(7)
    for c in (1, 2, 3, 4):
        px = rng.randint(0, 256, size=(11, 7, c), dtype=np.uint8)
        for f in range(5):
            raw = multimodal.png_bytes(px, row_filters=f)
            h, w, ch, out = multimodal.decode_png(raw)
            assert (h, w, ch) == (11, 7, c), (f, c)
            assert np.array_equal(out, px), f"filter {f} channels {c}"
    # mixed per-row filters in one image
    px = rng.randint(0, 256, size=(10, 5, 3), dtype=np.uint8)
    raw = multimodal.png_bytes(px, row_filters=[0, 1, 2, 3, 4, 4, 3, 2, 1, 0])
    assert np.array_equal(multimodal.decode_png(raw)[3], px)


def test_png_corrupt_and_unsupported_surface_as_errors():
    px = np.zeros((4, 4, 3), dtype=np.uint8)
    raw = multimodal.png_bytes(px)
    with pytest.raises(ValueError, match="not a PNG"):
        multimodal.decode_png(b"garbage")
    with pytest.raises(ValueError):
        multimodal.decode_png(raw[:40] + b"\x00" * 8)  # corrupted IDAT stream
    # 16-bit depth rejected cleanly
    bad = bytearray(raw)
    bad[24] = 16  # IHDR bit_depth byte
    with pytest.raises(ValueError, match="unsupported PNG"):
        multimodal.decode_png(bytes(bad))


def test_png_through_spark_image_pipeline(spark):
    """PNG payloads ride the same Arrow-batch metadata/resize plumbing as the
    uncompressed codecs — plan unchanged, bit-exact pixels back."""
    px = _checker(12, 9)
    rows = [("png", bytes(multimodal.png_bytes(px))),
            ("bad", b"\x89PNG\r\n\x1a\n" + b"junk")]
    df = spark.createDataFrame(rows, "id string, bytes binary")
    out = {r["id"]: r for r in multimodal.image_metadata(df).collect()}
    ok = out["png"]
    assert (ok["height"], ok["width"], ok["channels"]) == (12, 9, 3)
    assert ok["decode_error"] is None
    assert out["bad"]["decode_error"] is not None
    resized = multimodal.image_resize(
        df.filter(F.col("id") == "png"), (6, 3)).first()
    assert resized["decode_error"] is None
    assert (resized["height"], resized["width"]) == (6, 3)


def test_image_transcode_mixed_corpus_to_jpeg(spark):
    """BMP + PNG + gray-JPEG inputs all normalize to baseline JPEG; the
    outputs re-decode with the right dimensions and reasonable fidelity."""
    from dcspark.jpeg import decode_jpeg, jpeg_bytes, psnr

    yy, xx = np.mgrid[0:24, 0:32]
    px = np.stack([(xx * 255 // 31), (yy * 255 // 23),
                   ((xx + yy) * 255 // 54)], axis=-1).astype(np.uint8)
    rows = [("bmp", bytearray(multimodal.bmp_bytes(px))),
            ("png", bytearray(multimodal.png_bytes(px))),
            ("jpg", bytearray(jpeg_bytes(px[:, :, 0], quality=90))),
            ("bad", bytearray(b"nope"))]
    df = spark.createDataFrame(rows, "id string, bytes binary")
    got = {r["id"]: r for r in
           multimodal.image_transcode(df, target_format="jpeg",
                                      quality=90).collect()}
    for rid in ("bmp", "png"):
        r = got[rid]
        assert r["decode_error"] is None and r["format"] == "jpeg"
        h, w, c, dec = decode_jpeg(bytes(r["bytes"]))
        assert (h, w, c) == (24, 32, 3)
        assert psnr(px, dec) > 30.0
    g = got["jpg"]
    h, w, c, _dec = decode_jpeg(bytes(g["bytes"]))
    assert (h, w, c) == (24, 32, 1) and g["channels"] == 1
    assert got["bad"]["decode_error"] is not None


def test_image_transcode_png_lossless(spark):
    from dcspark.jpeg import jpeg_bytes

    px = _checker(16, 16)
    df = spark.createDataFrame(
        [("a", bytearray(multimodal.bmp_bytes(px)))], "id string, bytes binary")
    r = multimodal.image_transcode(df, target_format="png").collect()[0]
    h, w, c, dec = multimodal.decode_png(bytes(r["bytes"]))
    assert (h, w, c) == (16, 16, 3)
    import numpy as np
    assert np.array_equal(dec, px)


def test_image_transcode_gray_alpha_to_jpeg(spark):
    """Gray+alpha PNGs (color type 4) must transcode to grayscale JPEG, not
    get mis-quarantined as undecodable."""
    rng = np.random.RandomState(3)
    ga = rng.randint(0, 256, size=(12, 10, 2), dtype=np.uint8)
    df = spark.createDataFrame(
        [("ga", bytearray(multimodal.png_bytes(ga)))], "id string, bytes binary")
    r = multimodal.image_transcode(df, target_format="jpeg").collect()[0]
    assert r["decode_error"] is None
    from dcspark.jpeg import decode_jpeg
    h, w, c, _ = decode_jpeg(bytes(r["bytes"]))
    assert (h, w, c) == (12, 10, 1)
