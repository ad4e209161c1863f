"""Perceptual image dedup: dHash invariances + blocked near-dup pairs."""

import numpy as np
import pytest

from dcspark.imagefp import dhash, image_fingerprints, image_near_dup
from dcspark.jpeg import jpeg_bytes
from dcspark import multimodal
from pyspark.sql import functions as F


def _photo(seed, h=48, w=64):
    """Smooth random 'photo': low-frequency noise (JPEG- and resize-stable)."""
    rng = np.random.default_rng(seed)
    base = rng.uniform(0, 255, (6, 8, 3))
    yi = np.linspace(0, 5, h)
    xi = np.linspace(0, 7, w)
    up = np.empty((h, w, 3))
    for c in range(3):
        col = np.array([np.interp(xi, np.arange(8), base[r, :, c]) for r in range(6)])
        up[..., c] = np.array([np.interp(yi, np.arange(6), col[:, j]) for j in range(w)]).T
    return up.astype(np.uint8)


def _ham(a, b):
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_dhash_survives_reencode_resize_brightness():
    px = _photo(1)
    h0 = dhash(px)
    # jpeg re-encode at q60
    from dcspark.jpeg import decode_jpeg
    _, _, _, re = decode_jpeg(jpeg_bytes(px, quality=60))
    assert _ham(h0, dhash(re)) <= 3
    # 2x resize (nearest)
    big = px.repeat(2, axis=0).repeat(2, axis=1)
    assert _ham(h0, dhash(big)) <= 3
    # brightness shift
    brighter = np.clip(px.astype(np.int16) + 30, 0, 255).astype(np.uint8)
    assert _ham(h0, dhash(brighter)) <= 3


def test_dhash_separates_unrelated_images():
    hams = [_ham(dhash(_photo(i)), dhash(_photo(i + 100))) for i in range(12)]
    assert min(hams) > 10  # unrelated photos are far apart


def test_image_near_dup_finds_planted_pairs(spark):
    rows = []
    for i in range(30):
        px = _photo(i)
        rows.append((f"img-{i:02d}", bytearray(multimodal.png_bytes(px))))
    # planted near-dups: jpeg re-encode + brightness variant of img-00
    base = _photo(0)
    rows.append(("dup-jpeg", bytearray(jpeg_bytes(base, quality=70))))
    bright = np.clip(base.astype(np.int16) + 25, 0, 255).astype(np.uint8)
    rows.append(("dup-bright", bytearray(multimodal.bmp_bytes(bright))))
    rows.append(("broken", bytearray(b"not an image")))
    df = spark.createDataFrame(rows, "id string, bytes binary")
    pairs = {(r["id_a"], r["id_b"]) for r in image_near_dup(df).collect()}
    assert ("dup-jpeg", "img-00") in pairs or ("img-00", "dup-jpeg") in pairs
    assert ("dup-bright", "img-00") in pairs or ("img-00", "dup-bright") in pairs
    # no unrelated pair sneaks in
    for a, b in pairs:
        assert "img-00" in (a, b) or {a, b} <= {"dup-jpeg", "dup-bright"}


def test_bucket_cap_bounds_degenerate_mass(spark):
    flat = np.full((16, 16, 3), 128, np.uint8)
    rows = [(f"flat-{i:03d}", bytearray(multimodal.bmp_bytes(flat)))
            for i in range(60)]
    df = spark.createDataFrame(rows, "id string, bytes binary")
    # 60 identical hashes -> every block bucket holds 60 > cap -> 0 candidates
    assert image_near_dup(df, max_bucket=50).count() == 0
    # with the cap off the quadratic mass appears (sanity of the guard)
    assert image_near_dup(df, max_bucket=None).count() == 60 * 59 // 2


def test_fingerprints_frame(spark):
    df = spark.createDataFrame(
        [("a", bytearray(multimodal.png_bytes(_photo(3)))),
         ("bad", bytearray(b"zzz"))], "id string, bytes binary")
    got = {r["id"]: r for r in image_fingerprints(df).collect()}
    assert got["a"]["dhash"] is not None and got["a"]["width"] == 64
    assert got["bad"]["decode_error"] is not None


def test_negative_dhash_block_keys_mask_not_mod(spark):
    """Block keys must mask, not '%': Spark's % keeps the dividend's sign,
    so a negative int64 dhash would get a block-0 key that never equi-joins
    a positive hash with identical low 16 bits."""
    from pyspark.sql import functions as SF

    neg = -9223366539293486540  # bit 63 set, low 16 bits 0x1234
    pos = 0x1234
    df = spark.createDataFrame([(neg,), (pos,)], "dhash long")
    keys = [r[0] for r in df.select(
        SF.shiftrightunsigned(SF.col("dhash"), 0)
        .bitwiseAND(SF.lit(0xFFFF)).alias("b0")).collect()]
    assert keys[0] == keys[1] == 0x1234
    # and end to end: two rasters differing only in the top-left grid cells
    # (high-order hash bits) must still pair when Hamming allows
    a = _photo(7)
    b = a.copy()
    b[:6, :8] = 255
    ha, hb = dhash(a), dhash(b)
    rows = [("x", bytearray(multimodal.bmp_bytes(a))),
            ("y", bytearray(multimodal.bmp_bytes(b)))]
    got = image_near_dup(
        spark.createDataFrame(rows, "id string, bytes binary")).count()
    assert got == (1 if _ham(ha, hb) <= 3 else 0)


def test_tiny_images_resize_invariant():
    """8px-wide thumbnails must hash close to their 2x upsamples (the
    grid+1 column grid used to leave an empty edge cell)."""
    rng = np.random.default_rng(5)
    small = (np.repeat(np.repeat(rng.uniform(60, 200, (4, 4)), 2, 0), 2, 1)
             ).astype(np.uint8)  # 8x8 smooth
    big = small.repeat(2, axis=0).repeat(2, axis=1)
    assert _ham(dhash(small), dhash(big)) <= 3


def test_corrupt_png_idat_is_row_error_not_crash(spark):
    import zlib as _zlib

    good = multimodal.png_bytes(_photo(1))
    bad = bytearray(good)
    i = good.find(b"IDAT") + 10
    for j in range(i, i + 20):
        bad[j] ^= 0x5A
    df = spark.createDataFrame(
        [("z", bytes(bad))], "id string, bytes binary")
    rows = image_fingerprints(df).collect()
    assert len(rows) == 1 and rows[0]["decode_error"] is not None


def test_image_decode_conformance_contract_rule(spark):
    """type: image, invariant: decode-conformance as a first-class contract
    rule: undecodable payloads and dimension lies fail; clean tables pass."""
    from dcspark import DataContractSpecification, ValidationConfig, validate
    from dcspark.run_model import ResultEnum

    contract = """
id: image-contract
models:
  images:
    fields:
      image_id: {type: string, primaryKey: true}
      bytes: {type: bytes}
      width: {type: integer}
      height: {type: integer}
    quality:
      - type: image
        invariant: decode-conformance
        column: bytes
        width_column: width
        height_column: height
"""
    spec = DataContractSpecification.from_string(contract)
    ddl = "image_id string, bytes binary, width int, height int"
    rows = [(f"ok-{i}", bytearray(multimodal.png_bytes(_photo(i))), 64, 48)
            for i in range(6)]
    good = spark.createDataFrame(rows, ddl)
    res = validate(spark, spec, {"images": good}, ValidationConfig())
    assert res.run.result == ResultEnum.passed, [
        (c.key, c.result, c.reason) for c in res.run.checks]

    bad_rows = rows[:4] + [
        ("broken", bytearray(b"not an image"), 64, 48),
        ("liar", bytearray(multimodal.png_bytes(_photo(9))), 640, 480),
    ]
    bad = spark.createDataFrame(bad_rows, ddl)
    res2 = validate(spark, spec, {"images": bad}, ValidationConfig())
    chk = [c for c in res2.run.checks if "image_decode" in c.key][0]
    assert chk.result == ResultEnum.failed
    assert res2.metrics[chk.key] == 2
    vio_ids = {r["clip_id"] for r in res2.violations.filter(
        F.col("check_key") == chk.key).collect()}
    assert vio_ids == {"broken", "liar"}


def test_image_rule_null_pk_null_dims_and_dup_pk(spark):
    """Fifth-review regressions: a NULL-pk corrupt row must still count
    (left join), a NULL declared dimension is a violation (null-safe
    compare), and duplicate pks must not fan out the metric."""
    from dcspark import DataContractSpecification, ValidationConfig, validate
    from dcspark.run_model import ResultEnum

    contract = """
id: image-edge
models:
  images:
    fields:
      image_id: {type: string, primaryKey: true}
      bytes: {type: bytes}
      width: {type: integer}
      height: {type: integer}
    quality:
      - {type: image, invariant: decode-conformance, column: bytes,
         width_column: width, height_column: height}
"""
    spec = DataContractSpecification.from_string(contract)
    ddl = "image_id string, bytes binary, width int, height int"
    png = bytearray(multimodal.png_bytes(_photo(1)))
    rows = [
        (None, bytearray(b"junk-payload"), 64, 48),   # NULL pk + corrupt
        ("nullw", png, None, 48),                      # NULL declared width
        ("dup", png, 64, 48),                          # duplicate pk (valid)
        ("dup", bytearray(b"other-junk"), 64, 48),     # duplicate pk (corrupt)
        ("ok", png, 64, 48),
    ]
    res = validate(spark, spec,
                   {"images": spark.createDataFrame(rows, ddl)},
                   ValidationConfig())
    chk = [c for c in res.run.checks if "image_decode" in c.key][0]
    assert chk.result == ResultEnum.failed
    # null-pk corrupt + null-width + ONE of the dup rows = 3 (no fan-out)
    assert res.metrics[chk.key] == 3


def test_image_rule_unknown_invariant_rejected():
    from dcspark.compile import check_image_decode
    from dcspark.spec import Quality

    with pytest.raises(ValueError, match="unknown image invariant"):
        check_image_decode("m", Quality(type="image",
                                        invariant="palette-drift"), 0)


def test_suggest_drafts_image_rule(spark):
    """suggest on an image-shaped table drafts the decode-conformance rule,
    and the drafted contract validates the same data green."""
    import yaml

    from dcspark import DataContractSpecification, ValidationConfig, validate
    from dcspark.run_model import ResultEnum
    from dcspark.suggest import suggest_contract

    ddl = "image_id string, bytes binary, width int, height int"
    rows = [(f"s-{i}", bytearray(multimodal.png_bytes(_photo(i))), 64, 48)
            for i in range(8)]
    df = spark.createDataFrame(rows, ddl)
    text = suggest_contract({"images": df})
    drafted = yaml.safe_load(text)
    q = drafted["models"]["images"]["quality"]
    assert any(r.get("type") == "image" for r in q), q
    spec = DataContractSpecification.from_string(text)
    res = validate(spark, spec, {"images": df}, ValidationConfig())
    assert res.run.result == ResultEnum.passed, [
        (c.key, c.result, c.reason) for c in res.run.checks
        if c.result != ResultEnum.passed]


def test_decode_error_in_batch_keeps_hashes_bit_exact(spark):
    """Int64-precision regression: a corrupt payload in the same Arrow batch
    used to coerce the pandas dhash column to float64, rounding the low bits
    of every OTHER image's hash in that batch (-....65805 -> -....66112) and
    silently dropping near-dup pairs. Nullable Int64 keeps every bit."""
    px = _photo(4)
    rows_clean = [("a", bytearray(multimodal.png_bytes(px)))]
    rows_mixed = rows_clean + [("bad", bytearray(b"corrupt-image-payload"))]
    ddl = "id string, bytes binary"
    solo = image_fingerprints(
        spark.createDataFrame(rows_clean, ddl).coalesce(1)).collect()[0]
    mixed = {r["id"]: r for r in image_fingerprints(
        spark.createDataFrame(rows_mixed, ddl).coalesce(1)).collect()}
    assert mixed["bad"]["decode_error"] is not None
    assert mixed["a"]["dhash"] == solo["dhash"] == dhash(px) - (
        (1 << 64) if dhash(px) >= (1 << 63) else 0)


# ---------------------------------------------------------------------------
# eval-set contamination (visual decontam)
# ---------------------------------------------------------------------------

def _contam_fixture(spark):
    from dcspark.imagefp import image_fingerprints

    corpus_rows = [(f"c-{i:02d}", bytearray(multimodal.png_bytes(_photo(i))))
                   for i in range(20)]
    corpus_rows.append(("c-corrupt", bytearray(b"junk")))
    # eval set: two fresh benchmarks + a re-encode of corpus photo 4
    eval_rows = [("e-0", bytearray(multimodal.png_bytes(_photo(300)))),
                 ("e-1", bytearray(multimodal.png_bytes(_photo(301)))),
                 ("e-leak", bytearray(jpeg_bytes(_photo(4), quality=75)))]
    ddl = "id string, bytes binary"
    cfp = image_fingerprints(spark.createDataFrame(corpus_rows, ddl))
    efp = image_fingerprints(spark.createDataFrame(eval_rows, ddl))
    return cfp, efp


def test_image_cross_contamination_finds_reencoded_leak(spark):
    from dcspark.imagefp import image_cross_contamination

    cfp, efp = _contam_fixture(spark)
    hits = image_cross_contamination(cfp, efp).collect()
    assert {(r["id"], r["eval_id"]) for r in hits} == {("c-04", "e-leak")}
    assert all(r["hamming"] <= 3 for r in hits)


def test_image_contaminated_ids_drop_list(spark):
    from dcspark.imagefp import image_contaminated_ids

    corpus = spark.createDataFrame(
        [(f"c-{i:02d}", bytearray(multimodal.png_bytes(_photo(i))))
         for i in range(8)], "id string, bytes binary")
    eval_df = spark.createDataFrame(
        [("e", bytearray(multimodal.bmp_bytes(_photo(2))))],
        "id string, bytes binary")
    ids = [r["id"] for r in image_contaminated_ids(corpus, eval_df).collect()]
    assert ids == ["c-02"]


def test_image_contamination_eval_bucket_guard(spark):
    """Solid-card eval images all hash to dHash 0 (non-discriminative);
    above the eval bucket cap they must be dropped, not matched against
    every flat corpus image."""
    from dcspark.imagefp import image_cross_contamination, image_fingerprints

    flat = np.full((16, 16, 3), 200, np.uint8)
    corpus = spark.createDataFrame(
        [(f"c-{i}", bytearray(multimodal.bmp_bytes(flat))) for i in range(6)],
        "id string, bytes binary")
    evals = spark.createDataFrame(
        [(f"e-{i}", bytearray(multimodal.bmp_bytes(flat))) for i in range(6)],
        "id string, bytes binary")
    cfp, efp = image_fingerprints(corpus), image_fingerprints(evals)
    assert image_cross_contamination(cfp, efp, max_eval_bucket=5).count() == 0
    # guard off (cap above the mass): the degenerate matches appear
    assert image_cross_contamination(cfp, efp, max_eval_bucket=10).count() == 36


def test_image_contamination_broadcast_plan(spark):
    """The corpus probe must be a broadcast hash join — zero corpus shuffle
    (the eval side is benchmark-sized by assumption)."""
    from dcspark.imagefp import image_cross_contamination

    cfp, efp = _contam_fixture(spark)
    plan = image_cross_contamination(cfp, efp)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_contamination_and_near_dup_decode_corpus_once(spark):
    """The posexplode single-join shape: one action over
    image_contaminated_ids decodes every payload exactly once (the
    per-block join-loop it replaced re-evaluated the unpersisted
    fingerprint lineage four times); so does image_near_dup, whose bucket
    census and anti-join read one persisted frame."""
    from dcspark import imagefp
    from dcspark.imagefp import image_contaminated_ids, image_near_dup
    from dcspark.multimodal import real_image_decoder

    acc = spark.sparkContext.accumulator(0)

    def counting(raw):
        acc.add(1)
        return real_image_decoder(raw)

    n, m = 10, 3
    corpus = spark.createDataFrame(
        [(f"c-{i}", bytearray(multimodal.png_bytes(_photo(i))))
         for i in range(n)], "id string, bytes binary")
    evals = spark.createDataFrame(
        [(f"e-{i}", bytearray(multimodal.png_bytes(_photo(400 + i))))
         for i in range(m)], "id string, bytes binary")
    image_contaminated_ids(corpus, evals, decoder=counting).collect()
    assert acc.value == n + m, acc.value

    acc2 = spark.sparkContext.accumulator(0)

    def counting2(raw):
        acc2.add(1)
        return real_image_decoder(raw)

    image_near_dup(corpus, decoder=counting2).collect()
    assert acc2.value == n, acc2.value
