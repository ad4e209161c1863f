"""`type: video, invariant: decode-conformance` — the video contract rule.

Stream-header conformance on REAL Motion-JPEG AVI payloads (dcspark/avi.py):
declared fps / frame-count / dims must match the decoded stream; corrupt or
foreign-codec payloads fail; NULL declared values are violations (null-safe
semantics shared with the image rule)."""

import numpy as np
import pytest

from dcspark import DataContractSpecification, ValidationConfig, validate
from dcspark import multimodal
from dcspark.avi import avi_bytes
from dcspark.run_model import ResultEnum
from pyspark.sql import functions as F


def _frames(n=4, h=16, w=20, phase=0):
    out = []
    for i in range(n):
        yy, xx = np.mgrid[0:h, 0:w]
        f = np.stack([(xx * 255 // (w - 1)),
                      (yy * 255 // (h - 1)),
                      np.full((h, w), ((i + phase) * 40) % 256)],
                     axis=-1).astype(np.uint8)
        out.append(f)
    return out


CONTRACT = """
id: video-contract
models:
  videos:
    fields:
      video_id: {type: string, primaryKey: true}
      bytes: {type: bytes}
      fps: {type: double}
      n_frames: {type: integer}
      width: {type: integer}
      height: {type: integer}
    quality:
      - {type: video, invariant: decode-conformance, column: bytes,
         fps_column: fps, frames_column: n_frames,
         width_column: width, height_column: height}
"""

DDL = ("video_id string, bytes binary, fps double, n_frames int, "
       "width int, height int")


def test_video_metadata_frame(spark):
    raw = avi_bytes(_frames(5, h=16, w=20), fps=12.5)
    df = spark.createDataFrame(
        [("v", bytearray(raw)), ("bad", bytearray(b"not a video"))],
        "id string, bytes binary")
    got = {r["id"]: r for r in multimodal.video_metadata(df).collect()}
    assert got["v"]["fps"] == pytest.approx(12.5)
    assert got["v"]["n_frames"] == 5
    assert (got["v"]["width"], got["v"]["height"]) == (20, 16)
    assert got["bad"]["decode_error"] is not None


def test_video_rule_pass_and_fail(spark):
    spec = DataContractSpecification.from_string(CONTRACT)
    ok = avi_bytes(_frames(4), fps=25.0)
    good = spark.createDataFrame(
        [(f"v-{i}", bytearray(avi_bytes(_frames(4, phase=i), fps=25.0)),
          25.0, 4, 20, 16) for i in range(3)], DDL)
    res = validate(spark, spec, {"videos": good}, ValidationConfig())
    assert res.run.result == ResultEnum.passed, [
        (c.key, c.result, c.reason) for c in res.run.checks]

    rows = [
        ("ok", bytearray(ok), 25.0, 4, 20, 16),
        ("corrupt", bytearray(b"RIFFxxxxAVI corrupted"), 25.0, 4, 20, 16),
        ("fps-lie", bytearray(ok), 30.0, 4, 20, 16),
        ("count-lie", bytearray(ok), 25.0, 9, 20, 16),
        ("dim-lie", bytearray(ok), 25.0, 4, 1920, 1080),
        ("null-fps", bytearray(ok), None, 4, 20, 16),
    ]
    res2 = validate(spark, spec,
                    {"videos": spark.createDataFrame(rows, DDL)},
                    ValidationConfig())
    chk = [c for c in res2.run.checks if "video_decode" in c.key][0]
    assert chk.result == ResultEnum.failed
    assert res2.metrics[chk.key] == 5
    vio = {r["clip_id"] for r in res2.violations.filter(
        F.col("check_key") == chk.key).collect()}
    assert vio == {"corrupt", "fps-lie", "count-lie", "dim-lie", "null-fps"}


def test_video_rule_fps_tolerance(spark):
    """NTSC-style rates: a 29.97 stream declared as 30.0 passes only when
    fps_tolerance covers the drop-frame gap (the default 0.01 must not)."""
    contract_loose = CONTRACT.replace(
        "         width_column: width, height_column: height}",
        "         width_column: width, height_column: height,\n"
        "         fps_tolerance: 0.05}")
    raw = avi_bytes(_frames(4), fps=29.97)
    rows = [("v", bytearray(raw), 30.0, 4, 20, 16)]
    df = spark.createDataFrame(rows, DDL)
    res = validate(spark,
                   DataContractSpecification.from_string(contract_loose),
                   {"videos": df}, ValidationConfig())
    assert res.run.result == ResultEnum.passed, [
        (c.key, c.result, c.reason) for c in res.run.checks]

    # default tolerance 0.01 < the 0.03 gap -> violation
    res2 = validate(spark, DataContractSpecification.from_string(CONTRACT),
                    {"videos": df}, ValidationConfig())
    chk = [c for c in res2.run.checks if "video_decode" in c.key][0]
    assert chk.result == ResultEnum.failed


def test_video_rule_decode_only(spark):
    """No declared columns: the rule is a pure does-it-decode audit."""
    contract = """
id: video-decode-only
models:
  videos:
    fields:
      video_id: {type: string, primaryKey: true}
      bytes: {type: bytes}
    quality:
      - {type: video, invariant: decode-conformance}
"""
    spec = DataContractSpecification.from_string(contract)
    rows = [("v", bytearray(avi_bytes(_frames(2), fps=10.0))),
            ("mp4", bytearray(b"\x00\x00\x00\x18ftypisom-fake-mp4-payload"))]
    res = validate(spark, spec,
                   {"videos": spark.createDataFrame(
                       rows, "video_id string, bytes binary")},
                   ValidationConfig())
    chk = [c for c in res.run.checks if "video_decode" in c.key][0]
    assert chk.result == ResultEnum.failed
    assert res.metrics[chk.key] == 1  # inter-frame codec seam -> decode_error


def test_video_rule_missing_columns_error(spark):
    spec = DataContractSpecification.from_string(CONTRACT)
    df = spark.createDataFrame([("v", 25.0)], "video_id string, fps double")
    res = validate(spark, spec, {"videos": df}, ValidationConfig())
    chk = [c for c in res.run.checks if "video_decode" in c.key][0]
    assert chk.result == ResultEnum.error


def test_video_rule_unknown_invariant_rejected():
    from dcspark.compile import check_video_decode
    from dcspark.spec import Quality

    with pytest.raises(ValueError, match="unknown video invariant"):
        check_video_decode("m", Quality(type="video",
                                        invariant="motion-drift"), 0)


def test_video_rule_threshold_budget(spark):
    """mustBeLessThanOrEqualTo tolerates a corrupt-payload budget."""
    contract = """
id: video-budget
models:
  videos:
    fields:
      video_id: {type: string, primaryKey: true}
      bytes: {type: bytes}
    quality:
      - {type: video, invariant: decode-conformance,
         mustBeLessThanOrEqualTo: 1}
"""
    spec = DataContractSpecification.from_string(contract)
    rows = [("v", bytearray(avi_bytes(_frames(2), fps=10.0))),
            ("bad", bytearray(b"junk"))]
    res = validate(spark, spec,
                   {"videos": spark.createDataFrame(
                       rows, "video_id string, bytes binary")},
                   ValidationConfig())
    chk = [c for c in res.run.checks if "video_decode" in c.key][0]
    assert chk.result == ResultEnum.passed
    assert res.metrics[chk.key] == 1


def test_suggest_drafts_video_rule(spark):
    """suggest on a video-shaped table drafts the video decode-conformance
    rule (fps/frames/dims columns wired), and the drafted contract
    validates the same data green — even though the table also carries
    width/height (the image branch must not win)."""
    import yaml

    from dcspark.suggest import suggest_contract

    rows = [(f"v-{i}", bytearray(avi_bytes(_frames(3, phase=i), fps=20.0)),
             20.0, 3, 20, 16) for i in range(4)]
    df = spark.createDataFrame(rows, DDL)
    text = suggest_contract({"videos": df})
    doc = yaml.safe_load(text)
    q = doc["models"]["videos"]["quality"]
    assert q[0]["type"] == "video"
    assert q[0]["fps_column"] == "fps" and q[0]["frames_column"] == "n_frames"
    assert q[0]["width_column"] == "width" and q[0]["height_column"] == "height"
    res = validate(spark, DataContractSpecification.from_string(text),
                   {"videos": df}, ValidationConfig())
    assert res.run.result == ResultEnum.passed, [
        (c.key, c.result, c.reason) for c in res.run.checks]


def test_cli_image_and_video_commands(tmp_path, capsys, spark):
    """CLI corpus actions for the non-audio modalities: `image neardup`
    finds a planted re-encode; `video metadata` reports stream headers and
    per-row decode errors."""
    from dcspark.cli import main
    from dcspark.jpeg import jpeg_bytes

    # smooth interpolated 'photo' (the JPEG-stable dHash construction from
    # test_imagefp — blocky repeats ring at block edges and flip tie bits)
    rng = np.random.default_rng(3)
    ctrl = rng.uniform(0, 255, (6, 8, 3))
    yi, xi = np.linspace(0, 5, 48), np.linspace(0, 7, 64)
    base = np.empty((48, 64, 3))
    for c in range(3):
        col = np.array([np.interp(xi, np.arange(8), ctrl[r, :, c])
                        for r in range(6)])
        base[..., c] = np.array([np.interp(yi, np.arange(6), col[:, j])
                                 for j in range(64)]).T
    base = base.astype(np.uint8)
    img_rows = [("a", bytearray(multimodal.png_bytes(base))),
                ("a-re", bytearray(jpeg_bytes(base, quality=85))),
                ("bad", bytearray(b"junk"))]
    img_dir = str(tmp_path / "imgs.parquet")
    spark.createDataFrame(img_rows, "id string, bytes binary").write.parquet(img_dir)
    out1 = str(tmp_path / "pairs")
    assert main(["image", "neardup", "--input", img_dir, "--output", out1]) == 0
    assert "image neardup" in capsys.readouterr().out
    pairs = spark.read.parquet(out1).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {("a", "a-re")}

    vid_rows = [("v", bytearray(avi_bytes(_frames(3), fps=10.0))),
                ("bad", bytearray(b"not a video"))]
    vid_dir = str(tmp_path / "vids.parquet")
    spark.createDataFrame(vid_rows, "id string, bytes binary").write.parquet(vid_dir)
    out2 = str(tmp_path / "meta")
    assert main(["video", "metadata", "--input", vid_dir, "--output", out2]) == 0
    assert "1 decode errors" in capsys.readouterr().out
    meta = {r["id"]: r for r in spark.read.parquet(out2).collect()}
    assert meta["v"]["n_frames"] == 3 and meta["v"]["fps"] == 10.0
    assert meta["bad"]["decode_error"] is not None


# ---------------------------------------------------------------------------
# video perceptual fingerprints: near-dup + decontam
# ---------------------------------------------------------------------------

def _scene(n, seed, h=24, w=32):
    """n smooth frames with per-frame drift (distinct dHashes per video)."""
    rng = np.random.default_rng(seed)
    ctrl = rng.uniform(0, 255, (5, 6, 3))
    out = []
    for t in range(n):
        c = np.clip(ctrl + rng.uniform(-6, 6, ctrl.shape) + t * 2, 0, 255)
        yi, xi = np.linspace(0, 4, h), np.linspace(0, 5, w)
        fr = np.empty((h, w, 3))
        for ch in range(3):
            col = np.array([np.interp(xi, np.arange(6), c[r, :, ch])
                            for r in range(5)])
            fr[..., ch] = np.array([np.interp(yi, np.arange(5), col[:, j])
                                    for j in range(w)]).T
        out.append(fr.astype(np.uint8))
    return out


def test_video_fingerprints_shape_and_audit(spark):
    from dcspark.imagefp import video_fingerprints

    rows = [("v", bytearray(avi_bytes(_scene(5, 1), fps=10.0))),
            ("bad", bytearray(b"junk"))]
    fp = video_fingerprints(
        spark.createDataFrame(rows, "id string, bytes binary"))
    got = fp.collect()
    vrows = [r for r in got if r["clip_id"] == "v"]
    assert len(vrows) == 5 and all(r["hash"] is not None for r in vrows)
    bad = [r for r in got if r["clip_id"] == "bad"]
    assert len(bad) == 1 and bad[0]["decode_error"] is not None


def test_video_near_dup_finds_reencode(spark):
    from dcspark.imagefp import video_near_dup

    rows = [(f"v-{i}", bytearray(avi_bytes(_scene(6, 10 + i), fps=10.0)))
            for i in range(6)]
    # re-encode of v-0's frames at lower quality -> same frame dHashes
    rows.append(("v-re", bytearray(avi_bytes(_scene(6, 10), fps=10.0,
                                             quality=60))))
    df = spark.createDataFrame(rows, "id string, bytes binary")
    pairs = video_near_dup(df, threshold=0.6).collect()
    assert {tuple(sorted((r["id_a"], r["id_b"]))) for r in pairs} == {
        ("v-0", "v-re")}
    assert all(r["score"] >= 0.6 for r in pairs)


def test_video_contaminated_ids(spark):
    from dcspark.imagefp import video_contaminated_ids

    corpus = spark.createDataFrame(
        [(f"v-{i}", bytearray(avi_bytes(_scene(5, 20 + i), fps=12.0)))
         for i in range(5)], "id string, bytes binary")
    evals = spark.createDataFrame(
        [("bench", bytearray(avi_bytes(_scene(5, 500), fps=12.0))),
         ("leak", bytearray(avi_bytes(_scene(5, 22), fps=12.0, quality=70)))],
        "id string, bytes binary")
    ids = [r["id"] for r in video_contaminated_ids(corpus, evals).collect()]
    assert ids == ["v-2"]


def test_video_contamination_broadcast_plan(spark):
    """The video corpus probe must be a broadcast hash join — zero corpus
    shuffle (eval side benchmark-sized by assumption)."""
    from dcspark.imagefp import video_cross_contamination, video_fingerprints

    corpus = spark.createDataFrame(
        [("v", bytearray(avi_bytes(_scene(3, 1), fps=10.0)))],
        "id string, bytes binary")
    # the eval set contains a re-encode of the corpus video so the report
    # is non-empty — AQE collapses an empty result to EmptyRelation, which
    # would erase the joins this gate inspects
    evals = spark.createDataFrame(
        [("e", bytearray(avi_bytes(_scene(3, 1), fps=10.0, quality=70)))],
        "id string, bytes binary")
    rep = video_cross_contamination(
        video_fingerprints(corpus), video_fingerprints(evals))
    rep.collect()
    plan = rep._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    # the probe (corpus x eval) join must not sort-merge the corpus side;
    # the n_c/n_e count attachments may shuffle tiny pair/count frames only
    probe_smj = [l for l in plan.splitlines()
                 if "SortMergeJoin" in l and "__k" in l]
    assert not probe_smj, probe_smj


IMAGE_CONTRACT = """
id: image-batches
models:
  images:
    fields:
      image_id: {type: string, primaryKey: true}
      bytes: {type: bytes}
    quality:
      - {type: image, invariant: signal-quality, column: brightness, minimum: 0}
"""


def test_decode_passes_get_the_configured_arrow_batch(spark, monkeypatch):
    """``arrow_batch_rows`` reaches the image and video decode passes,
    which run after the check that built them returns."""
    from dcspark import rowmap

    big, small = spark.sparkContext.accumulator(0), spark.sparkContext.accumulator(0)
    orig = rowmap._binary_views

    def counting_views(col, n_rows):
        (big if n_rows > 7 else small).add(1)
        return orig(col, n_rows)

    # map_payloads' per-batch closure reads this module global
    monkeypatch.setattr(rowmap, "_binary_views", counting_views)
    videos = spark.createDataFrame(
        [(f"v-{i}", bytearray(avi_bytes(_frames(2, phase=i), fps=25.0)),
          25.0, 2, 20, 16) for i in range(20)], DDL).coalesce(1)
    images = spark.createDataFrame(
        [(f"i-{i}", bytearray(multimodal.png_bytes(_frames(1, phase=i)[0])))
         for i in range(20)], "image_id string, bytes binary").coalesce(1)
    cfg = ValidationConfig(arrow_batch_rows=7)
    for contract, name, df in ((CONTRACT, "videos", videos),
                               (IMAGE_CONTRACT, "images", images)):
        res = validate(spark, DataContractSpecification.from_string(contract),
                       {name: df}, cfg)
        assert res.run.result == ResultEnum.passed, [
            (c.key, c.result, c.reason) for c in res.run.checks]
    assert big.value == 0
    assert small.value >= 6  # 20 rows in batches of at most 7, per pass
