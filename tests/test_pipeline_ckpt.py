"""Stage-boundary checkpoint/resume for pipeline operators (VERDICT r02 next
#7): kill-after-stage resume produces identical frames without recomputing
completed stages; parameter/input changes invalidate exactly what they touch."""

import json
import os

import pytest
from pyspark.sql import functions as F

from dcspark import decontam, pipeline_ckpt, textops

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy dog again and again!"),
    (3, "a completely different document about spark shuffle partitioning"),
    (4, "another unrelated text mentioning benchmarks and evaluation suites"),
    (5, "the quick brown fox jumps over the lazy dog again and again ok"),
]
EVAL = [(100, "spark shuffle partitioning"), (101, "no overlap here at all")]


@pytest.fixture()
def docs(spark, tmp_path):
    p = str(tmp_path / "docs")
    spark.createDataFrame(DOCS, "doc_id long, text string").write.parquet(p)
    return spark.read.parquet(p)


@pytest.fixture()
def eval_df(spark, tmp_path):
    p = str(tmp_path / "eval")
    spark.createDataFrame(EVAL, "doc_id long, text string").write.parquet(p)
    return spark.read.parquet(p)


def _pairs_key(rows):
    return sorted((r["doc_a"], r["doc_b"], r["jaccard"]) for r in rows)


def test_minhash_resume_matches_fresh_run(spark, docs, tmp_path):
    ck = str(tmp_path / "ck1")
    fresh = textops.minhash_near_dups(docs, threshold=0.5).collect()
    first = textops.minhash_near_dups(docs, threshold=0.5, checkpoint=ck).collect()
    assert _pairs_key(first) == _pairs_key(fresh)
    # resume: stages served from parquet, builders never run
    calls = []
    orig = textops.lsh_candidate_pairs
    textops.lsh_candidate_pairs = lambda *a, **k: calls.append(1) or orig(*a, **k)
    try:
        again = textops.minhash_near_dups(
            docs, threshold=0.5, checkpoint=ck).collect()
    finally:
        textops.lsh_candidate_pairs = orig
    assert calls == [], "candidates stage recomputed on resume"
    assert _pairs_key(again) == _pairs_key(fresh)


def test_minhash_kill_after_candidates_resumes_into_verify(spark, docs, tmp_path):
    """Simulate a driver killed between stages: candidates parquet committed,
    verify never ran. The resumed run must reuse candidates (file mtimes
    untouched) and complete the pipeline to the identical result."""
    ck = str(tmp_path / "ck2")
    sig = {
        "op": "minhash_near_dups", "num_hashes": 8, "rows_per_band": 2,
        "n": 3, "max_bucket": 1000,
        "input": pipeline_ckpt.input_lineage(docs),
    }
    stage_ck = pipeline_ckpt.StageCheckpoint(spark, ck, sig)
    stage_ck.stage("candidates", lambda: textops.lsh_candidate_pairs(docs))
    # "killed" here — scored.manifest.json does not exist
    assert stage_ck.completed("candidates")
    assert not stage_ck.completed("scored")
    mtimes = {
        f: os.path.getmtime(os.path.join(ck, "candidates", f))
        for f in os.listdir(os.path.join(ck, "candidates"))
    }
    out = textops.minhash_near_dups(docs, threshold=0.5, checkpoint=ck).collect()
    fresh = textops.minhash_near_dups(docs, threshold=0.5).collect()
    assert _pairs_key(out) == _pairs_key(fresh)
    after = {
        f: os.path.getmtime(os.path.join(ck, "candidates", f))
        for f in os.listdir(os.path.join(ck, "candidates"))
    }
    assert after == mtimes, "candidates stage was rewritten on resume"


def test_signature_change_invalidates(spark, docs, tmp_path):
    ck = str(tmp_path / "ck3")
    textops.minhash_near_dups(docs, n=3, checkpoint=ck).collect()
    # different shingle width -> different signature -> stages rebuild
    out4 = textops.minhash_near_dups(docs, n=4, checkpoint=ck).collect()
    fresh4 = textops.minhash_near_dups(docs, n=4).collect()
    assert _pairs_key(out4) == _pairs_key(fresh4)
    with open(os.path.join(ck, "candidates.manifest.json")) as f:
        rec = json.load(f)
    assert rec["status"] == "done"


def test_input_change_invalidates(spark, docs, tmp_path):
    """New input files under the same path change the lineage signature, so a
    resumed run rescans instead of serving stale candidate pairs."""
    ck = str(tmp_path / "ck4")
    base = textops.minhash_near_dups(docs, checkpoint=ck).collect()
    extra = docs.sparkSession.createDataFrame(
        [(6, "the quick brown fox jumps over the lazy dog again and again yes")],
        "doc_id long, text string")
    extra.write.mode("append").parquet(docs.inputFiles()[0].rsplit("/", 1)[0])
    docs2 = docs.sparkSession.read.parquet(
        docs.inputFiles()[0].rsplit("/", 1)[0])
    out = textops.minhash_near_dups(docs2, checkpoint=ck).collect()
    fresh = textops.minhash_near_dups(docs2).collect()
    assert _pairs_key(out) == _pairs_key(fresh)
    assert len(out) > len(base)  # the new near-dup doc produced new pairs


def test_contamination_resume_matches_fresh(spark, docs, eval_df, tmp_path):
    ck = str(tmp_path / "ck5")
    fresh = decontam.contamination(docs, eval_df, n=3).collect()
    key = lambda rs: sorted(
        (r["doc_id"], r["matched_ngrams"], r["total_ngrams"]) for r in rs)
    first = decontam.contamination(docs, eval_df, n=3, checkpoint=ck).collect()
    assert key(first) == key(fresh)
    # resume path: report read from parquet, no recompute of the probe
    report_dir = os.path.join(ck, "report")
    mtimes = {f: os.path.getmtime(os.path.join(report_dir, f))
              for f in os.listdir(report_dir)}
    again = decontam.contamination(docs, eval_df, n=3, checkpoint=ck).collect()
    assert key(again) == key(fresh)
    assert mtimes == {f: os.path.getmtime(os.path.join(report_dir, f))
                      for f in os.listdir(report_dir)}


def test_cli_dedup_and_decontam_resumable(spark, docs, eval_df, tmp_path, capsys):
    """CLI surface for the resumable pipelines: dedup/decontam write parquet
    reports; a second run with the same --checkpoint serves stages from disk
    (manifest mtimes untouched)."""
    from dcspark.cli import main

    docs_dir = docs.inputFiles()[0].rsplit("/", 1)[0]
    eval_dir = eval_df.inputFiles()[0].rsplit("/", 1)[0]
    ck = str(tmp_path / "cli_ck")
    out = str(tmp_path / "pairs")
    rc = main(["dedup", "--input", docs_dir, "--output", out,
               "--checkpoint", ck, "--threshold", "0.5"])
    assert rc == 0
    pairs = spark.read.parquet(out)
    assert pairs.count() > 0 and set(pairs.columns) >= {"doc_a", "doc_b", "jaccard"}
    m = os.path.getmtime(os.path.join(ck, "candidates.manifest.json"))
    rc = main(["dedup", "--input", docs_dir, "--output", out,
               "--checkpoint", ck, "--threshold", "0.5"])
    assert rc == 0
    assert os.path.getmtime(os.path.join(ck, "candidates.manifest.json")) == m

    ck2 = str(tmp_path / "cli_ck2")
    rep = str(tmp_path / "report")
    rc = main(["decontam", "--input", docs_dir, "--eval", eval_dir,
               "--output", rep, "--checkpoint", ck2, "--ngram", "3"])
    assert rc == 0
    report = spark.read.parquet(rep)
    assert set(report.columns) == {"doc_id", "matched_ngrams", "total_ngrams",
                                   "contamination"}
    assert report.filter(F.col("contamination") > 0).count() == 1  # doc 3
    capsys.readouterr()


# -- modality pipelines (audio / image / video fingerprint resume) ------------


def _mix_tone(freqs, amps, sr=8000, n=8000, seed=0):
    import numpy as np
    t = np.arange(n) / sr
    x = sum(a * np.sin(2 * np.pi * f * t) for f, a in zip(freqs, amps))
    return (x / max(1e-9, np.abs(x).max()) * 20000).astype(np.int16)


@pytest.fixture()
def audio_clips(spark, tmp_path):
    import numpy as np
    from dcspark.synth import wav_bytes
    rows = []
    for i in range(8):
        r = np.random.default_rng(500 + i)
        pcm = _mix_tone(r.uniform(320, 2800, 3), r.uniform(0.3, 1.0, 3))
        rows.append((f"c{i}", wav_bytes(pcm, 8000)))
    base = _mix_tone([440, 880], [1.0, 0.5])
    rows.append(("orig", wav_bytes(base, 8000)))
    rows.append(("gain_dup", wav_bytes(
        (base.astype(np.float32) * 0.5).astype(np.int16), 8000)))
    p = str(tmp_path / "clips")
    spark.createDataFrame(rows, "clip_id string, bytes binary").write.parquet(p)
    return spark.read.parquet(p)


def test_audio_near_dup_resumable_skips_decode(spark, audio_clips, tmp_path):
    from dcspark import audiofp
    ck = str(tmp_path / "cka")
    fresh = audiofp.audio_near_dup(audio_clips, threshold=0.35).collect()
    first = audiofp.audio_near_dup(
        audio_clips, threshold=0.35, checkpoint=ck).collect()
    key = lambda rows: sorted((r["id_a"], r["id_b"], r["matches"], r["score"])
                              for r in rows)
    assert key(first) == key(fresh)
    assert any({r["id_a"], r["id_b"]} == {"gain_dup", "orig"} for r in first)
    calls = []
    orig_fn = audiofp.audio_fingerprints
    audiofp.audio_fingerprints = (
        lambda *a, **k: calls.append(1) or orig_fn(*a, **k))
    try:
        again = audiofp.audio_near_dup(
            audio_clips, threshold=0.35, checkpoint=ck).collect()
        # threshold sweep reuses the same stages — no decode, no re-join
        sweep = audiofp.audio_near_dup(
            audio_clips, threshold=0.99, checkpoint=ck).collect()
    finally:
        audiofp.audio_fingerprints = orig_fn
    assert calls == [], "fingerprint decode recomputed on resume"
    assert key(again) == key(fresh)
    assert len(sweep) <= len(fresh)


def test_audio_decontam_resumable(spark, audio_clips, tmp_path):
    from dcspark import audiofp
    eval_df = audio_clips.filter(F.col("clip_id") == "orig")
    ck = str(tmp_path / "ckd")
    fresh = audiofp.audio_contaminated_ids(
        audio_clips.filter(F.col("clip_id") != "orig"), eval_df).collect()
    got = audiofp.audio_contaminated_ids(
        audio_clips.filter(F.col("clip_id") != "orig"), eval_df, checkpoint=ck)
    ids = sorted(r["clip_id"] for r in got.select("clip_id").distinct().collect())
    assert ids == sorted(r["clip_id"] for r in fresh)
    assert "gain_dup" in ids
    calls = []
    orig_fn = audiofp.audio_fingerprints
    audiofp.audio_fingerprints = (
        lambda *a, **k: calls.append(1) or orig_fn(*a, **k))
    try:
        audiofp.audio_contaminated_ids(
            audio_clips.filter(F.col("clip_id") != "orig"), eval_df,
            checkpoint=ck).collect()
    finally:
        audiofp.audio_fingerprints = orig_fn
    assert calls == []


def test_video_near_dup_resumable(spark, tmp_path):
    import numpy as np
    from dcspark import imagefp
    from dcspark.avi import avi_bytes
    from dcspark.multimodal import real_video_decoder

    def frames(n=4, phase=0, h=16, w=20):
        out = []
        for i in range(n):
            yy, xx = np.mgrid[0:h, 0:w]
            out.append(np.stack(
                [(xx * 255 // (w - 1)), (yy * 255 // (h - 1)),
                 np.full((h, w), ((i + phase) * 40) % 256)],
                axis=-1).astype(np.uint8))
        return out

    rows = [(f"v{i}", bytearray(avi_bytes(frames(4, phase=3 * i), fps=25.0)))
            for i in range(3)]
    # re-encode of v0: decode then re-encode each frame at lower quality
    _fps, fr0 = real_video_decoder(bytes(rows[0][1]))
    rows.append(("v0_re", bytearray(avi_bytes(
        [f.copy() for f in fr0], fps=25.0, quality=60))))
    p = str(tmp_path / "vids")
    spark.createDataFrame(rows, "id string, bytes binary").write.parquet(p)
    vids = spark.read.parquet(p)
    ck = str(tmp_path / "ckv")
    fresh = imagefp.video_near_dup(vids, threshold=0.6).collect()
    first = imagefp.video_near_dup(vids, threshold=0.6, checkpoint=ck).collect()
    key = lambda rows: sorted((r["id_a"], r["id_b"]) for r in rows)
    assert key(first) == key(fresh)
    assert any({r["id_a"], r["id_b"]} == {"v0", "v0_re"} for r in first)
    calls = []
    orig_fn = imagefp.video_fingerprints
    imagefp.video_fingerprints = (
        lambda *a, **k: calls.append(1) or orig_fn(*a, **k))
    try:
        again = imagefp.video_near_dup(
            vids, threshold=0.6, checkpoint=ck).collect()
    finally:
        imagefp.video_fingerprints = orig_fn
    assert calls == [] and key(again) == key(fresh)


def test_image_near_dup_resumable(spark, tmp_path):
    import numpy as np
    from dcspark import imagefp, multimodal

    def photo(seed):
        rng = np.random.default_rng(8200 + seed)
        base = rng.uniform(0, 255, (6, 8, 3))
        up = base.repeat(4, axis=0).repeat(4, axis=1)
        return np.clip(up + rng.uniform(-10, 10, up.shape), 5, 250).astype(np.uint8)

    rows = [(f"im{i}", bytearray(multimodal.png_bytes(photo(i)))) for i in range(6)]
    from dcspark.jpeg import jpeg_bytes
    rows.append(("im0_re", bytearray(jpeg_bytes(photo(0), quality=85))))
    p = str(tmp_path / "imgs")
    spark.createDataFrame(rows, "id string, bytes binary").write.parquet(p)
    imgs = spark.read.parquet(p)
    ck = str(tmp_path / "cki")
    fresh = imagefp.image_near_dup(imgs).collect()
    first = imagefp.image_near_dup(imgs, checkpoint=ck).collect()
    key = lambda rows: sorted((r["id_a"], r["id_b"], r["hamming"]) for r in rows)
    assert key(first) == key(fresh)
    assert any({r["id_a"], r["id_b"]} == {"im0", "im0_re"} for r in first)
    calls = []
    orig_fn = imagefp.image_fingerprints
    imagefp.image_fingerprints = (
        lambda *a, **k: calls.append(1) or orig_fn(*a, **k))
    try:
        again = imagefp.image_near_dup(imgs, checkpoint=ck).collect()
    finally:
        imagefp.image_fingerprints = orig_fn
    assert calls == [] and key(again) == key(fresh)


def test_cli_audio_neardup_resumable(spark, audio_clips, tmp_path, capsys):
    """CLI surface: `audio neardup --checkpoint` writes the pairs parquet and
    a rerun serves both stages from disk (manifest mtimes untouched)."""
    from dcspark.cli import main

    clips_dir = audio_clips.inputFiles()[0].rsplit("/", 1)[0]
    ck = str(tmp_path / "au_ck")
    out = str(tmp_path / "au_pairs")
    rc = main(["audio", "neardup", "--input", clips_dir, "--output", out,
               "--checkpoint", ck])
    assert rc == 0
    pairs = spark.read.parquet(out)
    assert set(pairs.columns) == {"id_a", "id_b", "matches", "score"}
    assert pairs.filter(
        (F.col("id_a") == "gain_dup") | (F.col("id_b") == "gain_dup")).count() >= 1
    m = os.path.getmtime(os.path.join(ck, "fingerprints.manifest.json"))
    rc = main(["audio", "neardup", "--input", clips_dir, "--output", out,
               "--checkpoint", ck])
    assert rc == 0
    assert os.path.getmtime(os.path.join(ck, "fingerprints.manifest.json")) == m
    capsys.readouterr()


def test_join_param_sweep_keeps_decode_cached(spark, audio_clips, tmp_path):
    """Per-stage signatures: changing max_bucket invalidates only the join
    stage — the fingerprint decode is served from disk (review finding)."""
    from dcspark import audiofp
    ck = str(tmp_path / "ck_sweep")
    audiofp.audio_near_dup(
        audio_clips, max_bucket=500, checkpoint=ck).collect()
    m = os.path.getmtime(os.path.join(ck, "fingerprints.manifest.json"))
    calls = []
    orig_fn = audiofp.audio_fingerprints
    audiofp.audio_fingerprints = (
        lambda *a, **k: calls.append(1) or orig_fn(*a, **k))
    try:
        audiofp.audio_near_dup(
            audio_clips, max_bucket=100, checkpoint=ck).collect()
    finally:
        audiofp.audio_fingerprints = orig_fn
    assert calls == [], "decode recomputed on a join-parameter sweep"
    assert os.path.getmtime(
        os.path.join(ck, "fingerprints.manifest.json")) == m
    # but a changed bytes_col is a DIFFERENT decode: must NOT reuse stages
    renamed_dir = str(tmp_path / "renamed")
    audio_clips.withColumnRenamed("bytes", "raw").write.parquet(renamed_dir)
    with pytest.raises(Exception):
        # same ckpt dir, different bytes_col, different schema -> the decode
        # signature differs, so the stage REBUILDS (and here fails fast on
        # the absent column rather than silently serving stale fingerprints)
        audiofp.audio_near_dup(
            audio_clips, bytes_col="raw", checkpoint=ck).collect()


def test_image_near_dup_resumable_custom_id_col(spark, tmp_path):
    """Non-default id_col: image_fingerprints emits a fixed 'id' column, and
    the pairs stage must select that, not the input column name (review
    finding: F.col(id_col) raised UNRESOLVED_COLUMN)."""
    import numpy as np
    from dcspark import imagefp, multimodal

    rows = [(f"p{i}", bytearray(multimodal.png_bytes(
        (np.arange(24 * 32 * 3).reshape(24, 32, 3) % 251).astype("uint8"))))
        for i in range(2)]
    p = str(tmp_path / "imgs2")
    spark.createDataFrame(rows, "img_id string, payload binary").write.parquet(p)
    imgs = spark.read.parquet(p)
    out = imagefp.image_near_dup(
        imgs, id_col="img_id", bytes_col="payload",
        checkpoint=str(tmp_path / "cki2"))
    # identical rasters -> one Hamming-0 pair, ids taken from img_id values
    rows_out = out.collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in rows_out] == [
        ("p0", "p1", 0)]


def test_image_and_video_decontam_resumable(spark, tmp_path):
    """The decontam modality matrix is resumable end to end: image and video
    eval-probe reports match the one-shot operators, and a rerun (or an
    eval-bucket sweep) serves both decodes from disk."""
    import numpy as np
    from dcspark import imagefp, multimodal
    from dcspark.avi import avi_bytes
    from dcspark.jpeg import jpeg_bytes
    from dcspark.multimodal import real_video_decoder

    def photo(seed):
        rng = np.random.default_rng(8300 + seed)
        up = rng.uniform(0, 255, (6, 8, 3)).repeat(4, 0).repeat(4, 1)
        return np.clip(up + rng.uniform(-10, 10, up.shape), 5, 250).astype(np.uint8)

    # images: corpus has a JPEG re-encode of eval image e0
    corp = [(f"im{i}", bytearray(multimodal.png_bytes(photo(i)))) for i in range(4)]
    corp.append(("leak", bytearray(jpeg_bytes(photo(99), quality=85))))
    ev = [("e0", bytearray(multimodal.png_bytes(photo(99))))]
    cp, ep = str(tmp_path / "ic"), str(tmp_path / "ie")
    spark.createDataFrame(corp, "id string, bytes binary").write.parquet(cp)
    spark.createDataFrame(ev, "id string, bytes binary").write.parquet(ep)
    corpus, eval_df = spark.read.parquet(cp), spark.read.parquet(ep)
    ck = str(tmp_path / "ck_imgd")
    fresh = sorted(r["id"] for r in imagefp.image_contaminated_ids(
        corpus, eval_df).collect())
    got = sorted(r["id"] for r in imagefp.image_contaminated_ids(
        corpus, eval_df, checkpoint=ck).select("id").distinct().collect())
    assert got == fresh and "leak" in got
    calls = []
    orig_fn = imagefp.image_fingerprints
    imagefp.image_fingerprints = (
        lambda *a, **k: calls.append(1) or orig_fn(*a, **k))
    try:
        # max_hamming sweep: report rebuilds, decodes stay cached
        imagefp.image_contaminated_ids(
            corpus, eval_df, max_hamming=2, checkpoint=ck).collect()
    finally:
        imagefp.image_fingerprints = orig_fn
    assert calls == []

    # videos: corpus has a quality-60 re-encode of eval video ev0
    def frames(n=4, phase=0, h=16, w=20):
        out = []
        for i in range(n):
            yy, xx = np.mgrid[0:h, 0:w]
            out.append(np.stack(
                [(xx * 255 // (w - 1)), (yy * 255 // (h - 1)),
                 np.full((h, w), ((i + phase) * 40) % 256)],
                axis=-1).astype(np.uint8))
        return out

    evraw = avi_bytes(frames(4, phase=7), fps=25.0)
    _fps, fr = real_video_decoder(evraw)
    vcorp = [(f"v{i}", bytearray(avi_bytes(frames(4, phase=3 * i), fps=25.0)))
             for i in range(1, 3)]
    vcorp.append(("vleak", bytearray(avi_bytes(
        [f.copy() for f in fr], fps=25.0, quality=60))))
    vcp, vep = str(tmp_path / "vc"), str(tmp_path / "ve")
    spark.createDataFrame(vcorp, "id string, bytes binary").write.parquet(vcp)
    spark.createDataFrame([("ev0", bytearray(evraw))],
                          "id string, bytes binary").write.parquet(vep)
    vcorpus, veval = spark.read.parquet(vcp), spark.read.parquet(vep)
    vck = str(tmp_path / "ck_vidd")
    vfresh = sorted(r["id"] for r in imagefp.video_contaminated_ids(
        vcorpus, veval, threshold=0.6).collect())
    vgot = sorted(r["id"] for r in imagefp.video_contaminated_ids(
        vcorpus, veval, threshold=0.6, checkpoint=vck)
        .select("id").distinct().collect())
    assert vgot == vfresh and "vleak" in vgot
    vcalls = []
    orig_vfn = imagefp.video_fingerprints
    imagefp.video_fingerprints = (
        lambda *a, **k: vcalls.append(1) or orig_vfn(*a, **k))
    try:
        # threshold sweep hits the read-time filter: nothing recomputes
        imagefp.video_contaminated_ids(
            vcorpus, veval, threshold=0.9, checkpoint=vck).collect()
    finally:
        imagefp.video_fingerprints = orig_vfn
    assert vcalls == []


def test_release_caches_and_signable_guard(spark, audio_clips, tmp_path):
    """Review findings: (a) operators tag their internal persisted frames and
    release_caches frees them; (b) non-JSON fp kwargs (a callable decoder)
    are rejected up front instead of producing an address-bearing signature
    that silently never resumes; (c) swapping the eval set must NOT
    invalidate the corpus decode (per-side lineage)."""
    from dcspark import audiofp, imagefp

    pairs = audiofp.audio_near_dup(audio_clips, threshold=0.35)
    pairs.collect()
    cached = pairs._dcspark_cached
    assert cached and all(c.storageLevel.useMemory for c in cached)
    pipeline_ckpt.release_caches(pairs)
    assert all(not c.storageLevel.useMemory for c in cached)

    with pytest.raises(ValueError, match="cannot sign"):
        imagefp.video_near_dup(
            audio_clips, decoder=lambda b: None, checkpoint=str(tmp_path / "x"))

    ck = str(tmp_path / "ck_swap")
    eval1 = audio_clips.filter(F.col("clip_id") == "orig")
    audiofp.audio_contaminated_ids(audio_clips, eval1, checkpoint=ck).collect()
    m = os.path.getmtime(os.path.join(ck, "corpus_fp.manifest.json"))
    eval2_dir = str(tmp_path / "eval2")
    audio_clips.filter(F.col("clip_id") == "c0").write.parquet(eval2_dir)
    eval2 = audio_clips.sparkSession.read.parquet(eval2_dir)
    calls = []
    orig_fn = audiofp.audio_fingerprints
    audiofp.audio_fingerprints = (
        lambda *a, **k: calls.append(1) or orig_fn(*a, **k))
    try:
        audiofp.audio_contaminated_ids(audio_clips, eval2, checkpoint=ck).collect()
    finally:
        audiofp.audio_fingerprints = orig_fn
    # eval side re-decoded (new benchmark), corpus decode untouched
    assert calls == [1], f"expected 1 rebuild (eval only), got {len(calls)}"
    assert os.path.getmtime(os.path.join(ck, "corpus_fp.manifest.json")) == m


def _span_key(rows):
    return sorted(tuple(r) for r in rows)


def test_duplicate_spans_resumable(spark, docs, tmp_path):
    ck = str(tmp_path / "ck_spans")
    fresh = textops.duplicate_span_stats(docs, n_tokens=3, min_count=2)
    fresh_rows = fresh.collect()
    pipeline_ckpt.release_caches(fresh)
    first = textops.duplicate_span_stats(
        docs, n_tokens=3, min_count=2, checkpoint=ck).collect()
    assert _span_key(first) == _span_key(fresh_rows)

    # resume: the tokenize stage must be served from parquet
    calls = []
    orig = textops.span_compact_table
    textops.span_compact_table = lambda *a, **k: calls.append(1) or orig(*a, **k)
    try:
        again = textops.duplicate_span_stats(
            docs, n_tokens=3, min_count=2, checkpoint=ck).collect()
        # a min_count sweep reuses the spans parquet (stage signed without it)
        swept = textops.duplicate_span_stats(
            docs, n_tokens=3, min_count=3, checkpoint=ck).collect()
    finally:
        textops.span_compact_table = orig
    assert calls == [], "spans stage recomputed on resume / min_count sweep"
    assert _span_key(again) == _span_key(fresh_rows)
    assert {r["doc_id"] for r in swept} == {r["doc_id"] for r in fresh_rows}

    # a changed n_tokens invalidates the spans stage
    try:
        textops.span_compact_table = lambda *a, **k: calls.append(1) or orig(*a, **k)
        textops.duplicate_span_stats(
            docs, n_tokens=4, min_count=2, checkpoint=ck).collect()
    finally:
        textops.span_compact_table = orig
    assert calls == [1], "changed n_tokens must re-run the spans stage"


def test_cli_spans_and_textquality(spark, docs, tmp_path):
    """CLI surface: spans (resumable) + textquality write parquet reports."""
    from dcspark.cli import main

    docs_dir = docs.inputFiles()[0].rsplit("/", 1)[0]
    ck = str(tmp_path / "spans_ck")
    out = str(tmp_path / "spans_rep")
    rc = main(["spans", "--input", docs_dir, "--output", out,
               "--checkpoint", ck, "--window", "3"])
    assert rc == 0
    rep = spark.read.parquet(out)
    assert set(rep.columns) == {"doc_id", "n_tok", "n_windows", "dup_windows",
                                "dup_window_frac", "dup_token_frac"}
    m = os.path.getmtime(os.path.join(ck, "spans.manifest.json"))
    rc = main(["spans", "--input", docs_dir, "--output", out,
               "--checkpoint", ck, "--window", "3"])
    assert rc == 0
    assert os.path.getmtime(os.path.join(ck, "spans.manifest.json")) == m

    tq = str(tmp_path / "tq_rep")
    rc = main(["textquality", "--input", docs_dir, "--output", tq])
    assert rc == 0
    tqr = spark.read.parquet(tq)
    assert {"doc_id", "tokens", "chars", "dup_line_frac", "flagged",
            "kept_lines", "page_keep", "cleaned_text"} <= set(tqr.columns)
    assert tqr.count() == docs.count()


def test_contamination_resumable_broadcast_guard(spark, tmp_path, monkeypatch):
    """The resumable contamination probe honors the same broadcast-budget
    guard as the one-shot operator: broadcast below, shuffled-hash above
    (an unconditional broadcast of a multi-benchmark digest union would OOM
    every executor at 10^12 rows)."""
    from dcspark import decontam as dmod

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon {i}") for i in range(20)],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "eval_id long, text string")

    rep = dmod.contamination(docs, ev, n=3)
    base = {r["doc_id"]: r["contamination"] for r in rep.collect()}
    plan = rep._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan

    monkeypatch.setattr(dmod, "BROADCAST_MAX_EVAL_GRAMS", 0)
    rep2 = dmod.contamination(docs, ev, n=3)
    rows = {r["doc_id"]: r["contamination"] for r in rep2.collect()}
    plan2 = rep2._jdf.queryExecution().executedPlan().toString()
    plan2 = plan2.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" not in plan2
    assert rows == base  # join strategy must not change the report

    # and the resumable end-to-end path (checkpointed digests) stays correct
    e2e = {r["doc_id"]: r["contamination"]
           for r in dmod.contamination(
               docs, ev, n=3, checkpoint=str(tmp_path / "c")).collect()}
    assert e2e == base

    # the budget is overridable per-call (parity with the one-shot
    # decontam.contamination signature): 0 forces the shuffle path. A
    # checkpointed report comes back as a parquet scan, whose plan shows no
    # join at all, so the probe is read from the frame the report builder
    # returned before it was written
    built = {}
    stage = pipeline_ckpt.StageCheckpoint.stage

    def capturing_stage(self, name, builder):
        def build():
            built[name] = builder()
            return built[name]
        return stage(self, name, build)

    monkeypatch.setattr(pipeline_ckpt.StageCheckpoint, "stage", capturing_stage)
    rep3 = dmod.contamination(
        docs, ev, n=3, broadcast_max_grams=0, checkpoint=str(tmp_path / "c2"))
    rows3 = {r["doc_id"]: r["contamination"] for r in rep3.collect()}
    plan3 = built["report"]._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan3
    assert "ShuffledHashJoin" in plan3 or "SortMergeJoin" in plan3
    assert rows3 == base


def test_in_memory_inputs_sign_their_content(spark, tmp_path):
    """Two in-memory inputs (no files) with one schema and plan shape must
    not resume into each other's stages: their content is signed."""
    ck = str(tmp_path / "mem")
    first = spark.createDataFrame(DOCS, "doc_id long, text string")
    second = spark.createDataFrame(
        DOCS[:2] + [(9, "yet another unrelated text about stage signatures")],
        "doc_id long, text string")
    assert (pipeline_ckpt.input_lineage(first)
            != pipeline_ckpt.input_lineage(second))
    # row order does not change the signature
    assert (pipeline_ckpt.input_lineage(first)
            == pipeline_ckpt.input_lineage(
                spark.createDataFrame(DOCS[::-1], "doc_id long, text string")))

    def signature():
        with open(os.path.join(ck, "candidates.manifest.json")) as f:
            return json.load(f)["signature"]

    textops.minhash_near_dups(first, threshold=0.0, checkpoint=ck).collect()
    before = signature()
    out = textops.minhash_near_dups(second, threshold=0.0, checkpoint=ck).collect()
    assert signature() != before, "the second input resumed the first one's stages"
    fresh = textops.minhash_near_dups(second, threshold=0.0).collect()
    assert _pairs_key(out) == _pairs_key(fresh)
