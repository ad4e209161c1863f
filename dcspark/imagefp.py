"""Perceptual image fingerprints (dHash) + blocked near-duplicate detection.

Completes modality coverage for near-dup training-data dedup: text has
MinHash/SimHash (textops.py), audio has band-occupancy acoustic hashes
(audiofp.py) — images get the difference hash: decode, luma, resize to a
9x8 grid, threshold horizontal gradients -> 64-bit hash that survives
re-encoding, resizing, small crops, and brightness shifts, while byte-level
md5 catches none of those.

Scale design mirrors the other modalities: hashes shuffle as 8-byte longs
(never pixels); candidate pairs come from 4-way 16-bit block equi-joins —
pigeonhole-complete for Hamming <= 3 — with an optional per-block bucket cap
so degenerate masses (solid-color thumbnails) cannot emit k^2 pairs; exact
Hamming verifies candidates only.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .multimodal import (
    IMAGE_FEATURE_FNS,
    ImageDecoder,
    image_luma,
    real_image_decoder,
)
from . import hotkey
from .rowmap import map_payloads

FP_DDL = "id string, dhash long, width int, height int, decode_error string"


def dhash(px: np.ndarray, grid: int = 8) -> int:
    """Difference hash of a decoded uint8 raster -> int (grid*grid bits).

    Luma -> area-downsample to (grid, grid+1) via block means -> bit g,r,c =
    1 when cell (r, c) is brighter than its right neighbor. Pure whole-array
    numpy; deterministic."""
    if px.ndim == 3:
        if px.shape[2] >= 3:
            luma = (0.299 * px[..., 0] + 0.587 * px[..., 1]
                    + 0.114 * px[..., 2])
        else:
            luma = px[..., 0].astype(np.float64)
    else:
        luma = px.astype(np.float64)
    gh, gw = grid, grid + 1
    # tiny images: repeat pixels up to the grid size so every cell has
    # support (w == grid would leave the last of the grid+1 columns empty,
    # breaking resize invariance for 8px-wide thumbnails)
    if luma.shape[0] < gh:
        luma = np.repeat(luma, -(-gh // luma.shape[0]), axis=0)
    if luma.shape[1] < gw:
        luma = np.repeat(luma, -(-gw // luma.shape[1]), axis=1)
    h, w = luma.shape
    # area downsample: mean over variable-size cells (edges via bincount on
    # the cell index of every pixel)
    ri = (np.arange(h) * gh // h)
    ci = (np.arange(w) * gw // w)
    cell = ri[:, None] * gw + ci[None, :]
    sums = np.bincount(cell.ravel(), weights=luma.ravel(), minlength=gh * gw)
    counts = np.bincount(cell.ravel(), minlength=gh * gw)
    small = (sums / np.maximum(counts, 1)).reshape(gh, gw)
    bits = (small[:, :-1] > small[:, 1:]).ravel()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return val


def _signed64(v: int) -> int:
    """An unsigned 64-bit hash in the int64 (Spark long) container: the top
    bit flips into the sign range."""
    return v - (1 << 64) if v >= (1 << 63) else v


def image_fingerprints(
    df: DataFrame,
    id_col: str = "id",
    bytes_col: str = "bytes",
    decoder: ImageDecoder = real_image_decoder,
) -> DataFrame:
    """Per-image dHash frame (id, dhash, width, height, decode_error): the
    fused decode pass with the hash on; only the 8-byte hash + dims leave
    the task."""
    return image_compact(df, id_col=id_col, bytes_col=bytes_col,
                         decoder=decoder, with_dhash=True
                         ).select(*(c.split()[0] for c in FP_DDL.split(", ")))


def image_compact(
    df: DataFrame,
    id_col: str = "id",
    bytes_col: str = "bytes",
    decoder: ImageDecoder = real_image_decoder,
    with_dhash: bool = False,
    features: tuple = (),
) -> DataFrame:
    """The fused image decode pass: ONE mapInArrow scan of the payload
    column emitting everything any image contract rule needs — (id, width,
    height, channels, decode_error) always, the 64-bit dHash when a
    content-uniqueness rule is present, and the requested decoded-raster
    features (multimodal.IMAGE_FEATURE_FNS, as ``f_<name>`` columns) when
    signal-quality rules are present. The image analog of the audio engine's
    single mapInArrow decode (dcspark/audio.py audio_decode_compact): at
    scale, a second decode of the payload corpus is the dominant avoidable
    cost, so all image rules ride this one frame. Only scalar rows leave the
    task — pixels never shuffle."""
    feats = tuple(features)
    for f in feats:
        if f not in IMAGE_FEATURE_FNS:
            raise ValueError(f"unknown image feature {f!r}; "
                             f"known: {sorted(IMAGE_FEATURE_FNS)}")
    ddl = "id string, width int, height int, channels int, decode_error string"
    if with_dhash:
        ddl += ", dhash long"
    ddl += "".join(f", f_{f} double" for f in feats)

    def compact(raw):
        h, w, c, px = decoder(None if raw is None else bytes(raw))
        rec = dict(width=int(w), height=int(h), channels=int(c))
        if with_dhash:
            rec["dhash"] = _signed64(dhash(px))
        if feats:
            luma = image_luma(px)
            for f in feats:
                rec[f"f_{f}"] = IMAGE_FEATURE_FNS[f](luma)
        return rec

    return map_payloads(df, id_col, bytes_col, ddl, compact)


def near_dup_pairs_from_fp(
    fp: DataFrame,
    max_hamming: int = 3,
    max_bucket: Optional[int] = 1000,
) -> DataFrame:
    """Blocked Hamming near-dup pairs from an existing fingerprint frame
    (id, dhash) — the join half of image_near_dup, shared with the engine's
    content-uniqueness contract rule so fused compact frames can reuse it
    without a second decode.

    16-bit block equi-join over the 64-bit dHash (pigeonhole-complete for
    Hamming <= 3; 65,536 keys per block so keyspace >> corpus) through the
    shared matcher (:func:`dcspark.hotkey.self_join`): its per-(block, key)
    bucket cap counts distinct (id, dhash) rows and guards against
    degenerate masses; exact Hamming runs on candidates only. Only hashes
    shuffle.
    """
    if max_hamming > 3:
        raise ValueError("4-block pigeonhole guarantees recall only for max_hamming <= 3")
    rows = hotkey.hash_rows(fp, "id", "dhash")
    joined, _ = hotkey.self_join(rows.select("id", "dhash", hotkey.blocks("dhash")),
                                 "id", hotkey.BLOCK, max_bucket)
    out = (joined
           .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                   F.col("a.dhash").alias("h_a"), F.col("b.dhash").alias("h_b"))
           .distinct()
           .select("id_a", "id_b", hotkey.hamming("h_a", "h_b").alias("hamming"))
           .filter(F.col("hamming") <= max_hamming))
    # cache handle: dcspark.pipeline_ckpt.release_caches(out) after consuming
    out._dcspark_cached = joined._dcspark_cached
    return out


def image_near_dup(
    df: DataFrame,
    max_hamming: int = 3,
    max_bucket: Optional[int] = 1000,
    id_col: str = "id",
    bytes_col: str = "bytes",
    decoder: ImageDecoder = real_image_decoder,
    checkpoint: Optional[str] = None,
) -> DataFrame:
    """Perceptual near-duplicate pairs (id_a, id_b, hamming <= max_hamming):
    one fingerprint decode pass + near_dup_pairs_from_fp's blocked join.

    Stages (``checkpoint``: see :mod:`dcspark.pipeline_ckpt`):
    ``fingerprints`` (the image decode pass) and ``pairs`` (the blocked
    Hamming join; ``max_hamming`` shapes the candidate verify, so it is
    signed rather than filtered after the stage). A custom ``decoder``
    cannot be signed, so it runs one-shot only."""
    from .pipeline_ckpt import Stages

    st = Stages(checkpoint, df.sparkSession, op="image_near_dup",
                id_col=id_col, bytes_col=bytes_col, input=df,
                decoder=None if decoder is real_image_decoder else decoder)
    fp = st("fingerprints", lambda: image_fingerprints(
        df, id_col=id_col, bytes_col=bytes_col, decoder=decoder))
    return st.result(st("pairs", lambda: near_dup_pairs_from_fp(
        fp, max_hamming=max_hamming, max_bucket=max_bucket),
        max_hamming=max_hamming, max_bucket=max_bucket))


def image_cross_contamination(
    corpus_fp: DataFrame,
    eval_fp: DataFrame,
    max_hamming: int = 3,
    max_eval_bucket: int = 50,
) -> DataFrame:
    """Eval-set contamination for IMAGES: (id, eval_id, hamming) for corpus
    images whose dHash is within ``max_hamming`` bits of an evaluation-set
    image — the visual analog of n-gram benchmark decontamination
    (dcspark/decontam.py) and acoustic contamination (dcspark/audiofp.py),
    robust to the JPEG re-encodes / resizes / brightness shifts that defeat
    byte-level matching. Completes the decontam modality matrix: text
    n-grams, audio fingerprints, image dHash.

    Scale shape mirrors the other modalities: the eval side is
    benchmark-sized, never corpus-sized — it is **broadcast**, so the
    corpus probe is a map-side 16-bit-block hash join with zero corpus
    shuffle (pigeonhole-complete for Hamming <= 3); exact Hamming verifies
    candidates only. Eval block-keys shared by more than
    ``max_eval_bucket`` distinct eval (id, dhash) rows are dropped first
    (non-discriminative solid-card masses, all hashing to dHash 0 — the
    fan-out guard)."""
    if max_hamming > 3:
        raise ValueError(
            "4-block pigeonhole guarantees recall only for max_hamming <= 3")
    cu = (corpus_fp.filter(F.col("dhash").isNotNull())
          .select("id", "dhash", hotkey.blocks("dhash")))
    eu = (hotkey.hash_rows(eval_fp, "id", "dhash")
          .toDF("eval_id", "eval_dhash")
          .select("eval_id", "eval_dhash", hotkey.blocks("eval_dhash")))
    hits, _ = hotkey.eval_probe(cu, eu, hotkey.BLOCK, max_eval_bucket)
    out = (hits.select("id", "eval_id", "dhash", "eval_dhash").distinct()
           .select("id", "eval_id",
                   hotkey.hamming("dhash", "eval_dhash").alias("hamming"))
           .filter(F.col("hamming") <= max_hamming))
    out._dcspark_cached = hits._dcspark_cached
    return out


def image_contaminated_ids(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "id",
    bytes_col: str = "bytes",
    max_hamming: int = 3,
    decoder: ImageDecoder = real_image_decoder,
    max_eval_bucket: int = 50,
    checkpoint: Optional[str] = None,
) -> DataFrame:
    """Distinct corpus image ids visually contaminated by the eval set —
    fingerprint both sides, probe, project. A drop list composable with the
    near-dup cluster survivors and the filter quarantine.

    Stages (``checkpoint``: see :mod:`dcspark.pipeline_ckpt`): ``eval_fp``
    and ``corpus_fp`` (the decodes, each signed by its own side only) and
    ``report`` (the probe; ``max_hamming``/``max_eval_bucket`` are signed
    here only, so sweeping them reuses both decodes)."""
    from .pipeline_ckpt import Stages

    st = Stages(checkpoint, corpus.sparkSession, op="image_decontam",
                id_col=id_col, bytes_col=bytes_col,
                decoder=None if decoder is real_image_decoder else decoder)
    efp = st("eval_fp", lambda: image_fingerprints(
        eval_df, id_col=id_col, bytes_col=bytes_col, decoder=decoder),
        eval=eval_df)
    cfp = st("corpus_fp", lambda: image_fingerprints(
        corpus, id_col=id_col, bytes_col=bytes_col, decoder=decoder),
        input=corpus)
    rep = st("report", lambda: image_cross_contamination(
        cfp, efp, max_hamming=max_hamming, max_eval_bucket=max_eval_bucket),
        input=corpus, eval=eval_df, max_hamming=max_hamming,
        max_eval_bucket=max_eval_bucket)
    return st.result(rep.select("id").distinct())


# ---------------------------------------------------------------------------
# video: frame-sampled perceptual fingerprints (dHash sequence)
# ---------------------------------------------------------------------------

VIDEO_FP_DDL = "clip_id string, t int, hash long, decode_error string"


def video_fingerprints(
    df: DataFrame,
    every_n: int = 1,
    max_frames: int = 64,
    id_col: str = "id",
    bytes_col: str = "bytes",
    decoder=None,
) -> DataFrame:
    """Per-video dHash sequence (clip_id, t, hash): decode each payload once
    (Motion-JPEG AVI real), dHash every ``every_n``-th frame up to
    ``max_frames``. The column shape is deliberately identical to
    audiofp.FINGERPRINT_DDL: video near-dup and eval-set decontamination
    (:func:`video_fp_near_dup`, :func:`video_cross_contamination`) run the
    same blocked matcher and overlap score as audio (dcspark/hotkey.py),
    keyed on 16-bit hash blocks with a Hamming verify instead of exact
    hashes — a re-encoded or rescaled copy of a video shares most frame
    hashes while byte-level identity sees nothing. Undecodable payloads surface as one row with
    decode_error set (hash NULL), so the table doubles as a decode audit.

    Only 8-byte hashes leave the task — frames never shuffle."""
    from .multimodal import real_video_decoder

    dec = decoder or real_video_decoder

    def fingerprints(raw):
        _fps, frames = dec(None if raw is None else bytes(raw))
        return [{"t": t, "hash": _signed64(dhash(fr))}
                for t, fr in enumerate(frames[: max_frames * every_n])
                if t % every_n == 0]

    return map_payloads(df, id_col, bytes_col, VIDEO_FP_DDL, fingerprints)


def video_fp_near_dup(
    fp: DataFrame,
    threshold: float = 0.6,
    max_hamming: int = 3,
    min_matches: int = 1,
    max_bucket: int = 500,
) -> DataFrame:
    """Near-duplicate video pairs from a frame-hash table (clip_id, hash).

    Audio fingerprints match EXACTLY after re-encoding (band-occupancy is
    quantized), so audiofp joins on hash equality — but a JPEG re-encode
    drifts each frame dHash by 0-3 bits, so video needs the image-style
    block join (dcspark/hotkey.py): the four 16-bit block keys
    (pigeonhole-complete for Hamming <= 3), bucket-capped against
    degenerate (block, key) masses,
    verify exact Hamming on candidates, then score per pair as
    matched distinct frame hashes / min(|A|, |B|) (a clip embedded in a
    longer cut still scores high).
    ``threshold`` compares the reported (6-decimal) score."""
    # uniq feeds the blocked rows and the per-clip counts (taken before the
    # bucket cap): persist it so the frame-hash lineage (a video decode
    # pass when fp is unpersisted) evaluates once
    uniq = hotkey.hash_rows(fp, "clip_id", "hash").persist()
    joined, _ = hotkey.self_join(
        uniq.select("clip_id", "hash", hotkey.blocks("hash")),
        "clip_id", hotkey.BLOCK, max_bucket)
    cand = (joined
            .select(F.col("a.clip_id").alias("id_a"),
                    F.col("b.clip_id").alias("id_b"),
                    F.col("a.hash").alias("h_a"),
                    F.col("b.hash").alias("h_b"))
            .distinct()
            .filter(hotkey.hamming("h_a", "h_b") <= max_hamming))
    matches = cand.groupBy("id_a", "id_b").agg(
        F.countDistinct("h_a").alias("matches"))
    n = hotkey.id_counts(uniq, "clip_id")
    out = hotkey.overlap_scores(matches, n, n, threshold, min_matches)
    out._dcspark_cached = joined._dcspark_cached + [uniq]
    return out


def video_near_dup(
    df: DataFrame,
    threshold: float = 0.6,
    max_hamming: int = 3,
    min_matches: int = 1,
    max_bucket: int = 500,
    id_col: str = "id",
    bytes_col: str = "bytes",
    checkpoint: Optional[str] = None,
    **fp_kw,
) -> DataFrame:
    """Near-duplicate video pairs (id_a, id_b, matches, score): one decode
    pass to frame-hash rows, then video_fp_near_dup's Hamming-tolerant
    block join.

    Stages (``checkpoint``: see :mod:`dcspark.pipeline_ckpt`):
    ``fingerprints`` (MJPEG decode + per-frame dHash, the dominant cost) and
    ``pairs`` (the block join, stored unthresholded: ``threshold``/
    ``min_matches`` filter after it; ``max_hamming`` is signed)."""
    from .pipeline_ckpt import Stages

    st = Stages(checkpoint, df.sparkSession, op="video_near_dup",
                id_col=id_col, bytes_col=bytes_col, fp=fp_kw, input=df)
    fp = st("fingerprints", lambda: video_fingerprints(
        df, id_col=id_col, bytes_col=bytes_col, **fp_kw))
    pairs = st("pairs", lambda: video_fp_near_dup(
        fp, threshold=0.0, max_hamming=max_hamming, max_bucket=max_bucket),
        max_hamming=max_hamming, max_bucket=max_bucket)
    return st.result(pairs.filter(
        (F.col("score") >= threshold) & (F.col("matches") >= min_matches)))


def video_cross_contamination(
    corpus_fp: DataFrame,
    eval_fp: DataFrame,
    threshold: float = 0.6,
    max_hamming: int = 3,
    max_eval_bucket: int = 50,
) -> DataFrame:
    """Eval-set contamination for VIDEO: (clip_id, eval_id, matches, score)
    for corpus videos whose frame dHashes lie within ``max_hamming`` bits
    of an eval video's — Hamming-tolerant (JPEG re-encode drift) where the
    audio analog can join on exact hash equality. The eval side is
    benchmark-sized and **broadcast** after a per-(block, key) bucket cap
    (solid/static-frame masses): the corpus probe is map-side, zero corpus
    shuffle. Score = matched distinct corpus frame hashes / min(|clip|,
    |eval|).
    ``threshold`` compares the reported (6-decimal) score."""
    # corpus hashes feed the probe and n_c, eval hashes the probe and n_e
    # (both counted before the cap): persist both so each decode pass runs
    # once (the corpus side is the full-scan job)
    cu = hotkey.hash_rows(corpus_fp, "clip_id", "hash").persist()
    eu = (hotkey.hash_rows(eval_fp, "clip_id", "hash")
          .toDF("eval_id", "eval_hash").persist())
    hits, _ = hotkey.eval_probe(
        cu.select("clip_id", "hash", hotkey.blocks("hash")),
        eu.select("eval_id", "eval_hash", hotkey.blocks("eval_hash")),
        hotkey.BLOCK, max_eval_bucket)
    cand = (hits.select("clip_id", "eval_id", "hash", "eval_hash")
            .distinct()
            .filter(hotkey.hamming("hash", "eval_hash") <= max_hamming))
    matches = cand.groupBy("clip_id", "eval_id").agg(
        F.countDistinct("hash").alias("matches"))
    out = hotkey.overlap_scores(
        matches, hotkey.id_counts(cu, "clip_id"),
        F.broadcast(hotkey.id_counts(eu, "eval_id")), threshold, 1)
    out._dcspark_cached = hits._dcspark_cached + [cu, eu]
    return out


def video_contaminated_ids(
    corpus: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.6,
    id_col: str = "id",
    bytes_col: str = "bytes",
    max_hamming: int = 3,
    max_eval_bucket: int = 50,
    checkpoint: Optional[str] = None,
    **fp_kw,
) -> DataFrame:
    """Distinct corpus video ids visually contaminated by an eval set:
    frame-hash both sides (one decode pass each), broadcast the
    benchmark-sized eval frame, probe map-side — zero corpus shuffle.

    Stages (``checkpoint``: see :mod:`dcspark.pipeline_ckpt`): ``eval_fp``
    and ``corpus_fp`` (the decodes, each signed by its own side only) and
    ``report`` (the probe, stored unthresholded: ``threshold`` filters after
    it; ``max_hamming``/``max_eval_bucket`` are signed here only)."""
    from .pipeline_ckpt import Stages

    st = Stages(checkpoint, corpus.sparkSession, op="video_decontam",
                id_col=id_col, bytes_col=bytes_col, fp=fp_kw)
    efp = st("eval_fp", lambda: video_fingerprints(
        eval_df, id_col=id_col, bytes_col=bytes_col, **fp_kw), eval=eval_df)
    cfp = st("corpus_fp", lambda: video_fingerprints(
        corpus, id_col=id_col, bytes_col=bytes_col, **fp_kw), input=corpus)
    rep = st("report", lambda: video_cross_contamination(
        cfp, efp, threshold=0.0, max_hamming=max_hamming,
        max_eval_bucket=max_eval_bucket),
        input=corpus, eval=eval_df, max_hamming=max_hamming,
        max_eval_bucket=max_eval_bucket)
    return st.result(rep.filter(F.col("score") >= threshold)
                     .select(F.col("clip_id").alias("id")).distinct())
