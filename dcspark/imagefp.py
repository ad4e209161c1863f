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


def _block_keys(col: str) -> F.Column:
    """The four 16-bit block keys of a 64-bit dHash as an array.

    Mask, don't '%': Spark % keeps the dividend's sign, so a negative dhash
    (bit 63 set) would get a block-0 key that never equi-joins its positive
    twins — silently losing recall for ~half the corpus."""
    return F.array(*[(F.shiftrightunsigned(F.col(col), b * 16)
                      .bitwiseAND(F.lit(0xFFFF))) for b in range(4)])


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
    Hamming <= 3; 65,536 keys per block so keyspace >> corpus), with a
    windowed per-(block, key) bucket cap against degenerate masses, exact
    Hamming on candidates only. Only hashes shuffle. The four blocks are
    posexploded into (block_idx, key) rows and joined ONCE — a per-block
    join loop would union four branches that each re-evaluate the
    fingerprint lineage (4x the decode work when fp is not persisted).
    """
    if max_hamming > 3:
        raise ValueError("4-block pigeonhole guarantees recall only for max_hamming <= 3")
    from .hotkey import hot_key_guard

    t = (fp.filter(F.col("dhash").isNotNull())
         .select("id", "dhash",
                 F.posexplode(_block_keys("dhash")).alias("__bi", "__k")))
    # shared corpus-side bucket cap + persist (dcspark/hotkey.py): the
    # persist also makes the fingerprint lineage (a decode pass when fp is
    # unpersisted) evaluate once, not twice (plan-gated)
    t = hot_key_guard(t, ["__bi", "__k"], max_bucket)
    a_, b_ = t.alias("a"), t.alias("b")
    cands = (a_.join(b_, on=["__bi", "__k"])
             .filter(F.col("a.id") < F.col("b.id"))
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                     F.col("a.dhash").alias("h_a"),
                     F.col("b.dhash").alias("h_b")))
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    out = (cands.distinct()
           .select("id_a", "id_b", ham.cast("int").alias("hamming"))
           .filter(F.col("hamming") <= max_hamming))
    # cache handle: dcspark.pipeline_ckpt.release_caches(out) after consuming
    out._dcspark_cached = [t]
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
    ``max_eval_bucket`` eval images are dropped first (non-discriminative
    solid-card masses, all hashing to dHash 0 — the fan-out guard)."""
    if max_hamming > 3:
        raise ValueError(
            "4-block pigeonhole guarantees recall only for max_hamming <= 3")
    from pyspark.sql import Window

    # ONE join over posexploded (block_idx, key) rows: a per-block join
    # loop would union four branches that each re-evaluate the corpus
    # fingerprint lineage — 4x the decode work on the side where the
    # payload scan IS the job
    cu = (corpus_fp.filter(F.col("dhash").isNotNull())
          .select("id", "dhash",
                  F.posexplode(_block_keys("dhash")).alias("__bi", "__k")))
    eu = (eval_fp.filter(F.col("dhash").isNotNull())
          .select(F.col("id").alias("eval_id"),
                  F.col("dhash").alias("eval_dhash"))
          .select("eval_id", "eval_dhash",
                  F.posexplode(_block_keys("eval_dhash")).alias("__bi", "__k"))
          .withColumn("_bc", F.count(F.lit(1)).over(
              Window.partitionBy("__bi", "__k")))
          .filter(F.col("_bc") <= max_eval_bucket).drop("_bc"))
    cands = (cu.join(F.broadcast(eu), on=["__bi", "__k"])
             .select("id", "eval_id", "dhash", "eval_dhash"))
    ham = F.bit_count(F.col("dhash").bitwiseXOR(F.col("eval_dhash")))
    return (cands.distinct()
            .select("id", "eval_id", ham.cast("int").alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


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
    audiofp.FINGERPRINT_DDL so the hash-overlap machinery
    (audio_fingerprint_near_dup / audio_cross_contamination) is reused
    verbatim for video near-dup and eval-set decontamination — a re-encoded
    or rescaled copy of a video shares most frame hashes while byte-level
    identity sees nothing. Undecodable payloads surface as one row with
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
    block join: posexplode the four 16-bit block keys (pigeonhole-complete
    for Hamming <= max_hamming), bucket-cap degenerate (block, key) masses,
    verify exact Hamming on candidates, then score per pair as
    matched distinct frame hashes / min(|A|, |B|) (a clip embedded in a
    longer cut still scores high).
    ``threshold`` compares the reported (6-decimal) score."""
    # uniq feeds both join sides (via t) and the per-clip counts: persist so
    # the frame-hash lineage (a video decode pass when fp is unpersisted)
    # evaluates once, not 3x (plan-gated)
    uniq = (fp.filter(F.col("hash").isNotNull())
            .select("clip_id", "hash").distinct()).persist()
    from .hotkey import hot_key_guard

    t = uniq.select("clip_id", "hash",
                    F.posexplode(_block_keys("hash")).alias("__bi", "__k"))
    t = hot_key_guard(t, ["__bi", "__k"], max_bucket)
    a_, b_ = t.alias("a"), t.alias("b")
    cand = (a_.join(b_, on=["__bi", "__k"])
            .filter(F.col("a.clip_id") < F.col("b.clip_id"))
            .select(F.col("a.clip_id").alias("id_a"),
                    F.col("b.clip_id").alias("id_b"),
                    F.col("a.hash").alias("h_a"),
                    F.col("b.hash").alias("h_b"))
            .distinct()
            .filter(F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
                    <= max_hamming))
    matches = cand.groupBy("id_a", "id_b").agg(
        F.countDistinct("h_a").alias("matches"))
    counts = uniq.groupBy("clip_id").agg(F.count(F.lit(1)).alias("n"))
    out = (matches
           .join(counts.withColumnRenamed("clip_id", "id_a")
                 .withColumnRenamed("n", "n_a"), on="id_a")
           .join(counts.withColumnRenamed("clip_id", "id_b")
                 .withColumnRenamed("n", "n_b"), on="id_b")
           .select("id_a", "id_b", "matches",
                   F.round(F.col("matches") / F.least("n_a", "n_b"), 6)
                   .alias("score"))
           .filter((F.col("score") >= threshold)
                   & (F.col("matches") >= min_matches)))
    out._dcspark_cached = [uniq, t]
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
    from pyspark.sql import Window

    # corpus hashes feed the probe and n_c, eval hashes the probe and n_e:
    # persist both so each decode pass runs once (the corpus side is the
    # full-scan job)
    cu = (corpus_fp.filter(F.col("hash").isNotNull())
          .select("clip_id", "hash").distinct()).persist()
    eu = (eval_fp.filter(F.col("hash").isNotNull())
          .select(F.col("clip_id").alias("eval_id"),
                  F.col("hash").alias("eval_hash")).distinct()).persist()
    ce = cu.select("clip_id", "hash",
                   F.posexplode(_block_keys("hash")).alias("__bi", "__k"))
    ee = (eu.select("eval_id", "eval_hash",
                    F.posexplode(_block_keys("eval_hash"))
                    .alias("__bi", "__k"))
          .withColumn("_bc", F.count(F.lit(1)).over(
              Window.partitionBy("__bi", "__k")))
          .filter(F.col("_bc") <= max_eval_bucket).drop("_bc"))
    cand = (ce.join(F.broadcast(ee), on=["__bi", "__k"])
            .select("clip_id", "eval_id", "hash", "eval_hash")
            .distinct()
            .filter(F.bit_count(
                F.col("hash").bitwiseXOR(F.col("eval_hash")))
                <= max_hamming))
    matches = cand.groupBy("clip_id", "eval_id").agg(
        F.countDistinct("hash").alias("matches"))
    n_c = cu.groupBy("clip_id").agg(F.count(F.lit(1)).alias("n_c"))
    n_e = eu.groupBy("eval_id").agg(F.count(F.lit(1)).alias("n_e"))
    out = (matches.join(n_c, on="clip_id")
           .join(F.broadcast(n_e), on="eval_id")
           .select("clip_id", "eval_id", "matches",
                   F.round(F.col("matches") / F.least("n_c", "n_e"), 6)
                   .alias("score"))
           .filter(F.col("score") >= threshold))
    out._dcspark_cached = [cu, eu]
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
