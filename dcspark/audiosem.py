"""Semantic audio embeddings + SemDeDup-style near-dup / decontamination.

The acoustic fingerprints (dcspark/audiofp.py, Haitsma-Kalker band hashes)
find clips that share near-exact spectral frames — re-encodes, gain changes,
embeddings of one clip inside another. They break when the waveform is
perturbed past requantization noise: additive noise at finite SNR, lossy
codec smear, light filtering. This module is the complementary SEMANTIC
layer (the audio analog of text SemDeDup, Abbas et al. 2023): a fixed-dim
clip embedding pooled from the log-mel spectrogram, deduplicated with the
same k-means-cell blocking used for text embeddings
(:func:`dcspark.simsearch.semantic_dedup_pairs`).

Embedding (per clip, 2*n_mels dims):
- RMS-normalize the PCM, clamp log-mel dynamic range to top_db below the
  clip max (see :func:`clip_embedding` for why BOTH are needed for real
  gain invariance — the log floor and the requantization noise floor each
  break the naive "gain is a constant log shift" argument);
- temporal MEAN per mel band, re-centered by its own scalar mean;
- temporal STD per mel band — captures modulation structure the mean
  misses.
Additive noise at sane SNRs perturbs mostly low-energy cells, moving cosine
slightly below 1.0 while distinct content stays far lower — which is the
separation semantic dedup needs and byte/hash equality cannot give.

The reference (datacontract-cli) has no audio operators; this extends the
north-star payload-aware family (BASELINE.json input_hint table shape).

Scale design (10^12 clips):
- ONE mapInArrow decode pass produces the compact (clip_id, emb) frame —
  2*n_mels float64s per clip (~640 bytes at n_mels=40); PCM never shuffles.
  The frame is persisted: quantizer training, cell assignment, and the
  within-cell join all reuse it (exactly-once decode, accumulator-gated).
- pair generation is simsearch.semantic_dedup_pairs: k-means|| cells
  (trained on a bounded sample), within-cell equi-join co-partitioned on
  cell, hot-cell guard — never an all-pairs product.
- decontamination broadcasts the benchmark side (eval sets are benchmark-
  sized, never corpus-sized) with multi-cell probing on the eval side only,
  so IVF boundary misses cost eval-side replication, not corpus shuffle.
"""
from __future__ import annotations

from typing import List, Optional

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .audio import BYTES_COL, parse_wav_view
from .audioops import logmel_frames, mel_filterbank
from .rowmap import map_payloads

EMBED_DDL = "clip_id string, emb array<double>, decode_error string"


_NATS_PER_DB = 0.23025850929940458  # ln(10)/10: logmel is natural-log power


def clip_embedding(
    pcm: np.ndarray,
    sr: int,
    n_mels: int = 40,
    frame_ms: float = 25.0,
    hop_ms: float = 10.0,
    top_db: float = 60.0,
    fb: Optional[np.ndarray] = None,
) -> Optional[np.ndarray]:
    """Pool one clip's log-mel frames into a 2*n_mels embedding.

    [mean_t(logmel) - scalar_mean, std_t(logmel)] after two conditioning
    steps that make the embedding EXACTLY gain-invariant (not merely
    approximately, test-locked at cosine > 0.9999):

    1. RMS-normalize the PCM, so gain cancels before the absolute +1e-10
       floor inside logmel_frames can turn a log-domain shift non-uniform;
    2. clamp the log-mel dynamic range to ``top_db`` below the clip max
       (librosa's top_db convention). Without the clamp, mel bands carrying
       no signal sit at the REQUANTIZATION noise floor, which moves with the
       stored gain (int16 at 0.25x gain ~= 12 dB higher floor) and —
       being log-of-tiny — dominates the embedding norm. Those bands say
       nothing about content; 60 dB keeps everything perceptually relevant.

    Returns None for clips too short to yield a single analysis frame.
    """
    x = pcm.astype(np.float64)
    rms = float(np.sqrt(np.mean(x * x))) if len(x) else 0.0
    if rms > 0:
        x = x * (3276.8 / rms)  # nominal -20 dBFS operating point
    lm = logmel_frames(x, sr, n_mels, frame_ms, hop_ms, fb=fb)
    if lm.shape[0] == 0:
        return None
    lm = np.maximum(lm, lm.max() - top_db * _NATS_PER_DB)
    mu = lm.mean(axis=0)
    mu = mu - mu.mean()
    sd = lm.std(axis=0)
    return np.concatenate([mu, sd])


def audio_embeddings(
    df: DataFrame,
    n_mels: int = 40,
    frame_ms: float = 25.0,
    hop_ms: float = 10.0,
    id_col: str = "clip_id",
    bytes_col: str = BYTES_COL,
) -> DataFrame:
    """(clip_id, emb, decode_error): one Arrow-batched decode+pool pass.

    Same zero-copy mapInArrow scan shape as every audio pass (audioops.py):
    the filterbank is built once per (sr, frame length) per task; per clip
    the work is the logmel pipeline plus two axis reductions. Undecodable
    or too-short clips carry the error string with emb NULL, so the
    embedding table doubles as a decode audit.
    """

    fb_cache: dict = {}

    def embed(raw):
        sr, _codec, pcm = parse_wav_view(raw)
        frame_n = max(16, int(round(sr * frame_ms / 1000.0)))
        fb = fb_cache.get((sr, frame_n))
        if fb is None:
            fb = fb_cache[(sr, frame_n)] = mel_filterbank(sr, frame_n, n_mels)
        emb = clip_embedding(pcm, sr, n_mels, frame_ms, hop_ms, fb=fb)
        if emb is None:
            return {"decode_error": "clip shorter than one frame"}
        return {"emb": emb}

    return map_payloads(df, id_col, bytes_col, EMBED_DDL, embed)


def _train_cells(frame: DataFrame, n_cells: Optional[int], vec_col: str,
                 dim: int) -> List[List[float]]:
    """Size + train the coarse quantizer off a persisted embedding frame.

    k defaults to ceil(n/4096) (cells stay join-friendly), clamped to the
    point count — k-means|| crashes on k > n and rejects k < 2, so a 0/1-row
    frame falls back to the single deterministic md5 centroid (one cell =
    no blocking, harmless at that size).
    """
    from .simsearch import ivf_centroids, ivf_train_centroids

    n = frame.count()  # first action: materializes the persisted frame
    k = max(1, min(n_cells if n_cells is not None
                   else max(4, -(-n // 4096)), n))
    if k < 2:
        return ivf_centroids(1, dim)
    return ivf_train_centroids(frame, k, vec_col=vec_col)


def audio_semantic_near_dup(
    df: DataFrame,
    threshold: float = 0.85,
    n_cells: Optional[int] = None,
    max_bucket: Optional[int] = 100_000,
    n_mels: int = 40,
    id_col: str = "clip_id",
    bytes_col: str = BYTES_COL,
    centroids: Optional[List[List[float]]] = None,
) -> DataFrame:
    """End-to-end audio SemDeDup: decode -> embed -> cell-blocked cosine
    pairs ``(id_a, id_b, cell, score)``.

    ``n_cells=None`` sizes the quantizer from the corpus count
    (ceil(n/4096), >=4) so cells stay join-friendly; explicit ``centroids``
    skip training entirely (the resumable-pipeline path: train once,
    re-join under swept thresholds for free). The embedding frame persists
    so quantizer training + cell join decode the corpus EXACTLY once
    (accumulator-gated in tests/test_audiosem.py). Feed the result to
    :func:`dcspark.cluster.near_dup_clusters` for survivor selection.
    """
    from .simsearch import semantic_dedup_pairs

    emb = (
        audio_embeddings(df, n_mels=n_mels, id_col=id_col, bytes_col=bytes_col)
        .filter(F.col("emb").isNotNull())
        .persist()
    )
    cents = centroids
    if cents is None:
        cents = _train_cells(emb, n_cells, "emb", 2 * n_mels)
    pairs = semantic_dedup_pairs(
        emb, dim=2 * n_mels, centroids=cents, threshold=threshold,
        max_bucket=max_bucket, id_col="clip_id", vec_col="emb", id_cast=None,
    )
    pairs._dcspark_cached = [emb] + getattr(pairs, "_dcspark_cached", [])
    return pairs


def _eval_cells(eval_emb: DataFrame, cents: List[List[float]],
                nprobe: int) -> DataFrame:
    """Replicate each eval vector into its ``nprobe`` nearest cells.

    IVF recall repair on the SMALL side only: a corpus vector is assigned to
    exactly one cell (a codegen projection, no per-row Python), while each
    benchmark vector probes its top-``nprobe`` cells — boundary pairs cost
    eval-side replication, never corpus shuffle. The rank window is fine
    here because the eval side is benchmark-sized by assumption.
    """
    from .simsearch import _as_double, _matrix_expr, dot_expr, norm_expr

    dots = F.transform(_matrix_expr(cents),
                       lambda cent: dot_expr(F.col("v"), cent))
    base = eval_emb.select(
        F.col("eval_id"),
        _as_double(F.col("v")).alias("v"),
    ).select("eval_id", "v", norm_expr(F.col("v")).alias("nv"),
             F.posexplode(dots).alias("cell0", "dot"))
    w = Window.partitionBy("eval_id").orderBy(F.desc("dot"), F.asc("cell0"))
    return (
        base.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= nprobe)
        .select("eval_id", (F.col("cell0") + 1).cast("int").alias("cell"),
                "v", "nv")
    )


def audio_semantic_decontam(
    corpus: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.85,
    n_cells: Optional[int] = None,
    eval_nprobe: int = 2,
    n_mels: int = 40,
    id_col: str = "clip_id",
    bytes_col: str = BYTES_COL,
    centroids: Optional[List[List[float]]] = None,
) -> DataFrame:
    """Semantic eval-set contamination: ``(clip_id, eval_id, cell, score)``
    for corpus clips whose embedding cosine vs a benchmark clip >= threshold.

    Catches noisy / filtered / codec-smeared benchmark leaks that defeat the
    acoustic-fingerprint decontam (audiofp.audio_cross_contamination) — the
    two are complementary layers over the same corpus scan budget.

    Scale shape mirrors the text/audio decontam family: the quantizer trains
    on the EVAL side (benchmark-sized — cells follow the distribution that
    matters, the leak targets), the eval frame is replicated into its
    ``eval_nprobe`` nearest cells and **broadcast**, and the corpus probe is
    one map-side hash join on the cell key with zero corpus shuffle.
    """
    from .simsearch import _as_double, cell_expr, dot_expr, norm_expr

    eu = (
        audio_embeddings(eval_df, n_mels=n_mels, id_col=id_col,
                         bytes_col=bytes_col)
        .filter(F.col("emb").isNotNull())
        .select(F.col("clip_id").alias("eval_id"),
                _as_double(F.col("emb")).alias("v"))
        .persist()
    )
    cents = centroids
    if cents is None:
        cents = _train_cells(eu, n_cells, "v", 2 * n_mels)
    probes = _eval_cells(eu, cents, eval_nprobe)
    cu = (
        audio_embeddings(corpus, n_mels=n_mels, id_col=id_col,
                         bytes_col=bytes_col)
        .filter(F.col("emb").isNotNull())
        .select("clip_id", _as_double(F.col("emb")).alias("vc"))
        .select("clip_id", "vc",
                cell_expr(F.col("vc"), cents).alias("cell"),
                norm_expr(F.col("vc")).alias("nc"))
    )
    out = (
        cu.join(F.broadcast(probes), on="cell")
        .select(
            "clip_id", "eval_id", "cell",
            (dot_expr(F.col("vc"), F.col("v")) /
             (F.col("nc") * F.col("nv"))).alias("score_raw"),
        )
        .filter(F.col("score_raw") >= threshold)
        # nprobe replication can match the same (clip, eval) pair in two
        # cells; keep the best-scoring row per pair
        .groupBy("clip_id", "eval_id")
        .agg(F.max(F.round(F.col("score_raw"), 6)).alias("score"),
             F.min("cell").alias("cell"))
        .select("clip_id", "eval_id", "cell", "score")
    )
    out._dcspark_cached = [eu]
    return out


def audio_semantic_contaminated_ids(
    corpus: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.85,
    **kw,
) -> DataFrame:
    """Distinct corpus clip_ids semantically contaminated by the eval set —
    a drop list composable with the acoustic decontam list and the near-dup
    cluster survivors."""
    rep = audio_semantic_decontam(corpus, eval_df, threshold=threshold, **kw)
    out = rep.select("clip_id").distinct()
    out._dcspark_cached = rep._dcspark_cached
    return out
