"""Acoustic fingerprinting + audio near-duplicate detection.

The audio-payload analog of the text MinHash-LSH pipeline (textops.py):
per-clip spectral fingerprints computed in one Arrow-batched pass, then a
bucketed hash equi-join for candidate pairs — never an all-pairs comparison,
never PCM bytes through a shuffle.

Fingerprint scheme (band-occupancy variant of Haitsma & Kalker, "A Highly
Robust Audio Fingerprinting System", ISMIR 2002): frame the PCM, take
per-frame energies in log-spaced frequency bands, and emit two threshold bits
per band — ``E[b] > rel_hi * max(E)`` and ``E[b] > rel_lo * max(E)`` — packed
into one 62-bit hash per frame (31 bands x 2). Ratios to the frame maximum
are exactly invariant under any positive gain, and with thresholds decades
apart (0.25 / 0.005) a bit flips only when a band's relative energy moves
~20+ dB, so mild additive noise and int16 requantization leave the hash
intact. (HK's adjacent-band difference SIGNS are noise-dominated wherever two
bands are both near the noise floor — e.g. synthetic or band-limited audio —
which is why occupancy-vs-max is used instead of difference signs.)

The reference (datacontract-cli) has no audio operators; this implements the
north-star requirement of payload-aware validation ops over the
(clip_id, bytes, sr_hz, ...) table shape (BASELINE.json input_hint).

Scale design (10^12 clips):
- fingerprint pass: one mapInArrow scan of (clip_id, bytes); output rows are
  (clip_id, t, hash) — 8-byte hashes, constant count per second of audio.
- candidate join: self-equi-join on ``hash`` through the shared blocked
  matcher (dcspark/hotkey.py); shuffle volume is bounded by fingerprint
  rows, and overfull buckets (silence / degenerate hashes, the skew risk)
  are dropped by its hot-key census + anti-join (documented recall
  tradeoff, standard in fingerprint joins).
- scoring: matches / min(|A|,|B|) needs per-clip distinct-hash counts — a
  groupBy(clip_id) aggregate joined back onto the pair table by key, all
  decomposable, AQE-friendly.
"""
from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import hotkey
from .audio import parse_wav_view
from .rowmap import map_payloads

FINGERPRINT_DDL = "clip_id string, t int, hash long, decode_error string"
NEAR_DUP_DDL = "id_a string, id_b string, matches long, score double"


def fingerprint_hashes(
    pcm: np.ndarray,
    sr: int,
    n_bands: int = 31,
    frame_s: float = 0.064,
    hop_s: float = 0.032,
    fmin: float = 300.0,
    fmax: float = 3000.0,
    rel_hi: float = 0.25,
    rel_lo: float = 0.005,
) -> np.ndarray:
    """Per-frame 62-bit sub-fingerprints of one clip (int64, one per frame).

    Pure numpy: Hann window -> rFFT power spectrum -> log-spaced band
    energies -> two occupancy bits per band (E > rel_hi*max, E > rel_lo*max).
    """
    x = np.asarray(pcm, dtype=np.float32)
    nwin = max(16, int(round(frame_s * sr)))
    hop = max(1, int(round(hop_s * sr)))
    if len(x) < nwin:
        return np.empty(0, dtype=np.int64)
    frames = np.lib.stride_tricks.sliding_window_view(x, nwin)[::hop]
    win = np.hanning(nwin).astype(np.float32)
    spec = np.fft.rfft(frames * win, axis=1)
    power = spec.real ** 2 + spec.imag ** 2
    freqs = np.fft.rfftfreq(nwin, 1.0 / sr)
    hi = min(fmax, 0.45 * sr)
    edges = np.geomspace(fmin, hi, n_bands + 1)
    idx = np.searchsorted(freqs, edges)
    # low sample rates can collapse adjacent band edges onto the same FFT bin;
    # force every band to span at least one bin so E is well-defined
    idx = np.maximum.accumulate(np.maximum(idx, np.arange(n_bands + 1)))
    idx = np.clip(idx, 0, power.shape[1] - 1)
    E = np.stack(
        [power[:, idx[i]:max(idx[i + 1], idx[i] + 1)].sum(axis=1)
         for i in range(n_bands)],
        axis=1,
    )
    mx = np.maximum(E.max(axis=1, keepdims=True), 1e-12)
    bits = np.concatenate([E > rel_hi * mx, E > rel_lo * mx], axis=1)
    weights = (1 << np.arange(2 * n_bands, dtype=np.int64))
    return (bits.astype(np.int64) * weights).sum(axis=1)


def audio_fingerprints(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    n_bands: int = 31,
    frame_s: float = 0.064,
    hop_s: float = 0.032,
    fmin: float = 300.0,
    fmax: float = 3000.0,
    rel_hi: float = 0.25,
    rel_lo: float = 0.005,
) -> DataFrame:
    """(clip_id, t, hash) fingerprint rows — one distributed decode+FFT pass.

    Undecodable clips surface as a single row with ``decode_error`` set (and
    hash NULL) so the fingerprint table doubles as a decode audit.
    """

    def fingerprints(raw):
        sr, _codec, pcm = parse_wav_view(raw)
        hashes = fingerprint_hashes(
            pcm, sr, n_bands=n_bands, frame_s=frame_s, hop_s=hop_s,
            fmin=fmin, fmax=fmax, rel_hi=rel_hi, rel_lo=rel_lo,
        )
        return [{"t": t, "hash": int(h)} for t, h in enumerate(hashes)]

    return map_payloads(df, id_col, bytes_col, FINGERPRINT_DDL, fingerprints)


def audio_fingerprint_near_dup(
    fingerprints: DataFrame,
    threshold: float = 0.35,
    min_matches: int = 1,
    max_bucket: int = 500,
) -> DataFrame:
    """Near-duplicate clip pairs from a fingerprint table.

    Candidate pairs come ONLY from shared-hash buckets: the distinct
    (clip_id, hash) rows self-join on ``hash`` through the shared matcher
    (:func:`dcspark.hotkey.self_join`), whose bucket guard drops hashes
    held by more than ``max_bucket`` clips (silence, the skew pathology).
    Score = shared distinct hashes / min clip fingerprint count, both
    counted after the cap, so a short clip embedded in a longer one still
    scores high. ``threshold`` compares the reported (6-decimal) score.
    """
    rows = hotkey.hash_rows(fingerprints, "clip_id", "hash")
    joined, guarded = hotkey.self_join(rows, "clip_id", ["hash"], max_bucket)
    matches = (joined
               .groupBy(F.col("a.clip_id").alias("id_a"),
                        F.col("b.clip_id").alias("id_b"))
               .agg(F.count(F.lit(1)).alias("matches")))
    n = hotkey.id_counts(guarded, "clip_id")
    out = hotkey.overlap_scores(matches, n, n, threshold, min_matches)
    # cache handle: dcspark.pipeline_ckpt.release_caches(out) after consuming
    out._dcspark_cached = joined._dcspark_cached
    return out


def audio_near_dup(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    threshold: float = 0.35,
    min_matches: int = 1,
    max_bucket: int = 500,
    checkpoint: Optional[str] = None,
    **fp_kwargs,
) -> DataFrame:
    """End-to-end: decode -> fingerprint -> bucketed near-dup pairs.

    Stages (``checkpoint``: see :mod:`dcspark.pipeline_ckpt`):
    ``fingerprints`` (the decode+FFT pass — at 10^12 clips the dominant cost
    by orders of magnitude) and ``pairs`` (the bucket-capped join, stored
    unthresholded: ``threshold``/``min_matches`` filter after it). A changed
    ``max_bucket`` invalidates only ``pairs``; the decode stays on disk."""
    from .pipeline_ckpt import Stages

    st = Stages(checkpoint, df.sparkSession, op="audio_near_dup",
                id_col=id_col, bytes_col=bytes_col, fp=fp_kwargs, input=df)
    fp = st("fingerprints", lambda: audio_fingerprints(
        df, id_col=id_col, bytes_col=bytes_col, **fp_kwargs))
    pairs = st("pairs", lambda: audio_fingerprint_near_dup(
        fp, threshold=0.0, max_bucket=max_bucket), max_bucket=max_bucket)
    return st.result(pairs.filter(
        (F.col("score") >= threshold) & (F.col("matches") >= min_matches)))


def audio_cross_contamination(
    corpus_fp: DataFrame,
    eval_fp: DataFrame,
    threshold: float = 0.35,
    min_matches: int = 1,
    max_eval_bucket: int = 50,
) -> DataFrame:
    """Eval-set contamination for AUDIO: (clip_id, eval_id, matches, score)
    for corpus clips whose acoustic fingerprints overlap an evaluation set —
    the payload analog of n-gram benchmark decontamination (dcspark/
    decontam.py), robust to the re-encodes that defeat exact byte or
    transcript matching (fingerprints are gain-invariant and noise-robust,
    test-locked in tests/test_audiofp.py).

    Scale shape: the eval side is benchmark-sized, never corpus-sized — its
    DISTINCT (eval_id, hash) frame is **broadcast**, so the corpus probe is
    a map-side hash join with zero corpus shuffle, mirroring decontam's
    text design. Eval hashes shared by more than ``max_eval_bucket`` eval
    clips are dropped first (non-discriminative silence/tone buckets — the
    fan-out and skew guard). Score = shared distinct hashes / min(clip,
    eval) fingerprint count, so a benchmark snippet embedded in a longer
    training clip still scores high.
    ``threshold`` compares the reported (6-decimal) score."""
    # corpus hashes feed the probe AND n_c: persist them so the corpus
    # decode pass runs once (it is the 10^12-clip scan — re-evaluating it
    # is the whole job twice)
    cu = hotkey.hash_rows(corpus_fp, "clip_id", "hash").persist()
    eu = hotkey.hash_rows(eval_fp, "clip_id", "hash").toDF("eval_id", "hash")
    hits, guarded = hotkey.eval_probe(cu, eu, ["hash"], max_eval_bucket)
    matches = (hits.groupBy("clip_id", "eval_id")
               .agg(F.count(F.lit(1)).alias("matches")))
    out = hotkey.overlap_scores(
        matches, hotkey.id_counts(cu, "clip_id"),
        F.broadcast(hotkey.id_counts(guarded, "eval_id")),
        threshold, min_matches)
    out._dcspark_cached = hits._dcspark_cached + [cu]
    return out


def audio_contaminated_ids(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    threshold: float = 0.35,
    min_matches: int = 1,
    max_eval_bucket: int = 50,
    checkpoint: Optional[str] = None,
    **fp_kwargs,
) -> DataFrame:
    """Distinct corpus clip_ids acoustically contaminated by the eval set —
    decode + fingerprint both sides, probe, project. A drop list composable
    with the near-dup cluster survivors and the filter quarantine.

    Stages (``checkpoint``: see :mod:`dcspark.pipeline_ckpt`): ``eval_fp``
    (signed by the eval side only), ``corpus_fp`` (the expensive corpus
    decode, signed by the corpus side only — swapping the benchmark never
    re-decodes the corpus) and ``report`` (the probe, stored unthresholded:
    ``threshold``/``min_matches`` filter after it)."""
    from .pipeline_ckpt import Stages

    st = Stages(checkpoint, corpus.sparkSession, op="audio_decontam",
                id_col=id_col, bytes_col=bytes_col, fp=fp_kwargs)
    efp = st("eval_fp", lambda: audio_fingerprints(
        eval_df, id_col=id_col, bytes_col=bytes_col, **fp_kwargs),
        eval=eval_df)
    cfp = st("corpus_fp", lambda: audio_fingerprints(
        corpus, id_col=id_col, bytes_col=bytes_col, **fp_kwargs),
        input=corpus)
    rep = st("report", lambda: audio_cross_contamination(
        cfp, efp, threshold=0.0, max_eval_bucket=max_eval_bucket),
        input=corpus, eval=eval_df, max_eval_bucket=max_eval_bucket)
    hits = rep.filter(
        (F.col("score") >= threshold) & (F.col("matches") >= min_matches))
    return st.result(hits.select("clip_id").distinct())
