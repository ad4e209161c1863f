"""Audio training-pipeline operators: transcode, VAD segmentation, chunking.

The normalization stages a speech-training corpus needs between raw ingest and
model consumption: re-encode a heterogeneous corpus into one codec/rate
(:func:`audio_transcode`), find speech regions and strip dead air
(:func:`audio_segments`), and cut clips into fixed training windows
(:func:`audio_chunks`).

Engine-extension operators (the reference has no audio path — SURVEY.md §2.5).
Execution model mirrors ``dcspark.audio``: ``mapInArrow`` over zero-copy views
of the Arrow binary heap, whole-array numpy per clip (framing via reshape /
``np.add.reduceat``, never per-sample Python), projection limited to
(id, bytes) so the parquet scan prunes everything else. Each operator is
embarrassingly parallel per clip — no shuffle, no skew surface; at 10^12 rows
the plan is a single scan-transform stage whose throughput scales with cores.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .audio import BYTES_COL, encode_wav, parse_wav_view
from .rowmap import DECODE_ERRORS, _binary_views, map_payloads

TRANSCODE_DDL = "clip_id string, bytes binary, sr_hz int, codec string, decode_error string"
SEGMENTS_DDL = ("clip_id string, seg_idx int, start_ms double, end_ms double, "
                "seg_dur_ms double, rms_dbfs double, decode_error string")
CHUNKS_DDL = ("clip_id string, chunk_idx int, start_ms int, end_ms int, "
              "n_samples int, bytes binary, decode_error string")


def resample_linear(pcm: np.ndarray, sr: int, target_sr: int) -> np.ndarray:
    """Linear-interpolation resample of int16 PCM (whole-array ``np.interp``).

    Fast but has NO anti-alias filter: content above the target Nyquist folds
    back into band on downsampling. :func:`resample_sinc` is the quality
    path; this stays for upsampling and as the cheap option."""
    if sr == target_sr or len(pcm) == 0:
        return pcm
    n_out = int(round(len(pcm) * target_sr / sr))
    xs = np.linspace(0.0, len(pcm) - 1, num=n_out)
    return np.rint(np.interp(xs, np.arange(len(pcm)), pcm.astype(np.float64))
                   ).astype(np.int16)


_SINC_HALF_TAPS = 24  # taps per output sample = 2*24 per phase


def resample_sinc(pcm: np.ndarray, sr: int, target_sr: int) -> np.ndarray:
    """Windowed-sinc resample with a proper anti-alias low-pass.

    The interpolation kernel is sinc(cutoff * t) * Hann, with cutoff =
    min(sr, target_sr)/2 scaled by 0.95 transition margin — on downsampling
    this low-passes BEFORE decimation, so out-of-band content is attenuated
    instead of folding into band (linear interp aliases it). True polyphase
    execution: only target_sr/gcd distinct kernels exist, and within a phase
    the input base advances by a constant stride, so each phase is a
    zero-copy strided window view + one BLAS matvec — no per-output kernel
    evaluation and no (n_out, 2K) gather. ~2K multiplies per output sample.
    """
    if sr == target_sr or len(pcm) == 0:
        return pcm
    import math

    n_in = len(pcm)
    n_out = int(round(n_in * target_sr / sr))
    ratio = sr / target_sr  # input samples per output sample
    cutoff = 0.95 * min(1.0, 1.0 / ratio)  # in units of input Nyquist
    k = _SINC_HALF_TAPS if ratio <= 1.0 else int(np.ceil(_SINC_HALF_TAPS * ratio))
    # POLYPHASE: output j sits at input position j*sr/target_sr, whose
    # fractional part cycles with period P = target_sr/gcd — precompute P
    # kernels instead of one per output (48k->16k needs exactly 1)
    g = math.gcd(sr, target_sr)
    n_phase = target_sr // g
    frac_p = ((np.arange(n_phase) * sr) % target_sr) / target_sr
    taps = np.arange(-k + 1, k + 1)
    t = taps[None, :] - frac_p[:, None]  # (P, 2k) distances
    kernel = cutoff * np.sinc(cutoff * t)
    # Hann window over the kernel span keeps sidelobes ~-44 dB
    kernel *= 0.5 * (1.0 + np.cos(np.pi * np.clip(t / k, -1.0, 1.0)))
    kernel /= kernel.sum(axis=1, keepdims=True)  # unity DC gain per phase
    padded = np.zeros(n_in + 2 * k + 1, dtype=np.float64)
    padded[k:k + n_in] = pcm
    # within one phase the input base advances by a CONSTANT stride sr//g,
    # so each phase is a zero-copy strided window view + one BLAS matvec —
    # no (n_out, 2k) gather materializes
    swv = np.lib.stride_tricks.sliding_window_view(padded, 2 * k)
    in_stride = sr // g
    out = np.empty(n_out)
    for p in range(n_phase):
        cnt = len(range(p, n_out, n_phase))
        if cnt == 0:
            continue
        b0 = (p * sr) // target_sr + 1  # +1: taps start at -k+1, window at -k
        out[p::n_phase] = swv[b0:b0 + cnt * in_stride:in_stride][:cnt] @ kernel[p]
    return np.clip(np.rint(out), -32768, 32767).astype(np.int16)


def normalize_loudness(pcm: np.ndarray, target_dbfs: float) -> np.ndarray:
    """Scale int16 PCM so its RMS hits ``target_dbfs`` (clipped at full
    scale); silence is returned unchanged (nothing to normalize)."""
    if len(pcm) == 0:
        return pcm
    x = pcm.astype(np.float64)
    rms = np.sqrt(np.mean((x / 32768.0) ** 2))
    if rms <= 0.0:
        return pcm
    gain = (10.0 ** (target_dbfs / 20.0)) / rms
    return np.clip(np.rint(x * gain), -32768, 32767).astype(np.int16)


def audio_transcode(
    df: DataFrame,
    target_codec: str = "pcm_s16le",
    target_sr: Optional[int] = None,
    target_dbfs: Optional[float] = None,
    id_col: str = "clip_id",
    bytes_col: str = BYTES_COL,
    resampler: str = "sinc",
) -> DataFrame:
    """Re-encode every clip into ``target_codec`` (optionally resampled to
    ``target_sr`` and RMS-normalized to ``target_dbfs``), returning payloads
    the validation engine can re-verify.

    Decode accepts the full parse_wav_view codec family, so one pass
    normalizes a mixed-codec corpus. ``resampler``: "sinc" (default —
    polyphase windowed-sinc with a real anti-alias low-pass, ~400x realtime
    per core) or "linear" (cheaper, aliases on downsampling). Output schema
    carries the new declared (sr_hz, codec) columns; undecodable rows pass
    through with null bytes and the decode_error string so the caller can
    quarantine them.
    """
    if resampler not in ("sinc", "linear"):
        raise ValueError("resampler must be 'sinc' or 'linear'")
    resample = resample_sinc if resampler == "sinc" else resample_linear

    def transcode(raw):
        if raw is None:
            raise ValueError("null payload")
        sr, _codec, pcm = parse_wav_view(raw)
        out_sr = target_sr or sr
        pcm = resample(pcm, sr, out_sr)
        if target_dbfs is not None:
            pcm = normalize_loudness(pcm, target_dbfs)
        return {"bytes": encode_wav(pcm, out_sr, codec=target_codec),
                "sr_hz": out_sr, "codec": target_codec}

    return map_payloads(df, id_col, bytes_col, TRANSCODE_DDL, transcode)


TRIM_DDL = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
            "codec string, trimmed_lead_ms double, trimmed_tail_ms double, "
            "decode_error string")


def audio_trim(
    df: DataFrame,
    frame_ms: float = 30.0,
    energy_floor_dbfs: float = -50.0,
    pad_ms: float = 100.0,
    min_silence_ms: float = 300.0,
    min_speech_ms: float = 100.0,
    id_col: str = "clip_id",
    bytes_col: str = BYTES_COL,
) -> DataFrame:
    """Trim leading/trailing dead air from every clip: keep [first speech
    run start - pad_ms, last speech run end + pad_ms], re-encode in the
    clip's own codec, report how much was cut. The act-operator the VAD
    features diagnose for — a corpus failing a `leading_silence_ms` bound
    gets repaired here in one pass, shrinking storage AND restoring
    transcript/audio alignment for training windows.

    Same run-length VAD as :func:`audio_segments` (gaps under
    ``min_silence_ms`` are speech pauses, runs under ``min_speech_ms`` are
    clicks), so internal pauses are never cut — only the outer margins.
    Clips with no detected speech emit null bytes with
    ``decode_error='no speech detected'`` (quarantine them or lower the
    floor); undecodable clips pass the decode error through. One
    mapInArrow pass over (id, bytes); everything else prunes out of the
    scan.
    """

    def trim(raw):
        if raw is None:
            raise ValueError("null payload")
        sr, codec, pcm = parse_wav_view(raw)
        n_f = max(1, int(round(sr * frame_ms / 1000.0)))
        db = _frame_rms_db(pcm, sr, frame_ms)
        runs = _speech_runs(
            db > energy_floor_dbfs,
            max(1, int(round(min_silence_ms / frame_ms))),
            max(1, int(round(min_speech_ms / frame_ms))))
        if not runs:
            return {"decode_error": "no speech detected"}
        pad = int(round(sr * pad_ms / 1000.0))
        s = max(0, runs[0][0] * n_f - pad)
        e = min(len(pcm), runs[-1][1] * n_f + pad)
        cut = pcm[s:e]
        return {"bytes": encode_wav(cut, sr, codec=codec), "sr_hz": sr,
                "dur_ms": int(round(len(cut) / sr * 1000.0)), "codec": codec,
                "trimmed_lead_ms": s / sr * 1000.0,
                "trimmed_tail_ms": (len(pcm) - e) / sr * 1000.0}

    return map_payloads(df, id_col, bytes_col, TRIM_DDL, trim)


def _frame_rms_db(pcm: np.ndarray, sr: int, frame_ms: float) -> np.ndarray:
    """Per-frame RMS in dBFS via one reduceat over the squared signal; the
    trailing partial frame is included (normalized by its true length)."""
    n_f = max(1, int(round(sr * frame_ms / 1000.0)))
    n = len(pcm)
    if n == 0:
        return np.empty(0)
    starts = np.arange(0, n, n_f)
    x = pcm.astype(np.float64) / 32768.0
    sums = np.add.reduceat(x * x, starts)
    lens = np.minimum(starts + n_f, n) - starts
    rms = np.sqrt(sums / lens)
    return 20.0 * np.log10(np.maximum(rms, 1e-6))  # silence floor -120 dB


def _speech_runs(speech: np.ndarray,
                 min_silence_frames: int, min_speech_frames: int) -> list:
    """Merge a boolean speech-frame mask into [start, end) frame runs:
    silence gaps shorter than ``min_silence_frames`` are bridged, then runs
    shorter than ``min_speech_frames`` are dropped. Run-length logic on the
    diff of the mask — no per-frame Python loop."""
    if not speech.any():
        return []
    d = np.diff(speech.astype(np.int8))
    starts = list(np.nonzero(d == 1)[0] + 1)
    ends = list(np.nonzero(d == -1)[0] + 1)
    if speech[0]:
        starts.insert(0, 0)
    if speech[-1]:
        ends.append(len(speech))
    merged = [[starts[0], ends[0]]]
    for s, e in zip(starts[1:], ends[1:]):
        if s - merged[-1][1] < min_silence_frames:
            merged[-1][1] = e
        else:
            merged.append([s, e])
    return [(s, e) for s, e in merged if e - s >= min_speech_frames]


def audio_segments(
    df: DataFrame,
    frame_ms: float = 30.0,
    energy_floor_dbfs: float = -50.0,
    min_silence_ms: float = 300.0,
    min_speech_ms: float = 100.0,
    id_col: str = "clip_id",
    bytes_col: str = BYTES_COL,
) -> DataFrame:
    """Energy-based voice-activity segmentation: one output row per detected
    speech segment (clip_id, seg_idx, start/end/dur ms, segment RMS).

    A frame is speech when its RMS exceeds ``energy_floor_dbfs``; silence gaps
    shorter than ``min_silence_ms`` are bridged into the surrounding speech
    (natural pauses), and segments shorter than ``min_speech_ms`` are dropped
    (clicks). Clips that decode but contain no speech emit zero rows;
    undecodable clips emit one row with null bounds and the error string.
    """

    def segments(raw):
        sr, _codec, pcm = parse_wav_view(raw)
        db = _frame_rms_db(pcm, sr, frame_ms)
        runs = _speech_runs(
            db > energy_floor_dbfs,
            max(1, int(round(min_silence_ms / frame_ms))),
            max(1, int(round(min_speech_ms / frame_ms))))
        n_f = max(1, int(round(sr * frame_ms / 1000.0)))
        clip_ms = len(pcm) / sr * 1000.0
        for idx, (s, e) in enumerate(runs):
            s_ms = s * n_f / sr * 1000.0
            e_ms = min(e * n_f / sr * 1000.0, clip_ms)
            seg = pcm[s * n_f:e * n_f].astype(np.float64) / 32768.0
            r = float(np.sqrt(np.mean(seg * seg))) if len(seg) else 0.0
            yield {"seg_idx": idx, "start_ms": s_ms, "end_ms": e_ms,
                   "seg_dur_ms": e_ms - s_ms,
                   "rms_dbfs": 20.0 * np.log10(max(r, 1e-6))}

    return map_payloads(df, id_col, bytes_col, SEGMENTS_DDL, segments)


def chunk_count(length: int, win: int, hop: int) -> int:
    """Number of training windows a clip yields — exact-count arithmetic in
    whatever unit ``length``/``win``/``hop`` share (the operator uses SAMPLES;
    a ms-based closed form only agrees when durations are sample-exact).
    Clips shorter than the window produce one short chunk; otherwise strided
    starts cover the whole clip (the final chunk may be shorter than the
    window — no tail audio is lost)."""
    if length <= win:
        return 1
    return -((length - win) // -hop) + 1  # ceil div


def audio_chunks(
    df: DataFrame,
    win_ms: int = 5000,
    hop_ms: int = 2500,
    emit_bytes: bool = True,
    codec: str = "pcm_s16le",
    id_col: str = "clip_id",
    bytes_col: str = BYTES_COL,
) -> DataFrame:
    """Cut every clip into fixed ``win_ms`` training windows strided by
    ``hop_ms`` (overlapping when hop < win) — the batchable unit most speech
    models train on. One output row per chunk with exact sample bounds; with
    ``emit_bytes`` each chunk is re-wrapped as a standalone WAV in ``codec``.

    The chunk count per clip is closed-form (:func:`chunk_count` over the
    DECODED duration), which the tests pin against the emitted rows.
    """

    def chunks(raw):
        sr, _codec, pcm = parse_wav_view(raw)
        win_n = int(sr * win_ms // 1000)
        hop_n = max(1, int(sr * hop_ms // 1000))
        # count in SAMPLES: a floored-ms count drops the final partial
        # window whenever the sample count isn't millisecond-exact
        for c in range(chunk_count(len(pcm), win_n, hop_n)):
            s = c * hop_n
            e = min(s + win_n, len(pcm))
            piece = pcm[s:e]
            yield {"chunk_idx": c, "start_ms": int(s * 1000 // sr),
                   "end_ms": int(e * 1000 // sr), "n_samples": len(piece),
                   "bytes": (encode_wav(piece, sr, codec=codec)
                             if emit_bytes else None)}

    return map_payloads(df, id_col, bytes_col, CHUNKS_DDL, chunks)


LOGMEL_DDL = ("clip_id string, n_frames int, n_feats int, feats array<float>, "
              "decode_error string")


def hz_to_mel(f):
    """HTK mel scale: mel = 2595 * log10(1 + f/700)."""
    return 2595.0 * np.log10(1.0 + np.asarray(f, np.float64) / 700.0)


def mel_to_hz(m):
    return 700.0 * (10.0 ** (np.asarray(m, np.float64) / 2595.0) - 1.0)


def mel_filterbank(sr: int, n_fft: int, n_mels: int,
                   fmin: float = 0.0, fmax: Optional[float] = None) -> np.ndarray:
    """Triangular HTK-mel filterbank, shape (n_mels, n_fft//2 + 1).

    Standard construction: n_mels + 2 points equally spaced on the mel scale
    between fmin and fmax (default sr/2), each filter a triangle between its
    neighbors, evaluated at the rfft bin centers.
    """
    fmax = fmax or sr / 2.0
    pts_hz = mel_to_hz(np.linspace(hz_to_mel(fmin), hz_to_mel(fmax), n_mels + 2))
    bins_hz = np.fft.rfftfreq(n_fft, d=1.0 / sr)
    fb = np.zeros((n_mels, len(bins_hz)))
    for m in range(n_mels):
        lo, ctr, hi = pts_hz[m], pts_hz[m + 1], pts_hz[m + 2]
        up = (bins_hz - lo) / max(ctr - lo, 1e-9)
        down = (hi - bins_hz) / max(hi - ctr, 1e-9)
        fb[m] = np.clip(np.minimum(up, down), 0.0, None)
    return fb


def dct2_matrix(n_out: int, n_in: int) -> np.ndarray:
    """Orthonormal DCT-II matrix (n_out, n_in) — the MFCC decorrelation step."""
    k = np.arange(n_out)[:, None]
    n = np.arange(n_in)[None, :]
    m = np.sqrt(2.0 / n_in) * np.cos(np.pi * (n + 0.5) * k / n_in)
    m[0] /= np.sqrt(2.0)
    return m


def logmel_frames(pcm: np.ndarray, sr: int, n_mels: int = 40,
                  frame_ms: float = 25.0, hop_ms: float = 10.0,
                  fb: Optional[np.ndarray] = None) -> np.ndarray:
    """Framewise log-mel energies, shape (n_frames, n_mels).

    One strided window view + one batched rfft + one matmul per clip — the
    per-clip cost is a handful of whole-array numpy ops, no per-frame Python.
    The trailing partial frame is dropped (standard ASR framing).
    """
    frame_n = max(16, int(round(sr * frame_ms / 1000.0)))
    hop_n = max(1, int(round(sr * hop_ms / 1000.0)))
    if len(pcm) < frame_n:
        return np.empty((0, n_mels))
    frames = np.lib.stride_tricks.sliding_window_view(pcm, frame_n)[::hop_n]
    x = frames.astype(np.float64) / 32768.0 * np.hanning(frame_n)
    power = np.abs(np.fft.rfft(x, axis=1)) ** 2
    if fb is None:
        fb = mel_filterbank(sr, frame_n, n_mels)
    return np.log(power @ fb.T + 1e-10)


def audio_logmel(
    df: DataFrame,
    n_mels: int = 40,
    frame_ms: float = 25.0,
    hop_ms: float = 10.0,
    n_mfcc: Optional[int] = None,
    id_col: str = "clip_id",
    bytes_col: str = BYTES_COL,
) -> DataFrame:
    """ASR training-feature extraction: framewise log-mel energies per clip
    (``n_mfcc`` set -> DCT-II MFCCs instead), flattened row-major into one
    ``array<float>`` column of length n_frames * n_feats.

    The mel filterbank and DCT matrix are built ONCE per (sr, frame length)
    inside each task and reused across clips — per clip the work is a strided
    window view, one batched rfft, and one matmul. Same zero-copy mapInArrow
    scan shape as every audio pass; undecodable clips carry the error string.
    """
    n_feats = n_mfcc or n_mels

    fb_cache: dict = {}
    dct = dct2_matrix(n_mfcc, n_mels) if n_mfcc else None

    def logmel(raw):
        sr, _codec, pcm = parse_wav_view(raw)
        frame_n = max(16, int(round(sr * frame_ms / 1000.0)))
        fb = fb_cache.get((sr, frame_n))
        if fb is None:
            fb = fb_cache[(sr, frame_n)] = mel_filterbank(sr, frame_n, n_mels)
        lm = logmel_frames(pcm, sr, n_mels, frame_ms, hop_ms, fb=fb)
        if dct is not None:
            lm = lm @ dct.T
        return {"n_frames": lm.shape[0], "n_feats": n_feats,
                "feats": lm.astype(np.float32).ravel()}

    return map_payloads(df, id_col, bytes_col, LOGMEL_DDL, logmel)


AUGMENT_DDL = ("clip_id string, variant string, bytes binary, sr_hz int, "
               "dur_ms int, decode_error string")


def augment_speed(pcm: np.ndarray, sr: int, factor: float) -> np.ndarray:
    """Speed perturbation by resampling the waveform to sr/factor and playing
    back at sr (the standard 3-way 0.9/1.0/1.1 trick): duration scales by
    1/factor, pitch shifts with it."""
    if factor == 1.0:
        return pcm
    return resample_linear(pcm, sr, int(round(sr / factor)))


def augment_noise(pcm: np.ndarray, snr_target_db: float,
                  rng: np.random.Generator) -> np.ndarray:
    """Additive white noise scaled so the result sits at ``snr_target_db``
    relative to the clean signal (silence passes through unchanged)."""
    x = pcm.astype(np.float64)
    p_sig = float(np.mean(x * x))
    if p_sig <= 0.0:
        return pcm
    p_noise = p_sig / (10.0 ** (snr_target_db / 10.0))
    noise = rng.normal(0.0, np.sqrt(p_noise), len(x))
    return np.clip(np.rint(x + noise), -32768, 32767).astype(np.int16)


def augment_gain(pcm: np.ndarray, gain_db: float) -> np.ndarray:
    g = 10.0 ** (gain_db / 20.0)
    return np.clip(np.rint(pcm.astype(np.float64) * g),
                   -32768, 32767).astype(np.int16)


def audio_augment(
    df: DataFrame,
    speeds: tuple = (0.9, 1.0, 1.1),
    noise_snr_db: Optional[float] = None,
    gain_jitter_db: float = 0.0,
    seed: int = 0,
    id_col: str = "clip_id",
    bytes_col: str = BYTES_COL,
) -> DataFrame:
    """Training-set augmentation: one output row per (clip, speed variant),
    optionally with additive noise at ``noise_snr_db`` and a uniform gain
    jitter of +-``gain_jitter_db`` — the standard ASR recipe that multiplies
    corpus hours without new data.

    DETERMINISTIC: the noise/gain draw for a row is keyed on (seed, clip_id,
    variant) via numpy's SeedSequence entropy spreading, so re-runs and
    retried Spark tasks produce byte-identical payloads regardless of row
    order or partitioning — the property every resumable 100 TB job needs.
    Same single-pass zero-copy mapInArrow shape as the other operators.
    """
    import zlib

    def augment(raw, clip_id):
        sr, _codec, pcm = parse_wav_view(raw)
        for sp in speeds:
            var = f"sp{sp:g}"
            x = augment_speed(pcm, sr, sp)
            # null ids key on "" (row kept); round() the speed key —
            # int() truncation collides 0.285*1000 == 284.999...
            rng = np.random.default_rng(
                [seed, zlib.crc32((clip_id or "").encode()), round(sp * 1000)])
            if noise_snr_db is not None:
                x = augment_noise(x, noise_snr_db, rng)
                var += f"-n{noise_snr_db:g}"
            if gain_jitter_db:
                g = float(rng.uniform(-gain_jitter_db, gain_jitter_db))
                x = augment_gain(x, g)
                var += "-g"
            yield {"variant": var, "bytes": encode_wav(x, sr), "sr_hz": sr,
                   "dur_ms": int(round(len(x) / sr * 1000.0))}

    return map_payloads(df, id_col, bytes_col, AUGMENT_DDL, augment,
                        with_id=True)


CENSUS_DDL = ("codec string, sr_hz int, clips bigint, hours double, "
              "bytes_gb double, decode_errors bigint")


def audio_census(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = BYTES_COL,
) -> DataFrame:
    """Corpus census by codec and sample rate: clip counts, audio hours,
    payload gigabytes, decode failures — what you look at before choosing
    transcode targets. One scan; per-clip work is a HEADER-ONLY chunk walk
    (``parse_wav_meta``: sample counts come from the data-chunk/fact sizes,
    so even compressed payloads are never decoded); group keys have tiny
    cardinality so the shuffle is a handful of rows per task."""
    from .audio import parse_wav_meta

    def run(batches: Iterator["object"]) -> Iterator["object"]:
        import pyarrow as pa

        for batch in batches:
            n_rows = batch.num_rows
            offsets, heap, nulls = _binary_views(batch.column(1), n_rows)
            agg: dict = {}
            for i in range(n_rows):
                raw = None if nulls[i] else heap[offsets[i]:offsets[i + 1]]
                size = 0 if raw is None else len(raw)
                try:
                    sr, codec, n_samples = parse_wav_meta(raw)
                    key, dur_s, err = (codec, int(sr)), n_samples / sr, 0
                except DECODE_ERRORS:
                    key, dur_s, err = (None, None), 0.0, 1
                c = agg.setdefault(key, [0, 0.0, 0, 0])
                c[0] += 1
                c[1] += dur_s
                c[2] += size
                c[3] += err
            yield pa.RecordBatch.from_arrays(
                [pa.array([k[0] for k in agg], pa.string()),
                 pa.array([k[1] for k in agg], pa.int32()),
                 pa.array([v[0] for v in agg.values()], pa.int64()),
                 pa.array([v[1] / 3600.0 for v in agg.values()], pa.float64()),
                 pa.array([v[2] / 1e9 for v in agg.values()], pa.float64()),
                 pa.array([v[3] for v in agg.values()], pa.int64())],
                ["codec", "sr_hz", "clips", "hours", "bytes_gb", "decode_errors"])

    partial = df.select(F.col(id_col).alias("clip_id"), F.col(bytes_col)
                        ).mapInArrow(run, schema=CENSUS_DDL)
    return (partial.groupBy("codec", "sr_hz")
            .agg(F.sum("clips").alias("clips"),
                 F.round(F.sum("hours"), 6).alias("hours"),
                 F.round(F.sum("bytes_gb"), 6).alias("bytes_gb"),
                 F.sum("decode_errors").alias("decode_errors"))
            .orderBy("codec", "sr_hz"))
