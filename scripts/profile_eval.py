"""Driver-side micro-profile of the per-clip decode/feature/SNR cost.

Builds one Arrow batch of synthetic clips exactly as the bench table does and
cProfiles audio._eval_batch with the flagship contract's knobs (snr oracle +
rms_dbfs/speech_ratio/speech_seconds features) — the Python work each Spark
task performs per row, minus Arrow IPC. Lets us see which callee dominates
per-clip cost before touching anything.
"""
import cProfile
import io
import os
import pstats
import sys
import time

import numpy as np
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dcspark import audio, synth

SEED, DUR_LO, DUR_HI = 42, 200, 2000
N = int(sys.argv[1]) if len(sys.argv) > 1 else 1024

ids, bys, srs, durs, codecs = [], [], [], [], []
for i in range(N):
    sr, dur, freqs, amps, _ = synth.synth_params(SEED, i, DUR_LO, DUR_HI)
    pcm = synth.synth_pcm(sr, dur, freqs, amps)
    ids.append(synth.clip_id_for(i))
    bys.append(synth.wav_bytes(pcm, sr))
    srs.append(sr)
    durs.append(dur)
    codecs.append("pcm_s16le")

batch = pa.RecordBatch.from_arrays(
    [pa.array(ids), pa.array(bys, pa.binary()), pa.array(srs, pa.int32()),
     pa.array(durs, pa.int32()), pa.array(codecs)],
    ["clip_id", "bytes", "sr_hz", "dur_ms", "codec"])

snr_fn = audio.synth_snr_oracle(SEED, DUR_LO, DUR_HI)
feat_fns = {k: audio.FEATURE_FNS[k]
            for k in ("rms_dbfs", "speech_ratio", "speech_seconds")}

# warm-up
audio._eval_batch(batch, snr_fn, 30.0, feat_fns=feat_fns)

t0 = time.perf_counter()
audio._eval_batch(batch, snr_fn, 30.0, feat_fns=feat_fns)
dt = time.perf_counter() - t0
print(f"{N} clips in {dt:.3f}s = {1e6 * dt / N:.1f} us/clip "
      f"({N / dt:.0f} clips/s/core)")

pr = cProfile.Profile()
pr.enable()
audio._eval_batch(batch, snr_fn, 30.0, feat_fns=feat_fns)
pr.disable()
s = io.StringIO()
pstats.Stats(pr, stream=s).sort_stats("cumulative").print_stats(25)
print(s.getvalue())
