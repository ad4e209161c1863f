"""Benchmark inputs: workload definitions, seeded table generation and the
results each workload's generator flags predict.

``generate`` writes a workload's two Iceberg tables from a seed; the same
seed always gives the same rows. Importing this module starts nothing.
"""

from __future__ import annotations

import os

DUR_LO, DUR_HI = 200, 2000
AUDIO_CONTRACT = "contracts/audio_clips.yaml"
KEYED_CONTRACT = "perfbench/keyed_skew.yaml"

#: the nine corruption flags of ``audio_fail``, each on about 1% of rows
FAIL_FLAGS = ("garbled_pcm", "lying_header", "muted_pcm", "dup_clip_id",
              "orphan_ref", "wrong_transcript", "bad_range", "bad_pattern",
              "null_transcript")
FLAG_FRACTION = 0.01

#: check keys each generator flag makes fail (scripts/smoke_negative.py
#: asserts the same mapping). ``bad_range`` sets half its rows below the
#: minimum and half above the maximum.
FLAG_FAILS = {
    "garbled_pcm": {"audio_clips__audio_decode_conformance"},
    "lying_header": {"audio_clips__audio_decode_conformance"},
    # an all-zero payload fails the oracle SNR, the rms silence floor, the
    # VAD speech-ratio floor and the speaking-rate bound together
    "muted_pcm": {"audio_clips__audio_decode_conformance",
                  "audio_clips__rms_dbfs__audio_signal_quality_3",
                  "audio_clips__speech_ratio__audio_signal_quality_4",
                  "audio_clips__chars_per_speech_sec__audio_speaking_rate_5"},
    "dup_clip_id": {"audio_clips__clip_id__field_unique",
                    "audio_clips__transcript__transcript_equality"},
    "orphan_ref": {"audio_clips__clip_id__field_reference"},
    "wrong_transcript": {"audio_clips__transcript__transcript_equality"},
    "bad_range": {"audio_clips__dur_ms__field_minimum",
                  "audio_clips__dur_ms__field_maximum"},
    "bad_pattern": {"audio_clips__clip_id__field_regex",
                    "audio_clips__clip_id__field_reference"},
    "null_transcript": {"audio_clips__transcript__field_required"},
    # rows of the 8 hot keys duplicate those keys and carry their own
    # transcript, which differs from the hot key's reference text
    "hot_keys": {"audio_clips__clip_id__field_unique",
                 "audio_clips__transcript__transcript_equality"},
}

HOT_KEYS = 8
HOT_FRACTION = 0.10

#: name -> definition. ``rows`` is the primary model's row count.
WORKLOADS = {
    "audio_pass": {"kind": "audio", "rows": 2000, "flags": (),
                   "contract": AUDIO_CONTRACT, "checks": 42},
    "audio_fail": {"kind": "audio", "rows": 2000, "flags": FAIL_FLAGS,
                   "contract": AUDIO_CONTRACT, "checks": 42},
    "keyed_skew": {"kind": "keyed", "rows": 100_000, "flags": ("hot_keys",),
                   "contract": KEYED_CONTRACT, "checks": 35},
}


def expected_failed(workload: str) -> set:
    """Check keys that must read ``failed``; every other check must pass."""
    out: set = set()
    for flag in WORKLOADS[workload]["flags"]:
        out |= FLAG_FAILS[flag]
    return out


def _audio_tables(spark, w: dict, seed: int):
    from dcspark import synth

    n = w["rows"]
    corrupt = {f: FLAG_FRACTION for f in w["flags"] if f != "orphan_ref"}
    clips = synth.generate_audio_table(
        spark, n, seed=seed, corrupt=corrupt, dur_lo=DUR_LO, dur_hi=DUR_HI,
        num_partitions=8)
    orphan = FLAG_FRACTION if "orphan_ref" in w["flags"] else 0.0
    ref = synth.generate_transcripts_ref(spark, n, seed=seed,
                                         orphan_frac=orphan, num_partitions=4)
    return clips, ref


def _keyed_tables(spark, w: dict, seed: int):
    """Payload-free clips: ~HOT_FRACTION of rows take one of HOT_KEYS ids.

    Pure JVM expressions (no Python UDF), so generation stays cheap at
    millions of rows. Every row's transcript embeds its own row number, so a
    hot-key row's transcript differs from that key's reference text."""
    from pyspark.sql import functions as F

    from dcspark import synth

    n = w["rows"]
    words = F.array(*[F.lit(x) for x in synth.WORDS])

    def h(i: int, col: str = "id"):
        return F.xxhash64(F.lit(seed), F.lit(i), F.col(col))

    def text(col: str):
        picks = [F.element_at(words, (F.pmod(h(k, col), len(synth.WORDS)) + 1)
                              .cast("int")) for k in (10, 11, 12)]
        return F.concat_ws(" ", *picks, F.col(col).cast("string"))

    hot = F.pmod(h(1), 1000) < int(HOT_FRACTION * 1000)
    key = F.when(hot, F.pmod(h(2), HOT_KEYS)).otherwise(F.col("id"))
    sr = F.array(*[F.lit(x) for x in synth.SR_ENUM])
    clips = spark.range(0, n, 1, 8).select(
        F.format_string("clip-%012d", key).alias("clip_id"),
        F.element_at(sr, (F.pmod(h(3), len(synth.SR_ENUM)) + 1).cast("int"))
        .alias("sr_hz"),
        (F.lit(DUR_LO) + F.pmod(h(4), DUR_HI - DUR_LO + 1)).cast("int")
        .alias("dur_ms"),
        F.lit(synth.CODEC).alias("codec"),
        text("id").alias("transcript"),
    )
    ref = spark.range(0, n, 1, 4).select(
        F.format_string("clip-%012d", F.col("id")).alias("clip_id"),
        text("id").alias("text"),
    )
    return clips, ref


def generate(spark, workload: str, seed: int, out: str) -> None:
    """Write the workload's ``audio_clips`` and ``transcripts_ref`` Iceberg
    tables under ``out``, where the contract's ``prod`` server finds them."""
    from dcspark.iceberg import IcebergTable

    w = WORKLOADS[workload]
    make = _audio_tables if w["kind"] == "audio" else _keyed_tables
    for name, df in zip(("audio_clips", "transcripts_ref"), make(spark, w, seed)):
        IcebergTable.create(os.path.join(out, name), df.schema).append(df)
