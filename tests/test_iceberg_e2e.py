"""North-star end-to-end: Iceberg audio table -> contract run -> Iceberg
results table, plus the incremental (validate-only-new-data) path.

BASELINE.json's north rule asks for validation "over Iceberg tables of
audio clip + transcript pairs ... emitting per-partition pass/fail
summaries plus violation rows to an Iceberg results table". This suite
runs exactly that flow on the pure-Python Iceberg implementation:

1. synthesize the (clip_id, bytes, sr_hz, dur_ms, codec, transcript)
   table, commit it to a REAL Iceberg v2 table (manifests + snapshots);
2. load it through the normal `load_tables` server path (type: iceberg,
   no catalog -> the format reader), validate the canonical contract,
   and append the run results + violations to Iceberg results tables;
3. append a corrupt batch as a second snapshot and validate ONLY the
   incremental files — the resumed run sees just the new rows and fails
   on exactly the new corruption.
"""

import os

import pytest

from dcspark import DataContractSpecification, ValidationConfig, validate
from dcspark import drift as drift_mod
from dcspark import synth
from dcspark.audio import synth_oracle
from dcspark.iceberg import IcebergTable
from dcspark.io import load_tables, write_results
from dcspark.run_model import ResultEnum

SEED = 77
N = 96
DUR = (200, 1200)


@pytest.fixture(scope="module")
def spec():
    return DataContractSpecification.from_file(
        "/root/repo/contracts/audio_clips.yaml")


@pytest.fixture(scope="module")
def iceberg_root(spark, tmp_path_factory):
    """audio_clips + transcripts_ref committed as real Iceberg tables."""
    root = str(tmp_path_factory.mktemp("iceberg_ns"))
    clips = synth.generate_audio_table(
        spark, N, seed=SEED, dur_lo=DUR[0], dur_hi=DUR[1], num_partitions=4)
    ref = synth.generate_transcripts_ref(
        spark, N, seed=SEED, extra=5, num_partitions=4)
    t_clips = IcebergTable.create(
        os.path.join(root, "audio_clips"), clips.schema,
        partition_by=[("codec", "identity")])
    t_clips.append(clips)
    t_ref = IcebergTable.create(
        os.path.join(root, "transcripts_ref"), ref.schema)
    t_ref.append(ref)
    return root


def _cfg(ref_stats, **kw):
    return ValidationConfig(
        ref_stats=ref_stats, audio_snr_fn=synth_oracle(SEED, DUR[0], DUR[1]),
        **kw)


def test_validate_from_iceberg_into_iceberg(spark, spec, iceberg_root,
                                            tmp_path):
    tables = load_tables(spark, spec, base_path=iceberg_root)
    assert set(tables) == {"audio_clips", "transcripts_ref"}
    assert tables["audio_clips"].count() == N
    ref_stats = {"audio_clips": drift_mod.build_ref_stats(
        tables["audio_clips"], ["dur_ms", "sr_hz"], n_quantiles=49,
        n_bins=10)}
    res = validate(spark, spec, tables, _cfg(ref_stats))
    assert res.run.result == ResultEnum.passed
    assert len(res.run.checks) == 42
    # results land in a REAL Iceberg table (snapshot-committed)
    results_loc = str(tmp_path / "run_results")
    from dcspark.engine import RESULTS_DDL

    rows = spark.createDataFrame(res.results, schema=RESULTS_DDL)
    write_results(rows, results_loc, fmt="iceberg")
    t = IcebergTable(results_loc)
    assert t.exists() and len(t.snapshots()) == 1
    assert t.read(spark).count() == len(res.run.checks)
    # a second run appends a second snapshot; the first stays readable
    write_results(rows, results_loc, fmt="iceberg")
    snaps = t.snapshots()
    assert len(snaps) == 2
    assert t.read(spark, snapshot_id=snaps[0]["snapshot-id"]).count() == \
        len(res.run.checks)


def test_incremental_validation_of_appended_snapshot(spark, spec,
                                                     iceberg_root):
    t_clips = IcebergTable(os.path.join(iceberg_root, "audio_clips"))
    base_snap = t_clips.current_snapshot_id()
    # second snapshot: a corrupt batch (bad sample rates + null transcripts)
    corrupt = synth.generate_audio_table(
        spark, 40, seed=SEED + 1, dur_lo=DUR[0], dur_hi=DUR[1],
        corrupt={"bad_sr": 0.5, "null_transcript": 0.3}, num_partitions=2)
    t_clips.append(corrupt)
    inc = t_clips.read_incremental(spark, base_snap)
    assert inc.count() == 40  # only the appended batch, not the history
    ref = synth.generate_transcripts_ref(spark, 40, seed=SEED + 1,
                                         num_partitions=2)
    ref_stats = {"audio_clips": drift_mod.build_ref_stats(
        synth.generate_audio_table(spark, 40, seed=SEED + 1, dur_lo=DUR[0],
                                   dur_hi=DUR[1], num_partitions=2),
        ["dur_ms", "sr_hz"], n_quantiles=49, n_bins=10)}
    cfg = ValidationConfig(
        ref_stats=ref_stats,
        audio_snr_fn=synth_oracle(SEED + 1, DUR[0], DUR[1]))
    res = validate(spark, spec, {"audio_clips": inc,
                                 "transcripts_ref": ref}, cfg)
    failed = {c.key for c in res.run.checks if c.result == ResultEnum.failed}
    assert "audio_clips__sr_hz__field_enum" in failed
    assert "audio_clips__transcript__field_required" in failed
    # the incremental boundary is exact: from the NEW snapshot, nothing
    assert t_clips.incremental_files(t_clips.current_snapshot_id()) == []


def test_incremental_skips_old_manifests(spark, iceberg_root):
    """Manifest-level skip: the incremental plan never opens manifests whose
    sequence number predates the boundary."""
    t = IcebergTable(os.path.join(iceberg_root, "audio_clips"))
    snaps = t.snapshots()
    if len(snaps) < 2:
        pytest.skip("needs the appended snapshot from the previous test")
    first, last = snaps[0], snaps[-1]
    inc = set(t.incremental_files(first["snapshot-id"],
                                  last["snapshot-id"]))
    base = set(t.data_files(snapshot_id=first["snapshot-id"]))
    assert inc and not (inc & base)  # disjoint from the validated history
    cur = set(t.data_files(snapshot_id=last["snapshot-id"]))
    assert inc == cur - base


def test_polling_incremental_validator(spark, spec, tmp_path):
    """validate_iceberg_increments: first poll validates the whole table,
    later polls only the appended snapshot, no-op when nothing landed, and
    the state file advances atomically only after a completed run."""
    import json

    from dcspark.streaming import validate_iceberg_increments

    loc = str(tmp_path / "audio_clips")
    state = str(tmp_path / "state.json")
    clips1 = synth.generate_audio_table(
        spark, 48, seed=5, dur_lo=DUR[0], dur_hi=DUR[1], num_partitions=2)
    t = IcebergTable.create(loc, clips1.schema)
    t.append(clips1)
    ref1 = synth.generate_transcripts_ref(spark, 48, seed=5,
                                          num_partitions=2)
    stats1 = {"audio_clips": drift_mod.build_ref_stats(
        clips1, ["dur_ms", "sr_hz"], n_quantiles=49, n_bins=10)}
    cfg1 = ValidationConfig(ref_stats=stats1,
                            audio_snr_fn=synth_oracle(5, DUR[0], DUR[1]))
    sink = str(tmp_path / "results_tbl")
    r1 = validate_iceberg_increments(
        spark, spec, loc, "audio_clips", state,
        static_tables={"transcripts_ref": ref1}, config=cfg1,
        results_sink=sink)
    assert r1 is not None and r1.run.result == ResultEnum.passed
    with open(state) as f:
        assert json.load(f)["last_snapshot_id"] == t.current_snapshot_id()
    # nothing new -> no-op, state untouched
    assert validate_iceberg_increments(
        spark, spec, loc, "audio_clips", state,
        static_tables={"transcripts_ref": ref1}, config=cfg1) is None
    # corrupt append -> next poll validates ONLY the increment and fails it
    bad = synth.generate_audio_table(
        spark, 32, seed=6, dur_lo=DUR[0], dur_hi=DUR[1],
        corrupt={"bad_sr": 0.5}, num_partitions=2)
    t.append(bad)
    ref2 = synth.generate_transcripts_ref(spark, 32, seed=6,
                                          num_partitions=2)
    stats2 = {"audio_clips": drift_mod.build_ref_stats(
        synth.generate_audio_table(spark, 32, seed=6, dur_lo=DUR[0],
                                   dur_hi=DUR[1], num_partitions=2),
        ["dur_ms", "sr_hz"], n_quantiles=49, n_bins=10)}
    cfg2 = ValidationConfig(ref_stats=stats2,
                            audio_snr_fn=synth_oracle(6, DUR[0], DUR[1]))
    r2 = validate_iceberg_increments(
        spark, spec, loc, "audio_clips", state,
        static_tables={"transcripts_ref": ref2}, config=cfg2,
        results_sink=sink)
    failed = {c.key for c in r2.run.checks if c.result == ResultEnum.failed}
    assert "audio_clips__sr_hz__field_enum" in failed
    # results table holds both polls as separate Iceberg snapshots with the
    # validated snapshot id stamped on every row
    rt = IcebergTable(sink)
    assert len(rt.snapshots()) == 2
    assert rt.read(spark).select("snapshot_id").distinct().count() == 2
