"""Checkpoint-manifest lineage: each record stores the partition's input-file
set (count + md5 signature); resume re-probes it and invalidates partitions
whose files changed instead of serving stale cached metrics."""

import json
import os

from dcspark import DataContractSpecification, ValidationConfig, validate

CONTRACT = """
id: lineage-test
models:
  clips:
    fields:
      clip_id: {type: string, required: true, primaryKey: true}
      part: {type: string}
      dur_ms: {type: integer}
    quality:
      - {type: metric, metric: sum, column: dur_ms, mustBeGreaterThan: 0}
"""

METRIC = "clips__quality_metric_0"


def _write_part(spark, base, part, rows):
    df = spark.createDataFrame(rows, "clip_id string, dur_ms int")
    df.coalesce(1).write.mode("overwrite").parquet(f"{base}/part={part}")


def _run(spark, base, ck, **cfg):
    df = spark.read.parquet(base)
    spec = DataContractSpecification.from_string(CONTRACT)
    return validate(spark, spec, {"clips": df}, ValidationConfig(
        partition_col="part", checkpoint_dir=ck, **cfg))


def _manifest_recs(ck):
    name = [p for p in os.listdir(ck) if p.endswith(".jsonl")][0]
    with open(os.path.join(ck, name)) as f:
        return [json.loads(l) for l in f]


def test_manifest_records_lineage(spark, tmp_path):
    base, ck = str(tmp_path / "data"), str(tmp_path / "ck")
    _write_part(spark, base, "a", [("c1", 100), ("c2", 200)])
    _write_part(spark, base, "b", [("c3", 300)])
    res = _run(spark, base, ck)
    assert res.metrics[METRIC] == 600.0
    recs = _manifest_recs(ck)
    assert {r["partition_id"] for r in recs} == {"a", "b"}
    for r in recs:
        assert r["lineage"]["files"] >= 1
        assert len(r["lineage"]["sig"]) == 32


def test_resume_unchanged_serves_cache(spark, tmp_path):
    base, ck = str(tmp_path / "data"), str(tmp_path / "ck")
    _write_part(spark, base, "a", [("c1", 100)])
    _write_part(spark, base, "b", [("c2", 50)])
    first = _run(spark, base, ck)
    n_recs = len(_manifest_recs(ck))
    resumed = _run(spark, base, ck, resume=True)
    assert resumed.metrics[METRIC] == first.metrics[METRIC] == 150.0
    # nothing was rescanned: no new manifest records were appended
    assert len(_manifest_recs(ck)) == n_recs


def test_resume_invalidates_changed_partition(spark, tmp_path):
    base, ck = str(tmp_path / "data"), str(tmp_path / "ck")
    _write_part(spark, base, "a", [("c1", 100)])
    _write_part(spark, base, "b", [("c2", 50)])
    assert _run(spark, base, ck).metrics[METRIC] == 150.0
    n_recs = len(_manifest_recs(ck))
    # partition b's data changes under the checkpoint (new files, new rows)
    _write_part(spark, base, "b", [("c2", 50), ("c9", 1000)])
    resumed = _run(spark, base, ck, resume=True)
    assert resumed.metrics[METRIC] == 1150.0  # fresh b, cached a
    recs = _manifest_recs(ck)
    assert len(recs) == n_recs + 1  # only b was rescanned and re-appended
    assert recs[-1]["partition_id"] == "b"
    # latest record wins on the next resume
    assert _run(spark, base, ck, resume=True).metrics[METRIC] == 1150.0


def test_resume_invalidates_config_change(spark, tmp_path):
    """A manifest written under a different check configuration must not be
    merged on resume (its records lack the new rules' sidecar state): the
    state signature invalidates every completed partition and rescans."""
    base, ck = str(tmp_path / "data"), str(tmp_path / "ck")
    _write_part(spark, base, "a", [("c1", 100)])
    _write_part(spark, base, "b", [("c2", 50)])
    _run(spark, base, ck)
    n_recs = len(_manifest_recs(ck))
    # same data, same contract, DIFFERENT percentile strategy: resuming under
    # sketch mode needs pctl_digests the old records don't have
    df = spark.read.parquet(base)
    spec = DataContractSpecification.from_string(CONTRACT.replace(
        "- {type: metric, metric: sum, column: dur_ms, mustBeGreaterThan: 0}",
        "- {type: metric, metric: sum, column: dur_ms, mustBeGreaterThan: 0}\n"
        "      - {type: metric, metric: p50, column: dur_ms, mustBeGreaterThan: 0}"))
    from dcspark.engine import ValidationConfig, validate
    res = validate(spark, spec, {"clips": df}, ValidationConfig(
        partition_col="part", checkpoint_dir=ck, resume=True,
        pctl_mode="sketch"))
    assert res.metrics[METRIC] == 150.0
    p50_key = [k for k in res.metrics if "quality_metric_1" in k][0]
    assert res.metrics[p50_key] is not None  # digests exist: rescan happened
    assert len(_manifest_recs(ck)) == n_recs + 2  # both partitions re-recorded


def test_resume_invalidates_snapshot_rebuild(spark, tmp_path):
    """Drift bucket aliases join the state signature: rebuilding the drift
    snapshot with a different grid must invalidate completed partitions on
    resume (their recorded bucket counts are misaligned with the new grid)."""
    from dcspark import drift as drift_mod
    from dcspark.engine import ValidationConfig, validate

    contract = CONTRACT.replace(
        "- {type: metric, metric: sum, column: dur_ms, mustBeGreaterThan: 0}",
        "- {type: metric, metric: sum, column: dur_ms, mustBeGreaterThan: 0}\n"
        "      - {type: drift, column: dur_ms, method: psi}")
    base, ck = str(tmp_path / "data"), str(tmp_path / "ck")
    # enough distinct values that 5-bin and 8-bin grids survive edge dedup
    _write_part(spark, base, "a", [(f"c{i}", 100 * i) for i in range(1, 16)])
    _write_part(spark, base, "b", [(f"d{i}", 100 * i + 50) for i in range(1, 16)])
    df = spark.read.parquet(base)
    spec = DataContractSpecification.from_string(contract)

    def run(stats, resume):
        return validate(spark, spec, {"clips": df}, ValidationConfig(
            partition_col="part", checkpoint_dir=ck, resume=resume,
            ref_stats={"clips": stats}))

    stats5 = drift_mod.build_ref_stats(df, ["dur_ms"], n_quantiles=9, n_bins=5)
    run(stats5, resume=False)
    n_recs = len(_manifest_recs(ck))
    stats8 = drift_mod.build_ref_stats(df, ["dur_ms"], n_quantiles=9, n_bins=8)
    res = run(stats8, resume=True)
    assert len(_manifest_recs(ck)) == n_recs + 2  # both partitions rescanned
    psi_key = [k for k in res.metrics if "drift_psi" in k][0]
    assert res.metrics[psi_key] is not None and res.metrics[psi_key] < 1e-9


def test_resume_invalidates_sketch_config_change(spark, tmp_path):
    """ADVICE r02 #3: manifest HLL sketches written under one lgConfigK
    cannot merge with fresh ones of another (hll_union_agg throws with
    allowDifferentLgConfigK=false) — a changed unique_hll_lgk must trigger
    the rescan path via state_sig, not fail the whole run."""
    base, ck = str(tmp_path / "data"), str(tmp_path / "ck")
    contract = """
id: lgk-test
models:
  clips:
    fields:
      clip_id: {type: string, required: true, primaryKey: true, unique: true}
      part: {type: string}
      dur_ms: {type: integer}
"""
    _write_part(spark, base, "a", [(f"c{i}", 100 + i) for i in range(20)])
    _write_part(spark, base, "b", [(f"d{i}", 300 + i) for i in range(20)])
    spec = DataContractSpecification.from_string(contract)

    def run(lgk, resume):
        df = spark.read.parquet(base)
        return validate(spark, spec, {"clips": df}, ValidationConfig(
            partition_col="part", checkpoint_dir=ck, resume=resume,
            unique_mode="approx", unique_hll_lgk=lgk))

    first = run(12, resume=False)
    key = "clips__clip_id__field_unique"
    assert first.metrics[key] == 0.0
    # resume with a different lgConfigK: stale records are invalidated and
    # rescanned, the run completes with the same (correct) answer
    resumed = run(14, resume=True)
    assert resumed.metrics[key] == 0.0
    recs = _manifest_recs(ck)
    sigs = {r["state_sig"] for r in recs if r.get("status") == "done"}
    assert len(sigs) == 2  # both configs left records; latest wins on merge
