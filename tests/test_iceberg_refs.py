"""Iceberg branches and tags (spec: refs) + write-audit-publish.

Spec parity: `refs` is a metadata map name -> {snapshot-id, type} with
type branch|tag; branches are mutable lines of history (commits carry a
parent chain), tags never move; expiry must not drop a ref head.

The validation tie-in (BASELINE.json north star): append lands on an
AUDIT branch, the contract engine validates `read(ref=branch)`, and
`fast_forward("main", branch)` publishes — main readers never see
unaudited rows, and publishing is a metadata-only pointer move (zero
data rewrites at any scale).
"""

import pytest
from pyspark.sql import functions as F

from dcspark.iceberg import IcebergTable


@pytest.fixture()
def make_df(spark):
    def make(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            F.concat(F.lit("v"), F.col("id")).alias("val"),
        ).repartition(2)
    return make


def _ids(df):
    return sorted(r["k"] for r in df.collect())


def test_tag_is_immutable_pointer(spark, make_df, tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), make_df(0, 1).schema)
    t.append(make_df(0, 100))
    t.create_tag("train-v1")
    t.append(make_df(100, 200))
    assert _ids(t.read(spark, ref="train-v1")) == list(range(100))
    assert _ids(t.read(spark)) == list(range(200))
    with pytest.raises(ValueError, match="already exists"):
        t.create_tag("train-v1")
    with pytest.raises(ValueError, match="tags never move"):
        t.fast_forward("train-v1", "main")


def test_branch_commits_do_not_touch_main(spark, make_df, tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), make_df(0, 1).schema)
    t.append(make_df(0, 100))
    main_head = t.current_snapshot_id()
    t.create_branch("audit")
    t.append(make_df(100, 150), branch="audit")
    t.append(make_df(150, 180), branch="audit")
    # main: pointer, snapshot-log, and reads all unchanged
    assert t.current_snapshot_id() == main_head
    assert _ids(t.read(spark)) == list(range(100))
    assert _ids(t.read(spark, ref="audit")) == list(range(180))
    # the branch head's parent chain reaches main's head
    md = t.metadata()
    by_id = {s["snapshot-id"]: s for s in md["snapshots"]}
    cur = md["refs"]["audit"]["snapshot-id"]
    chain = []
    while cur in by_id:
        chain.append(cur)
        cur = by_id[cur].get("parent-snapshot-id")
    assert main_head in chain


def test_append_to_unknown_branch_refused(spark, make_df, tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), make_df(0, 1).schema)
    t.append(make_df(0, 10))
    with pytest.raises(ValueError, match="create_branch first"):
        t.append(make_df(10, 20), branch="nope")
    with pytest.raises(ValueError, match="unknown ref"):
        t.read(spark, ref="nope")


def test_fast_forward_publishes_and_guards_divergence(spark, make_df,
                                                      tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), make_df(0, 1).schema)
    t.append(make_df(0, 100))
    t.create_branch("audit")
    t.append(make_df(100, 200), branch="audit")
    head = t.fast_forward("main", "audit")
    assert t.current_snapshot_id() == head
    assert _ids(t.read(spark)) == list(range(200))
    # now DIVERGE: main advances past the branch point
    t.append(make_df(200, 210))
    t.append(make_df(210, 220), branch="audit")
    with pytest.raises(ValueError, match="not an ancestor"):
        t.fast_forward("main", "audit")
    # main unaffected by the refused publish
    assert _ids(t.read(spark)) == list(range(210))


def test_drop_ref(spark, make_df, tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), make_df(0, 1).schema)
    t.append(make_df(0, 10))
    t.create_tag("x")
    assert "x" in t.refs()
    t.drop_ref("x")
    assert "x" not in t.refs()
    with pytest.raises(ValueError, match="main"):
        t.drop_ref("main")


def test_expire_protects_ref_heads(spark, make_df, tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), make_df(0, 1).schema)
    t.append(make_df(0, 50))
    t.create_tag("keepme")
    for i in range(1, 4):
        t.append(make_df(i * 50, (i + 1) * 50))
    out = t.expire_snapshots(keep_last=1)
    assert out["snapshots_removed"] == 2  # snapshots 2 and 3 go
    # the tagged snapshot survived expiry and still reads
    assert _ids(t.read(spark, ref="keepme")) == list(range(50))
    assert _ids(t.read(spark)) == list(range(200))


def test_write_audit_publish_with_contract_engine(spark, tmp_path):
    """The full WAP loop: a corrupt batch lands on the audit branch, the
    contract run FAILS, main stays clean; a good batch lands, the run
    passes, publish fast-forwards main."""
    from dcspark import DataContractSpecification, ValidationConfig, validate
    from dcspark import drift as drift_mod
    from dcspark import synth
    from dcspark.audio import synth_oracle
    from dcspark.run_model import ResultEnum

    spec = DataContractSpecification.from_file(
        "/root/repo/contracts/audio_clips.yaml")
    clips = synth.generate_audio_table(spark, 48, seed=11, dur_lo=200,
                                       dur_hi=900, num_partitions=2)
    ref = synth.generate_transcripts_ref(spark, 48, seed=11,
                                         num_partitions=2)
    t = IcebergTable.create(str(tmp_path / "clips"), clips.schema)
    t.append(clips)
    main_head = t.current_snapshot_id()
    t.create_branch("audit")

    def audit_increment(branch_head, seed):
        """Validate ONLY the rows the branch added over main — the audit
        step never re-validates published history. Batches are 48 clips:
        the KS check's quantile-grid quantization error is ~1.6/n on a
        self-comparison, so n=24 would trip the 0.05 contract threshold
        on identical data."""
        inc = t.read_incremental(spark, main_head,
                                 to_snapshot_id=branch_head)
        batch_ref = synth.generate_transcripts_ref(spark, 48, seed=seed,
                                                   num_partitions=2)
        clean = synth.generate_audio_table(spark, 48, seed=seed, dur_lo=200,
                                           dur_hi=900, num_partitions=2)
        cfg = ValidationConfig(
            ref_stats={"audio_clips": drift_mod.build_ref_stats(
                clean, ["dur_ms", "sr_hz"], n_quantiles=49, n_bins=10)},
            audio_snr_fn=synth_oracle(seed, 200, 900))
        res = validate(spark, spec, {"audio_clips": inc,
                                     "transcripts_ref": batch_ref}, cfg)
        return res.run.result

    # corrupt batch -> audit branch -> run fails -> DO NOT publish
    bad = synth.generate_audio_table(
        spark, 48, seed=12, dur_lo=200, dur_hi=900,
        corrupt={"bad_sr": 0.5}, num_partitions=2)
    bad_head = t.append(bad, branch="audit")
    verdict = audit_increment(bad_head, 12)
    assert verdict != ResultEnum.passed
    assert t.current_snapshot_id() == main_head  # main never saw it
    # reset the branch by dropping + recreating at main, land a GOOD batch
    t.drop_ref("audit")
    t.create_branch("audit")
    good = synth.generate_audio_table(spark, 48, seed=13, dur_lo=200,
                                      dur_hi=900, num_partitions=2)
    good_head = t.append(good, branch="audit")
    verdict = audit_increment(good_head, 13)
    assert verdict == ResultEnum.passed
    head = t.fast_forward("main", "audit")
    assert t.current_snapshot_id() == head
    assert t.read(spark).count() == 96
