"""Iceberg compaction (rewrite_data_files): bin-pack small files,
materialize row-level deletes, commit a "replace" snapshot.

Spec/parity targets:
- Spark's `rewrite_data_files` maintenance action semantics: rewritten
  files drop out of planning, new files carry the NEW sequence number so
  surviving equality deletes never re-apply to them, old snapshots still
  time-travel (nothing physical is removed — that's expire_snapshots).
- Reference parity: the reference CLI has no table writer at all; this
  family exceeds it by implementing the maintenance action itself.

The 10^12-row argument, asserted not argued: appends land small and
deletes accumulate as per-read anti-join inputs; after compact the SAME
read plans fewer files and zero delete files.
"""

import pytest
from pyspark.sql import functions as F

from dcspark.iceberg import IcebergTable


def _collect_ids(t, spark, **kw):
    return sorted(r["k"] for r in t.read(spark, **kw).collect())


@pytest.fixture()
def small_df(spark):
    def make(lo, hi, parts=4):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("int").alias("shard"),
            F.concat(F.lit("v"), F.col("id")).alias("val"),
        ).repartition(parts)
    return make


def test_binpack_reduces_file_count_and_roundtrips(spark, small_df,
                                                   tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), small_df(0, 1).schema)
    for i in range(4):
        t.append(small_df(i * 100, (i + 1) * 100))
    before = len(t.data_files())
    assert before >= 8
    out = t.compact(spark, target_file_bytes=1 << 30)
    assert out["rewritten_data_files"] == before
    after = len(t.data_files())
    assert after < before
    assert after == out["added_data_files"] == 1
    assert _collect_ids(t, spark) == list(range(400))


def test_old_snapshots_still_time_travel(spark, small_df, tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), small_df(0, 1).schema)
    s1 = t.append(small_df(0, 100))
    t.append(small_df(100, 200))
    t.compact(spark, target_file_bytes=1 << 30)
    assert _collect_ids(t, spark, snapshot_id=s1) == list(range(100))
    assert _collect_ids(t, spark) == list(range(200))


def test_positional_deletes_materialized(spark, small_df, tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), small_df(0, 1).schema)
    t.append(small_df(0, 200))
    t.delete_where(spark, "k % 10 = 0")
    _d, pos, _e = t._plan(t.metadata())
    assert pos
    out = t.compact(spark, target_file_bytes=1 << 30)
    assert out["removed_delete_files"] == len(pos)
    d2, pos2, eq2 = t._plan(t.metadata())
    assert pos2 == [] and eq2 == []
    assert _collect_ids(t, spark) == [k for k in range(200) if k % 10]


def test_equality_deletes_materialized(spark, small_df, tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), small_df(0, 1).schema)
    t.append(small_df(0, 200))
    upd = small_df(0, 50).withColumn("val", F.lit("updated"))
    t.upsert(upd, ["k"])
    _d, _p, eq = t._plan(t.metadata())
    assert eq
    t.compact(spark, target_file_bytes=1 << 30)
    _d2, _p2, eq2 = t._plan(t.metadata())
    assert eq2 == []
    rows = {r["k"]: r["val"] for r in t.read(spark).collect()}
    assert len(rows) == 200
    assert rows[0] == "updated" and rows[49] == "updated"
    assert rows[50] == "v50"


def test_all_rows_deleted_leaves_no_files(spark, small_df, tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), small_df(0, 1).schema)
    t.append(small_df(0, 50))
    t.delete_where(spark, "k >= 0")
    out = t.compact(spark, target_file_bytes=1 << 30)
    assert out["added_data_files"] == 0
    assert t.data_files() == []
    assert t.read(spark).count() == 0


def test_partition_scoped_compact_leaves_other_partitions(spark, small_df,
                                                          tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), small_df(0, 1).schema,
                            partition_by=[("shard", "identity")])
    for i in range(3):
        t.append(small_df(i * 100, (i + 1) * 100))
    files0 = set(t.data_files(partition_filter={"shard": 0}))
    files1 = set(t.data_files(partition_filter={"shard": 1}))
    out = t.compact(spark, target_file_bytes=1 << 30,
                    partition_filter={"shard": 0})
    assert out["rewritten_data_files"] == len(files0)
    assert set(t.data_files(partition_filter={"shard": 1})) == files1
    assert len(t.data_files(partition_filter={"shard": 0})) < len(files0)
    assert _collect_ids(t, spark) == list(range(300))


def test_partial_compact_keeps_deletes_for_survivors(spark, small_df,
                                                     tmp_path):
    """An equality delete older than an UNREWRITTEN file must survive the
    commit and keep applying to that file — and must NOT re-apply to the
    rewritten rows (they carry the new, higher sequence number)."""
    t = IcebergTable.create(str(tmp_path / "t"), small_df(0, 1).schema,
                            partition_by=[("shard", "identity")])
    t.append(small_df(0, 300))
    dels = small_df(0, 300).filter("k % 7 = 0").select("k")
    t.delete_equality(dels)
    t.compact(spark, target_file_bytes=1 << 30,
              partition_filter={"shard": 0})
    _d, _p, eq = t._plan(t.metadata())
    assert eq, "delete file retired while shard 1/2 files still need it"
    want = [k for k in range(300) if k % 7]
    assert _collect_ids(t, spark) == want
    # a second, full compact can now retire it
    t.compact(spark, target_file_bytes=1 << 30)
    _d2, _p2, eq2 = t._plan(t.metadata())
    assert eq2 == []
    assert _collect_ids(t, spark) == want


def test_compact_projects_evolved_schemas(spark, small_df, tmp_path):
    """v1 files compacted AFTER a rename/promote/add evolution must land
    as current-schema files; the result equals the pre-compact read."""
    t = IcebergTable.create(str(tmp_path / "t"), small_df(0, 1).schema)
    t.append(small_df(0, 100))
    t.update_schema(add=[("score", "double")], rename={"val": "label"},
                    promote={"shard": "long"})
    df2 = small_df(100, 200).select(
        "k", F.col("shard").cast("long").alias("shard"),
        F.col("val").alias("label"),
        (F.col("k") * 0.5).alias("score"))
    t.append(df2)
    before = {r["k"]: (r["shard"], r["label"], r["score"])
              for r in t.read(spark).collect()}
    out = t.compact(spark, target_file_bytes=1 << 30)
    assert out["rewritten_data_files"] >= 2
    after = {r["k"]: (r["shard"], r["label"], r["score"])
             for r in t.read(spark).collect()}
    assert after == before
    assert after[0] == (0, "v0", None)
    assert after[150] == (150 % 3, "v150", 75.0)


def test_compact_applies_table_write_order(spark, tmp_path):
    """rewrite-to-sort: data appended BEFORE a sort order was declared gets
    sorted (and prunable) by compacting under the new order."""
    import glob
    import os

    import pyarrow.parquet as pq

    df = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("shard"),
        F.concat(F.lit("v"), F.col("id")).alias("val"),
    ).repartition(6, F.crc32(F.col("id").cast("string")))
    t = IcebergTable.create(str(tmp_path / "t"), df.schema)
    t.append(df)  # scrambled, unsorted
    n_hit_before = len(t.data_files(column_filter=[("k", ">=", 900)]))
    assert n_hit_before == len(t.data_files())  # full-domain envelopes
    t.replace_sort_order(["k"])
    t.compact(spark, target_file_bytes=4096)  # force several output files
    files = [p for p in glob.glob(os.path.join(t.data_dir, "**",
                                               "*.parquet"), recursive=True)
             if os.path.basename(p)[0] != "."]
    live = set(t.data_files())
    for p in files:
        if "file://" + p not in live:
            continue
        vals = pq.read_table(p, columns=["k"])["k"].to_pylist()
        assert vals == sorted(vals)
    total = len(t.data_files())
    n_hit = len(t.data_files(column_filter=[("k", ">=", 900)]))
    assert total > 1 and n_hit < total
    assert sorted(r["k"] for r in t.read(spark).collect()) == \
        list(range(1000))


def test_incremental_skips_compaction_rewrites(spark, small_df, tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), small_df(0, 1).schema)
    t.append(small_df(0, 100))
    head = t.current_snapshot_id()
    t.append(small_df(100, 200))
    new_before = set(t.incremental_files(head))
    assert new_before
    head2 = t.current_snapshot_id()
    t.compact(spark, target_file_bytes=1 << 30)
    # from the pre-compact head: rewrites are NOT new data
    assert t.incremental_files(head2) == []
    # append after the compact IS new data again
    t.append(small_df(200, 250))
    inc = t.incremental_files(head2)
    assert len(inc) >= 1
    got = sorted(r["k"] for r in
                 t.read_incremental(spark, head2).collect())
    assert got == list(range(200, 250))


def test_noop_when_nothing_to_do(spark, small_df, tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), small_df(0, 1).schema)
    t.append(small_df(0, 100, parts=1))
    n_snaps = len(t.snapshots())
    out = t.compact(spark, target_file_bytes=10)  # nothing is "small"
    assert out["rewritten_data_files"] == 0
    assert len(t.snapshots()) == n_snaps  # no empty commit


def test_verify_rewrite_multiset_proof(spark, small_df, tmp_path):
    # compaction with pending deletes: physical layout changes completely,
    # logical content (deletes applied at BOTH snapshots) must not
    t = IcebergTable.create(str(tmp_path / "t"), small_df(0, 1).schema)
    t.append(small_df(0, 200))
    t.append(small_df(200, 300))
    t.delete_where(spark, "k % 7 = 0")
    t.compact(spark, target_file_bytes=1 << 30)
    r = t.verify_rewrite(spark)  # current (compaction) vs its parent
    assert r.identical and r.buckets_differing == 0
    assert r.rows_left == r.rows_right == sum(1 for k in range(300) if k % 7)


def test_verify_rewrite_detects_content_drift(spark, small_df, tmp_path):
    # an append is NOT content-preserving: verify must refuse it, and with
    # keys it must attribute exactly the injected rows
    t = IcebergTable.create(str(tmp_path / "t"), small_df(0, 1).schema)
    t.append(small_df(0, 100))
    t.append(small_df(100, 110))
    r = t.verify_rewrite(spark)
    assert not r.identical and r.rows_left == 100 and r.rows_right == 110
    rk = t.verify_rewrite(spark, keys=["k"])
    assert rk.counts == {"missing_in_left": 10}
    assert sorted(row["k"] for row in rk.diff.collect()) == list(range(100, 110))


def test_verify_rewrite_explicit_snapshots_and_no_parent(spark, small_df,
                                                         tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), small_df(0, 1).schema)
    s1 = t.append(small_df(0, 50))
    t.delete_where(spark, "k < 10")
    s3 = t.compact(spark, target_file_bytes=1 << 30)
    assert t.verify_rewrite(spark, from_snapshot_id=s1).rows_left == 50
    with pytest.raises(ValueError):
        t2 = IcebergTable.create(str(tmp_path / "t2"), small_df(0, 1).schema)
        t2.append(small_df(0, 10))
        t2.verify_rewrite(spark)  # first snapshot has no parent
