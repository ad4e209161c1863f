"""Regression pins for the round-4 iceberg.py review findings — each test
reproduces the pre-fix failure scenario and asserts the fixed behavior."""

import datetime
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T_

from dcspark.iceberg import (IcebergTable, _bucket_hash_value,
                             _partition_values_equal, truncate_upper)


def test_expire_survives_shared_manifests_across_dropped_snapshots(spark, tmp_path):
    """append chains share manifests: S2's list carries S1's manifest. With
    keep_last=1 both S1 and S2 drop; processing the shared manifest twice
    used to unlink it on the first pass and crash FileNotFoundError on the
    second — data files gone, metadata never committed, every later
    maintenance run wedged."""
    loc = str(tmp_path / "t")
    t = IcebergTable.create(loc, T_.StructType().add("id","long").add("v","string"))
    t.append(spark.range(5).select(F.col("id"), F.lit("a").alias("v")))
    t.append(spark.range(5).select((F.col("id") + 10).alias("id"), F.lit("b").alias("v")))
    t.overwrite(spark.range(3).select((F.col("id") + 50).alias("id"), F.lit("c").alias("v")))
    t.append(spark.range(2).select((F.col("id") + 90).alias("id"), F.lit("d").alias("v")))
    out = t.expire_snapshots(keep_last=1)
    assert out["snapshots_removed"] == 3
    # metadata committed: one snapshot remains and the table still reads
    assert len(t.metadata()["snapshots"]) == 1
    assert t.read(spark).count() == 5
    # maintenance is NOT wedged: a second expiry and orphan scan both run
    assert t.expire_snapshots(keep_last=1)["snapshots_removed"] == 0
    t.remove_orphan_files(dry_run=True)


def test_append_to_date_partitioned_table(spark, tmp_path):
    """Identity partition on a DateType column: Spark writes the dir value
    as '2024-01-01', which int() rejected — the commit crashed mid-loop
    leaving renamed files orphaned. Dates store as days-since-epoch."""
    loc = str(tmp_path / "t")
    t = IcebergTable.create(loc, T_.StructType().add("id","long").add("d","date"),
                            partition_by=[("d", "identity")])
    df = spark.createDataFrame(
        [(1, datetime.date(2024, 1, 1)), (2, datetime.date(2024, 1, 2))],
        "id bigint, d date")
    t.append(df)
    assert t.read(spark).count() == 2
    # stored partition value is the epoch-day ordinal (read straight from
    # the current snapshot's manifests)
    md = t.metadata()
    snap = md["snapshots"][-1]
    days = set()
    for m in t._read_manifest_list(snap["manifest-list"]):
        for e in t._read_manifest_full(m["manifest_path"])[1]:
            days.add(e["data_file"]["partition"]["d"])
    assert days == {(datetime.date(2024, 1, 1) - datetime.date(1970, 1, 1)).days,
                    (datetime.date(2024, 1, 2) - datetime.date(1970, 1, 1)).days}
    # and partition pruning by date literal works
    got = t.read(spark, partition_filter={"d": datetime.date(2024, 1, 1)})
    assert got.count() == 1


def test_bucket_hash_uses_utc_epoch_for_aware_timestamps():
    """The same instant expressed in +05:00 and UTC must land in the same
    bucket (the spec hashes micros from the UTC epoch); anchoring the epoch
    to the value's own tzinfo silently pruned matching files."""
    from pyspark.sql import types as T

    utc = datetime.datetime(2024, 1, 1, 5, 0, tzinfo=datetime.timezone.utc)
    plus5 = utc.astimezone(datetime.timezone(datetime.timedelta(hours=5)))
    assert utc == plus5  # same instant
    h1 = _bucket_hash_value(utc, T.TimestampType())
    h2 = _bucket_hash_value(plus5, T.TimestampType())
    assert h1 == h2


def test_partition_prune_is_conservative_across_representations():
    """A prune test must keep on representation mismatch: stored 1.0 vs
    filter literal 1 (and numeric strings from hive dirs) are equal values;
    strict str() comparison silently pruned every matching file."""
    assert _partition_values_equal(1.0, 1)
    assert _partition_values_equal("1.0", 1)
    assert _partition_values_equal(3, 3)
    assert _partition_values_equal("a", "a")
    assert not _partition_values_equal(2.0, 1)
    assert not _partition_values_equal("a", "b")


def test_truncate_upper_skips_utf16_surrogate_block():
    """Incrementing U+D7FF must not emit a lone surrogate (unencodable in
    UTF-8 — serialize_bound raised and aborted the commit mid-append)."""
    v = "x" * 15 + "퟿" + "tail-beyond-truncation"
    u = truncate_upper(v, "string")
    assert u == "x" * 15 + ""
    assert u > v[:16]           # still an upper bound for the prefix
    u.encode("utf-8")           # and encodable


def test_blooms_garbage_collected_with_expiry(spark, tmp_path):
    """metadata/blooms must not grow forever: expiry rewrites/removes bloom
    sidecar rows whose data files are no longer referenced."""
    loc = str(tmp_path / "t")
    t = IcebergTable.create(loc, T_.StructType().add("id","long").add("v","string"),
                            properties={"bloom.columns": "id"})
    t.append(spark.range(50).select(F.col("id"), F.lit("a").alias("v")))
    t.overwrite(spark.range(30).select((F.col("id") + 100).alias("id"), F.lit("b").alias("v")))
    blooms = os.path.join(loc, "metadata", "blooms")
    n_before = len(os.listdir(blooms))
    assert n_before == 2
    t.expire_snapshots(keep_last=1)
    # the first commit's files are gone; its sidecar dir must be too
    remaining = os.listdir(blooms)
    assert len(remaining) == 1
    # the surviving sidecar still serves lookups
    got = t.lookup(spark, "id", [105])
    assert got.count() == 1
