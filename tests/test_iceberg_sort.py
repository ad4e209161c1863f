"""Iceberg sort orders: table write order -> narrow per-file stats envelopes.

Spec parity targets (https://iceberg.apache.org/spec/):
- "Sort Orders": orders are versioned metadata (order-id, fields with
  transform/source-id/direction/null-order); data files record the
  sort_order_id they were written under (manifest field 140).
- Sort order evolution is metadata-only: existing files keep their order.
Reference parity: the reference CLI has no table-format writer at all —
this family exceeds it by implementing the format itself.

The scale argument: at 10^12 rows, a range predicate on an UNSORTED table
opens every file (each file's [lower, upper] envelope spans the full
domain); under a declared sort order the same predicate opens only the
files whose narrow envelope intersects — asserted here as a strict
file-count drop on identical data, not just argued.
"""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dcspark.iceberg import IcebergTable


@pytest.fixture()
def events_df(spark):
    # deliberately scrambled on event_id so unsorted writes give full-domain
    # file envelopes
    return spark.range(2000).select(
        F.shiftleft(F.col("id") % 16, 8).alias("_scramble"),
        F.col("id").cast("long").alias("event_id"),
        (F.col("id") % 7).cast("int").alias("shard"),
        F.concat(F.lit("e"), F.col("id")).alias("name"),
    ).orderBy("_scramble").drop("_scramble").repartition(8)


def _data_parquets(t):
    return [p for p in glob.glob(os.path.join(t.data_dir, "**", "*.parquet"),
                                 recursive=True)
            if os.path.basename(p)[0] != "."]


def test_create_with_sort_by_registers_order(spark, events_df, tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), events_df.schema,
                            sort_by=["event_id"])
    md = t.metadata()
    assert md["default-sort-order-id"] == 1
    so = [o for o in md["sort-orders"] if o["order-id"] == 1][0]
    assert so["fields"] == [{"transform": "identity", "source-id": 1,
                             "direction": "asc",
                             "null-order": "nulls-first"}]


def test_sorted_write_rows_sorted_within_every_file(spark, events_df,
                                                    tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), events_df.schema,
                            sort_by=["event_id"])
    t.append(events_df)
    files = _data_parquets(t)
    assert len(files) > 1
    for p in files:
        vals = pq.read_table(p, columns=["event_id"])["event_id"].to_pylist()
        assert vals == sorted(vals), f"{p} not sorted"


def test_sorted_files_carry_sort_order_id(spark, events_df, tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), events_df.schema,
                            sort_by=["event_id"])
    t.append(events_df)
    entries, _, _ = t._plan(t.metadata())
    assert entries
    # re-read the manifest record to check the serialized field, not the
    # in-memory dict
    md = t.metadata()
    snap = t._resolve_snapshot(md, None, None)
    for m in t._read_manifest_list(snap["manifest-list"]):
        _, recs = t._read_manifest_full(m["manifest_path"])
        for e in recs:
            assert e["data_file"]["sort_order_id"] == 1


def test_sorted_read_round_trips_exactly(spark, events_df, tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), events_df.schema,
                            sort_by=[("event_id", "desc")])
    t.append(events_df)
    got = {r["event_id"]: r["name"] for r in t.read(spark).collect()}
    want = {r["event_id"]: r["name"] for r in events_df.collect()}
    assert got == want


def test_sort_tightens_pruning_vs_unsorted(spark, events_df, tmp_path):
    """Same data, same predicate: the sorted table must open strictly fewer
    files — the 10^12-row argument, asserted."""
    tu = IcebergTable.create(str(tmp_path / "unsorted"), events_df.schema)
    tu.append(events_df)
    ts = IcebergTable.create(str(tmp_path / "sorted"), events_df.schema,
                             sort_by=["event_id"])
    ts.append(events_df)
    pred = [("event_id", ">=", 1900)]
    n_u = len(tu.data_files(column_filter=pred))
    n_s = len(ts.data_files(column_filter=pred))
    total_s = len(ts.data_files())
    assert total_s > 1
    assert n_s < n_u, (n_s, n_u)
    assert n_s <= max(1, total_s // 2)
    # and the pruned read returns exactly the right rows
    got = sorted(r["event_id"] for r in
                 ts.read(spark, where=pred).collect())
    assert got == list(range(1900, 2000))


def test_sorted_write_with_partitions(spark, events_df, tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), events_df.schema,
                            partition_by=[("shard", "identity")],
                            sort_by=["event_id"])
    t.append(events_df)
    # per-file sort holds inside every partition dir
    for p in _data_parquets(t):
        tbl = pq.read_table(p, columns=["event_id", "shard"])
        vals = tbl["event_id"].to_pylist()
        assert vals == sorted(vals)
        assert len(set(tbl["shard"].to_pylist())) == 1
    got = t.read(spark, partition_filter={"shard": 3}).count()
    want = events_df.filter("shard = 3").count()
    assert got == want


def test_replace_sort_order_affects_future_writes_only(spark, events_df,
                                                       tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), events_df.schema)
    t.append(events_df.filter("event_id < 1000"))
    soid = t.replace_sort_order([("event_id", "asc")])
    assert soid == 1
    t.append(events_df.filter("event_id >= 1000"))
    md = t.metadata()
    snap = t._resolve_snapshot(md, None, None)
    seen = set()
    for m in t._read_manifest_list(snap["manifest-list"]):
        _, recs = t._read_manifest_full(m["manifest_path"])
        for e in recs:
            seen.add(e["data_file"].get("sort_order_id"))
    assert 0 in seen and 1 in seen
    assert t.read(spark).count() == 2000


def test_replace_sort_order_reuses_identical(spark, events_df, tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), events_df.schema,
                            sort_by=["event_id"])
    assert t.replace_sort_order(None) == 0
    assert t.replace_sort_order(["event_id"]) == 1
    assert len(t.metadata()["sort-orders"]) == 2


def test_drop_sort_source_column_refused(spark, events_df, tmp_path):
    t = IcebergTable.create(str(tmp_path / "t"), events_df.schema,
                            sort_by=["event_id"])
    t.append(events_df)
    with pytest.raises(ValueError, match="sort-order source"):
        t.update_schema(drop=["event_id"])
    t.replace_sort_order(None)
    t.update_schema(drop=["event_id"])  # now fine
    assert "event_id" not in t.read(spark).columns


def test_bad_sort_specs_refused(spark, events_df, tmp_path):
    with pytest.raises(ValueError, match="not in schema"):
        IcebergTable.create(str(tmp_path / "a"), events_df.schema,
                            sort_by=["nope"])
    with pytest.raises(ValueError, match="direction"):
        IcebergTable.create(str(tmp_path / "b"), events_df.schema,
                            sort_by=[("event_id", "sideways")])
