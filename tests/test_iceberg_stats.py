"""Iceberg manifest column stats (spec fields 109/110/125/128) and the
stats-driven file-skipping read path.

Reference parity note: the reference CLI delegates Iceberg scans to an
engine that relies on the format's own metrics for pruning; here the
metrics are written (parquet-footer harvest, Appendix-D single-value
serialization) and consumed (driver-side envelope test) by this repo's own
format implementation, so a 10^12-row table answers a range-scoped
validation by opening only the files that can match.
"""

import datetime
import shutil
import struct

import pytest
from pyspark.sql import functions as F

from dcspark.iceberg import (
    BOUND_TRUNCATION,
    IcebergTable,
    deserialize_bound,
    file_may_match,
    serialize_bound,
    truncate_lower,
    truncate_upper,
)


# ---------------------------------------------------------------------------
# Appendix-D single-value serialization
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("v,t,raw", [
    (True, "boolean", b"\x01"),
    (False, "boolean", b"\x00"),
    (-7, "int", struct.pack("<i", -7)),
    (2**40, "long", struct.pack("<q", 2**40)),
    (1.5, "float", struct.pack("<f", 1.5)),
    (-3.25, "double", struct.pack("<d", -3.25)),
    ("héllo", "string", "héllo".encode("utf-8")),
    (b"\x00\xff", "binary", b"\x00\xff"),
])
def test_bound_roundtrip(v, t, raw):
    b = serialize_bound(v, t)
    assert b == raw
    assert deserialize_bound(b, t) == v


def test_bound_date_timestamp():
    d = datetime.date(2026, 8, 19)
    days = (d - datetime.date(1970, 1, 1)).days
    assert serialize_bound(d, "date") == struct.pack("<i", days)
    assert deserialize_bound(serialize_bound(d, "date"), "date") == days
    ts = datetime.datetime(2026, 8, 19, 12, 0, 0,
                           tzinfo=datetime.timezone.utc)
    micros = int(ts.timestamp() * 1_000_000)
    assert serialize_bound(ts, "timestamptz") == struct.pack("<q", micros)
    # naive datetimes are treated as UTC (Spark session tz is UTC in tests)
    naive = datetime.datetime(2026, 8, 19, 12, 0, 0)
    assert serialize_bound(naive, "timestamp") == struct.pack("<q", micros)


def test_bound_unsupported_type_is_omitted():
    assert serialize_bound("1.23", "decimal(10, 2)") is None


# ---------------------------------------------------------------------------
# truncation invariants: stored lower <= true min, stored upper >= true max
# ---------------------------------------------------------------------------


def test_truncate_short_values_pass_through():
    assert truncate_lower("abc", "string") == "abc"
    assert truncate_upper("abc", "string") == "abc"
    assert truncate_upper(123, "int") == 123


def test_truncate_long_string_invariants():
    v = "clip_" + "z" * 40
    lo = truncate_lower(v, "string")
    hi = truncate_upper(v, "string")
    assert len(lo) == BOUND_TRUNCATION and lo <= v
    assert hi is not None and len(hi) <= BOUND_TRUNCATION and hi > v


def test_truncate_upper_increments_last_incrementable():
    # last char already maximal -> carry left
    v = "ab" + chr(0x10FFFF) * (BOUND_TRUNCATION - 2) + "tail_beyond"
    hi = truncate_upper(v, "string")
    assert hi == "ac"
    assert hi > v[:BOUND_TRUNCATION]
    # every char maximal -> unrepresentable, omitted
    v2 = chr(0x10FFFF) * (BOUND_TRUNCATION + 4)
    assert truncate_upper(v2, "string") is None


def test_truncate_binary_invariants():
    v = bytes(range(BOUND_TRUNCATION)) + b"\x99" * 8
    lo = truncate_lower(v, "binary")
    hi = truncate_upper(v, "binary")
    assert lo == v[:BOUND_TRUNCATION] and lo <= v
    assert hi > v
    v2 = b"\xff" * (BOUND_TRUNCATION + 1)
    assert truncate_upper(v2, "binary") is None


# ---------------------------------------------------------------------------
# file_may_match — the conservative envelope test
# ---------------------------------------------------------------------------

FIDS = {"dur_ms": (1, "int"), "clip_id": (2, "string"), "score": (3, "double")}


def _dfile(lo=None, hi=None, nulls=None, counts=None):
    def kv(d):
        return [{"key": k, "value": v} for k, v in (d or {}).items()]
    return {
        "record_count": 100,
        "lower_bounds": kv(lo), "upper_bounds": kv(hi),
        "null_value_counts": kv(nulls), "value_counts": kv(counts),
    }


def _intb(v):
    return struct.pack("<i", v)


def test_match_no_stats_always_keeps():
    assert file_may_match({}, [("dur_ms", ">", 50)], FIDS)
    assert file_may_match({"record_count": 5}, [("dur_ms", "=", 1)], FIDS)


def test_match_range_pruning():
    d = _dfile(lo={1: _intb(10)}, hi={1: _intb(20)})
    assert file_may_match(d, [("dur_ms", ">=", 15)], FIDS)
    assert not file_may_match(d, [("dur_ms", ">", 20)], FIDS)
    assert file_may_match(d, [("dur_ms", ">=", 20)], FIDS)
    assert not file_may_match(d, [("dur_ms", "<", 10)], FIDS)
    assert file_may_match(d, [("dur_ms", "<=", 10)], FIDS)
    assert not file_may_match(d, [("dur_ms", "=", 9)], FIDS)
    assert not file_may_match(d, [("dur_ms", "=", 21)], FIDS)
    assert file_may_match(d, [("dur_ms", "=", 10)], FIDS)


def test_match_in_op():
    d = _dfile(lo={1: _intb(10)}, hi={1: _intb(20)})
    assert file_may_match(d, [("dur_ms", "in", [1, 2, 15])], FIDS)
    assert not file_may_match(d, [("dur_ms", "in", [1, 2, 30])], FIDS)
    assert file_may_match(d, [("dur_ms", "in", [])], FIDS)


def test_match_null_counts():
    all_null = _dfile(nulls={3: 100}, counts={3: 100})
    assert not file_may_match(all_null, [("score", ">", 0.0)], FIDS)
    assert not file_may_match(all_null, [("score", "is_not_null", None)], FIDS)
    assert file_may_match(all_null, [("score", "is_null", None)], FIDS)
    no_null = _dfile(nulls={3: 0}, counts={3: 100})
    assert not file_may_match(no_null, [("score", "is_null", None)], FIDS)
    assert file_may_match(no_null, [("score", "is_not_null", None)], FIDS)


def test_match_truncated_string_bounds_stay_sound():
    # true min "aaaa...A" stored truncated; envelope must still admit the
    # values inside it
    true_min = "a" * 30
    true_max = "m" * 30
    d = _dfile(
        lo={2: serialize_bound(truncate_lower(true_min, "string"), "string")},
        hi={2: serialize_bound(truncate_upper(true_max, "string"), "string")},
    )
    assert file_may_match(d, [("clip_id", "=", "g" * 25)], FIDS)
    assert file_may_match(d, [("clip_id", ">=", true_max)], FIDS)
    assert not file_may_match(d, [("clip_id", "<", "a" * 10)], FIDS)
    assert not file_may_match(d, [("clip_id", ">", "n")], FIDS)


def test_match_unknown_column_keeps():
    d = _dfile(lo={1: _intb(0)}, hi={1: _intb(1)})
    assert file_may_match(d, [("not_a_col", "=", 5)], FIDS)


def test_match_rejects_unknown_op():
    with pytest.raises(ValueError):
        file_may_match(_dfile(), [("dur_ms", "like", "x%")], FIDS)


# ---------------------------------------------------------------------------
# end-to-end over a real table
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def stats_table(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ice") / "tbl")
    shutil.rmtree(out, ignore_errors=True)
    df = spark.range(0, 8000).select(
        F.col("id").alias("k"),
        (F.col("id") % 250 + 40).cast("int").alias("dur_ms"),
        F.concat(F.lit("clip_"),
                 F.format_string("%06d", F.col("id"))).alias("clip_id"),
        F.when(F.col("id") % 5 == 0, None)
         .otherwise((F.col("id") % 97).cast("double")).alias("score"),
    )
    # range-partition on k so files carry disjoint [lower, upper] envelopes
    df = df.repartitionByRange(8, "k").sortWithinPartitions("k")
    t = IcebergTable.create(out, df.schema)
    t.append(df)
    return t


def test_e2e_stats_written_and_roundtrip(stats_table):
    t = stats_table
    snap = t.metadata()["snapshots"][-1]
    entries = []
    for m in t._read_manifest_list(snap["manifest-list"]):
        entries.extend(t._read_manifest_full(m["manifest_path"])[1])
    assert len(entries) == 8
    fids = t._field_id_types(t.metadata())
    k_fid = fids["k"][0]
    envelopes = []
    for e in entries:
        d = e["data_file"]
        lo = {x["key"]: x["value"] for x in d["lower_bounds"]}
        hi = {x["key"]: x["value"] for x in d["upper_bounds"]}
        nulls = {x["key"]: x["value"] for x in d["null_value_counts"]}
        counts = {x["key"]: x["value"] for x in d["value_counts"]}
        assert counts[k_fid] == d["record_count"]
        assert nulls[fids["score"][0]] > 0  # every file holds some nulls
        envelopes.append((deserialize_bound(lo[k_fid], "long"),
                          deserialize_bound(hi[k_fid], "long")))
    envelopes.sort()
    # disjoint, covering 0..7999
    assert envelopes[0][0] == 0 and envelopes[-1][1] == 7999
    for (lo1, hi1), (lo2, _hi2) in zip(envelopes, envelopes[1:]):
        assert hi1 < lo2


def test_e2e_plan_skips_files(stats_table):
    t = stats_table
    assert len(t.data_files()) == 8
    planned = t.data_files(column_filter=[("k", ">=", 7000)])
    assert 1 <= len(planned) <= 2  # range boundaries may straddle one file
    planned = t.data_files(column_filter=[("clip_id", "<", "clip_001000")])
    assert 1 <= len(planned) <= 2
    # un-prunable predicate keeps everything (dur_ms cycles in every file)
    assert len(t.data_files(column_filter=[("dur_ms", "=", 100)])) == 8


def test_e2e_read_where_exact(spark, stats_table):
    t = stats_table
    got = t.read(spark, where=[("k", ">=", 7000), ("k", "<", 7500)])
    assert got.count() == 500
    assert got.agg(F.sum("k")).first()[0] == sum(range(7000, 7500))
    # predicate spanning files + residual filter correctness on strings
    got2 = t.read(spark, where=[("clip_id", ">=", "clip_007900")])
    assert got2.count() == 100
    # is_not_null semantics identical to a plain filter
    n = t.read(spark, where=[("score", "is_not_null", None)]).count()
    assert n == t.read(spark).filter("score IS NOT NULL").count()


def test_e2e_where_composes_with_positional_deletes(spark, stats_table):
    t = stats_table
    t.delete_where(spark, "k >= 7900 AND k < 7950")
    got = t.read(spark, where=[("k", ">=", 7800)])
    assert got.count() == 200 - 50
    # time-travel back: the pre-delete snapshot still sees all 200
    first = t.metadata()["snapshots"][0]["snapshot-id"]
    assert t.read(spark, snapshot_id=first,
                  where=[("k", ">=", 7800)]).count() == 200


def test_e2e_incremental_with_column_filter(spark, stats_table):
    t = stats_table
    base = t.current_snapshot_id()
    extra = spark.range(100000, 104000).select(
        F.col("id").alias("k"),
        F.lit(77).cast("int").alias("dur_ms"),
        F.concat(F.lit("clip_"),
                 F.format_string("%06d", F.col("id"))).alias("clip_id"),
        F.lit(1.0).alias("score"),
    ).repartitionByRange(4, "k").sortWithinPartitions("k")
    t.append(extra)
    inc_all = t.incremental_files(base)
    assert len(inc_all) == 4
    inc_pruned = t.incremental_files(
        base, column_filter=[("k", ">=", 103000)])
    assert len(inc_pruned) == 1
    rows = t.read_incremental(spark, base,
                              where=[("k", ">=", 103000)]).count()
    assert rows == 1000


def test_e2e_legacy_manifest_without_stats_still_plans(spark, tmp_path):
    """Entries written before the stats fields existed decode to dicts
    without the keys; planning with a column_filter must keep them."""
    out = str(tmp_path / "legacy")
    df = spark.range(0, 100).select(F.col("id").alias("k"))
    t = IcebergTable.create(out, df.schema)
    t.append(df)
    # simulate a legacy manifest by stripping the stats from the entry dicts
    fids = t._field_id_types(t.metadata())
    snap = t.metadata()["snapshots"][-1]
    for m in t._read_manifest_list(snap["manifest-list"]):
        for e in t._read_manifest_full(m["manifest_path"])[1]:
            d = dict(e["data_file"])
            for key in ("value_counts", "null_value_counts",
                        "lower_bounds", "upper_bounds"):
                d.pop(key, None)
            assert file_may_match(d, [("k", ">", 10**9)], fids)
