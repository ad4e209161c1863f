"""Iceberg schema evolution + equality deletes / upsert.

Spec parity targets (https://iceberg.apache.org/spec/):
- "Schema Evolution": add / drop / rename / promote are metadata-only;
  readers project old data files to the current schema by field-id.
- "Equality Delete Files" (v2, content=2): a delete row removes every data
  row with a strictly smaller data sequence number whose equality columns
  null-safe match.
Reference parity: the reference CLI has no table-format writer at all
(iceberg read-only via soda/duckdb, datacontract/engines/soda/connections/
duckdb.py) — this family exceeds it by implementing the format itself.
"""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dcspark.iceberg import IcebergTable, read_container_meta


@pytest.fixture()
def clips_df(spark):
    return spark.range(100).select(
        F.concat(F.lit("clip-"), F.col("id")).alias("clip_id"),
        (F.col("id") % 4).cast("int").alias("shard"),
        F.when(F.col("id") % 2 == 0, "pcm_s16le").otherwise("ulaw")
        .alias("codec"),
        (F.col("id") * 10 + 100).cast("int").alias("dur_ms"),
    )


def _make(spark, clips_df, tmp_path, **kw):
    loc = str(tmp_path / "tbl")
    t = IcebergTable.create(loc, clips_df.schema, **kw)
    t.append(clips_df)
    return t


# ---------------------------------------------------------------------------
# schema evolution
# ---------------------------------------------------------------------------


def test_rename_resolves_old_files_by_field_id(spark, clips_df, tmp_path):
    t = _make(spark, clips_df, tmp_path)
    sid = t.update_schema(rename={"dur_ms": "duration_ms"})
    assert sid == 1
    back = t.read(spark)
    assert "duration_ms" in back.columns and "dur_ms" not in back.columns
    got = {r["clip_id"]: r["duration_ms"] for r in back.collect()}
    want = {r["clip_id"]: r["dur_ms"] for r in clips_df.collect()}
    assert got == want


def test_add_column_nullfills_old_rows(spark, clips_df, tmp_path):
    t = _make(spark, clips_df, tmp_path)
    t.update_schema(add=[("lang", T.StringType())])
    back = t.read(spark)
    assert back.filter("lang IS NULL").count() == 100
    # append under the NEW schema; both file generations union correctly
    new = clips_df.withColumn("lang", F.lit("en")).limit(10)
    t.append(new)
    back = t.read(spark)
    assert back.count() == 110
    assert back.filter("lang = 'en'").count() == 10
    assert back.filter("lang IS NULL").count() == 100


def test_drop_column_and_partition_source_guard(spark, clips_df, tmp_path):
    t = _make(spark, clips_df, tmp_path,
              partition_by=[("codec", "identity")])
    with pytest.raises(ValueError, match="partition source"):
        t.update_schema(drop=["codec"])
    t.update_schema(drop=["shard"])
    back = t.read(spark)
    assert "shard" not in back.columns
    assert back.count() == 100


def test_promote_int_to_long_and_stats_prune(spark, clips_df, tmp_path):
    t = _make(spark, clips_df, tmp_path)
    t.update_schema(promote={"dur_ms": "long"})
    back = t.read(spark)
    assert dict(back.dtypes)["dur_ms"] == "bigint"
    assert back.agg(F.sum("dur_ms")).first()[0] == \
        clips_df.agg(F.sum("dur_ms")).first()[0]
    # manifest bounds were written as 4-byte ints pre-promotion; pruning on
    # the promoted column must still parse them (tolerant deserialize)
    pruned = t.data_files(column_filter=[("dur_ms", ">", 10_000_000)])
    assert pruned == []
    exact = t.read(spark, where=[("dur_ms", ">=", 1000)])
    assert exact.count() == clips_df.filter("dur_ms >= 1000").count()


def test_illegal_promotions_rejected(spark, clips_df, tmp_path):
    t = _make(spark, clips_df, tmp_path)
    with pytest.raises(ValueError, match="widening"):
        t.update_schema(promote={"clip_id": "long"})
    with pytest.raises(ValueError, match="widening"):
        t.update_schema(promote={"dur_ms": "int"})


def test_evolution_is_metadata_only_and_travels(spark, clips_df, tmp_path):
    t = _make(spark, clips_df, tmp_path)
    files_before = sorted(t.data_files())
    s1 = t.current_snapshot_id()
    t.update_schema(rename={"codec": "audio_codec"},
                    add=[("score", T.DoubleType())])
    assert sorted(t.data_files()) == files_before  # nothing rewritten
    md = t.metadata()
    assert md["current-schema-id"] == 1
    assert len(md["schemas"]) == 2
    assert md["last-column-id"] == 5
    # time-travel by snapshot still works (projected to current schema)
    assert t.read(spark, snapshot_id=s1).count() == 100


def test_manifests_embed_write_time_schema(spark, clips_df, tmp_path):
    t = _make(spark, clips_df, tmp_path)
    t.update_schema(rename={"dur_ms": "duration_ms"})
    t.append(t.read(spark).limit(5))
    snap = [s for s in t.snapshots()][-1]
    mls = t._read_manifest_list(snap["manifest-list"])
    names_seen = set()
    for m in mls:
        with open(t._local(m["manifest_path"]), "rb") as f:
            meta = read_container_meta(f.read())
        emb = json.loads(meta["schema"])
        names_seen.add(tuple(f["name"] for f in emb["fields"]))
    # one manifest embeds the old schema, the other the renamed one
    assert ("clip_id", "shard", "codec", "dur_ms") in names_seen
    assert ("clip_id", "shard", "codec", "duration_ms") in names_seen


def test_incremental_read_projects_old_schema(spark, clips_df, tmp_path):
    loc = str(tmp_path / "tbl")
    t = IcebergTable.create(loc, clips_df.schema)
    s0 = t.append(clips_df.filter("shard = 0"))
    t.append(clips_df.filter("shard = 1"))  # old-schema increment
    t.update_schema(rename={"dur_ms": "duration_ms"})
    inc = t.read_incremental(spark, from_snapshot_id=s0)
    assert "duration_ms" in inc.columns
    assert inc.count() == clips_df.filter("shard = 1").count()


# ---------------------------------------------------------------------------
# equality deletes + upsert
# ---------------------------------------------------------------------------


def test_equality_delete_removes_matching_rows(spark, clips_df, tmp_path):
    t = _make(spark, clips_df, tmp_path)
    s1 = t.current_snapshot_id()
    keys = spark.createDataFrame(
        [("clip-0",), ("clip-7",), ("clip-99",), ("clip-nope",)],
        "clip_id string")
    t.delete_equality(keys)
    back = t.read(spark)
    assert back.count() == 97
    assert back.filter("clip_id IN ('clip-0','clip-7','clip-99')").count() == 0
    # prior snapshot still time-travels to the undeleted state
    assert t.read(spark, snapshot_id=s1).count() == 100


def test_equality_delete_sequence_rule(spark, clips_df, tmp_path):
    """A row appended AFTER the delete has a larger data sequence number
    and must survive — the spec's strict-inequality rule."""
    t = _make(spark, clips_df, tmp_path)
    t.delete_equality(
        spark.createDataFrame([("clip-3",)], "clip_id string"))
    assert t.read(spark).filter("clip_id = 'clip-3'").count() == 0
    t.append(clips_df.filter("clip_id = 'clip-3'"))
    assert t.read(spark).filter("clip_id = 'clip-3'").count() == 1


def test_equality_delete_multi_column_and_counts(spark, clips_df, tmp_path):
    t = _make(spark, clips_df, tmp_path)
    keys = (clips_df.filter("codec = 'ulaw' AND shard = 1")
            .select("codec", "shard"))
    t.delete_equality(keys)
    back = t.read(spark)
    want = clips_df.filter("NOT (codec = 'ulaw' AND shard = 1)").count()
    assert back.count() == want
    summary = t.snapshots()[-1]["summary"]
    assert summary["operation"] == "delete"
    assert int(summary["deleted-equality-records"]) == 1  # deduped keys


def test_equality_delete_rejects_unknown_column(spark, clips_df, tmp_path):
    t = _make(spark, clips_df, tmp_path)
    with pytest.raises(ValueError, match="not a top-level"):
        t.delete_equality(
            spark.createDataFrame([("x",)], "nope string"))


def test_upsert_updates_and_inserts_one_snapshot(spark, clips_df, tmp_path):
    t = _make(spark, clips_df, tmp_path)
    n_snaps = len(t.snapshots())
    up = spark.createDataFrame(
        [("clip-0", 0, "flac", 42), ("clip-1", 1, "flac", 43),
         ("clip-new", 9, "flac", 44)],
        t.spark_schema())
    t.upsert(up, key_cols=["clip_id"])
    assert len(t.snapshots()) == n_snaps + 1  # ONE commit for the merge
    back = t.read(spark)
    assert back.count() == 101
    got = {r["clip_id"]: (r["codec"], r["dur_ms"])
           for r in back.filter(
               "clip_id IN ('clip-0','clip-1','clip-new','clip-2')")
           .collect()}
    assert got["clip-0"] == ("flac", 42)
    assert got["clip-1"] == ("flac", 43)
    assert got["clip-new"] == ("flac", 44)
    assert got["clip-2"] == ("pcm_s16le", 120)  # untouched row intact


def test_upsert_survives_repeated_merges(spark, clips_df, tmp_path):
    t = _make(spark, clips_df, tmp_path)
    for ver in (1, 2, 3):
        up = spark.createDataFrame(
            [("clip-5", 1, "flac", 1000 + ver)], t.spark_schema())
        t.upsert(up, key_cols=["clip_id"])
    back = t.read(spark)
    assert back.count() == 100
    assert back.filter("clip_id = 'clip-5'").first()["dur_ms"] == 1003


def test_equality_delete_applies_across_rename(spark, clips_df, tmp_path):
    """Delete keys written under the OLD column name still apply after a
    rename — resolution is by field-id, not name."""
    t = _make(spark, clips_df, tmp_path)
    t.delete_equality(
        spark.createDataFrame([("clip-10",)], "clip_id string"))
    t.update_schema(rename={"clip_id": "clip_uid"})
    back = t.read(spark)
    assert "clip_uid" in back.columns
    assert back.count() == 99
    assert back.filter("clip_uid = 'clip-10'").count() == 0


def test_eq_delete_file_is_spec_shaped(spark, clips_df, tmp_path):
    t = _make(spark, clips_df, tmp_path)
    t.delete_equality(spark.createDataFrame([("clip-1",)], "clip_id string"))
    snap = t.snapshots()[-1]
    mls = t._read_manifest_list(snap["manifest-list"])
    del_manifests = [m for m in mls if m["content"] == 1]
    assert len(del_manifests) == 1
    entries = t._read_manifest_full(del_manifests[0]["manifest_path"])[1]
    dfile = entries[0]["data_file"]
    assert dfile["content"] == 2
    assert dfile["equality_ids"] == [1]  # clip_id is field-id 1
    assert os.path.exists(t._local(dfile["file_path"]))


def test_positional_and_equality_deletes_compose(spark, clips_df, tmp_path):
    t = _make(spark, clips_df, tmp_path)
    t.delete_where(spark, "dur_ms < 150")  # positional: clip-0..4 -> 5 rows? 100,110,..140
    n_pos = clips_df.filter("dur_ms < 150").count()
    t.delete_equality(
        spark.createDataFrame([("clip-80",), ("clip-81",)], "clip_id string"))
    back = t.read(spark)
    assert back.count() == 100 - n_pos - 2
    assert back.filter("dur_ms < 150 OR clip_id IN ('clip-80','clip-81')") \
        .count() == 0
