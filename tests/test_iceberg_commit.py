"""Every Iceberg table change commits against the metadata version it read.

Each case below lets a second `IcebergTable` handle append and commit right
after the operation under test has read the table's version. The operation
must then raise `CommitConflict` instead of committing a successor built
from the stale metadata, and the racer's snapshot must still be in the
table with its rows.

The source guard pins the shape that makes this hold: `_commit_metadata`
has one caller besides `create`, and no call re-reads the version
(`expected_version=self._version()`) at commit time.
"""

import ast
import inspect
import os
import time

import pytest
from pyspark.sql import functions as F

from dcspark import iceberg
from dcspark.iceberg import CommitConflict, IcebergTable

RACER = list(range(1000, 1010))


def _df(spark, lo, hi):
    return spark.range(lo, hi, 1, 2).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("val"))


@pytest.fixture()
def table(spark, tmp_path):
    """Two appended snapshots (0..49, 50..99) and an `audit` branch one
    append (100..109) ahead of main."""
    t = IcebergTable.create(str(tmp_path / "t"), _df(spark, 0, 1).schema)
    t.append(_df(spark, 0, 50))
    t.append(_df(spark, 50, 100))
    t.create_branch("audit")
    t.append(_df(spark, 100, 110), branch="audit")
    return t


def _race_after_read(spark, t, monkeypatch):
    """Make the next version read of ``t`` return, then let a second
    handle append RACER to main. Returns the dict the racer's snapshot id
    lands in."""
    won = {}
    read_version = t._version

    def version():
        v = read_version()
        if not won:
            won["id"] = IcebergTable(t.location).append(
                _df(spark, RACER[0], RACER[-1] + 1))
        return v

    monkeypatch.setattr(t, "_version", version)
    return won


def _keys(df):
    return sorted(r["k"] for r in df.collect())


OPERATIONS = {
    "append": lambda spark, t: t.append(_df(spark, 200, 210)),
    "overwrite": lambda spark, t: t.overwrite(_df(spark, 200, 210)),
    "delete_where": lambda spark, t: t.delete_where(spark, "k < 10"),
    "delete_equality": lambda spark, t: t.delete_equality(
        spark.createDataFrame([(3,)], "k long")),
    "upsert": lambda spark, t: t.upsert(_df(spark, 0, 5), ["k"]),
    "compact": lambda spark, t: t.compact(spark),
    "fast_forward": lambda spark, t: t.fast_forward("main", "audit"),
    "expire_snapshots": lambda spark, t: t.expire_snapshots(keep_last=1),
    "update_schema": lambda spark, t: t.update_schema(add=[("extra", "int")]),
    "update_partition_spec": lambda spark, t: t.update_partition_spec(
        [("k", "bucket[4]")]),
    "replace_sort_order": lambda spark, t: t.replace_sort_order(["k"]),
    "create_tag": lambda spark, t: t.create_tag("v1"),
    "drop_ref": lambda spark, t: t.drop_ref("audit"),
}


@pytest.mark.parametrize("op", sorted(OPERATIONS))
def test_concurrent_commit_raises_and_survives(spark, table, monkeypatch, op):
    before = [s["snapshot-id"] for s in table.snapshots()]
    won = _race_after_read(spark, table, monkeypatch)
    with pytest.raises(CommitConflict):
        OPERATIONS[op](spark, table)
    assert "id" in won
    fresh = IcebergTable(table.location)
    assert fresh.current_snapshot_id() == won["id"]
    racer_rows = _keys(fresh.read(spark, snapshot_id=won["id"]))
    assert racer_rows == list(range(100)) + RACER
    # nothing the table referenced was deleted or detached by the loser
    assert [s["snapshot-id"] for s in fresh.snapshots()] == before + [won["id"]]
    assert _keys(fresh.read(spark, snapshot_id=before[0])) == list(range(50))
    assert _keys(fresh.read(spark, ref="audit")) == list(range(110))
    # the loser's manifest list and manifests are gone with it
    assert _metadata_avro(fresh) == _referenced_avro(fresh)


def _metadata_avro(t):
    return {n for n in os.listdir(t.meta_dir) if n.endswith(".avro")}


def _referenced_avro(t):
    """Every manifest list and manifest some snapshot of ``t`` reaches."""
    out = set()
    for s in t.snapshots():
        out.add(os.path.basename(s["manifest-list"]))
        out |= {os.path.basename(m["manifest_path"])
                for m in t._read_manifest_list(s["manifest-list"])}
    return out


def test_every_commit_logs_its_base_metadata(spark, table):
    md0 = table.metadata()
    v0 = table._version()
    t0 = int(time.time() * 1000)
    table.create_tag("v1")
    md1 = table.metadata()
    assert md1["metadata-log"] == md0["metadata-log"] + [
        {"timestamp-ms": md0["last-updated-ms"],
         "metadata-file": "file://" + table._meta_path(v0)}]
    assert md1["last-updated-ms"] >= t0
    # a ref change does not move main, so the snapshot log is unchanged
    assert md1["snapshot-log"] == md0["snapshot-log"]
    table.fast_forward("main", "audit")
    md2 = table.metadata()
    assert md2["snapshot-log"][-1] == {
        "timestamp-ms": md2["last-updated-ms"],
        "snapshot-id": md2["refs"]["audit"]["snapshot-id"]}
    assert md2["current-snapshot-id"] == md2["refs"]["audit"]["snapshot-id"]


# ---------------------------------------------------------------------------
# source guard: one commit path, linked against the version read
# ---------------------------------------------------------------------------

def commit_metadata_calls(source):
    """[(method, rereads)] for every ``_commit_metadata`` call inside the
    ``IcebergTable`` class of ``source``; ``rereads`` is True when the call
    passes ``self._version()`` as ``expected_version``."""
    out = []
    for cls in ast.parse(source).body:
        if not (isinstance(cls, ast.ClassDef) and cls.name == "IcebergTable"):
            continue
        for fn in cls.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if not (isinstance(node, ast.Call)
                        and getattr(node.func, "attr", None)
                        == "_commit_metadata"):
                    continue
                ev = next((k.value for k in node.keywords
                           if k.arg == "expected_version"),
                          node.args[1] if len(node.args) > 1 else None)
                rereads = (isinstance(ev, ast.Call)
                           and getattr(ev.func, "attr", None) == "_version")
                out.append((fn.name, rereads))
    return out


def test_guard_detects_the_old_shape():
    src = '''
class IcebergTable:
    def create(cls):
        t._commit_metadata(md, expected_version=0)
    def _apply_commit(self, md):
        v = self._version()
        self._commit_metadata(md, expected_version=v)
    def drop_ref(self, name):
        self._commit_metadata(new_md, expected_version=self._version())
    def fast_forward(self, a, b):
        self._commit_metadata(new_md, self._version())
'''
    assert commit_metadata_calls(src) == [
        ("create", False), ("_apply_commit", False), ("drop_ref", True),
        ("fast_forward", True)]


def test_one_commit_path():
    calls = commit_metadata_calls(inspect.getsource(iceberg))
    assert calls == [("create", False), ("_commit", False)]
