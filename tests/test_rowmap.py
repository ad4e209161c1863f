"""The per-row Arrow adapter (dcspark/rowmap.py) every (id, bytes) decode
pass runs on: error rows, fan-out order, NULL payloads, 64-bit columns, and a
source guard that keeps the decode passes on it."""

import ast
import os
import struct
import zlib

import pytest

from dcspark.rowmap import DECODE_ERRORS, map_payloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DDL = "id string, n int, h long, decode_error string"


def _frame(spark, rows):
    # one partition: output order is the input order
    return spark.createDataFrame(rows, "key string, payload binary").coalesce(1)


@pytest.mark.parametrize("exc", DECODE_ERRORS,
                         ids=lambda e: f"{e.__module__}.{e.__name__}")
def test_decode_error_is_one_row_with_id_and_nulls(spark, exc):
    def fn(raw):
        if bytes(raw) == b"bad":
            raise exc("broken payload")
        return [{"n": 1, "h": 7}, {"n": 2, "h": 8}]

    df = _frame(spark, [("a", b"ok"), ("b", b"bad"), ("c", b"ok")])
    rows = [tuple(r) for r in map_payloads(df, "key", "payload", DDL, fn).collect()]
    assert rows == [("a", 1, 7, None), ("a", 2, 8, None),
                    ("b", None, None, "broken payload"),
                    ("c", 1, 7, None), ("c", 2, 8, None)]


def test_zero_one_and_n_rows_keep_input_order(spark):
    def fn(raw):
        return [{"n": i} for i in range(len(raw))]

    df = _frame(spark, [("three", b"xyz"), ("none", b""), ("one", b"x"),
                        ("two", b"xy")])
    rows = [(r["id"], r["n"]) for r in
            map_payloads(df, "key", "payload", DDL, fn).collect()]
    assert rows == [("three", 0), ("three", 1), ("three", 2), ("one", 0),
                    ("two", 0), ("two", 1)]
    # a single dict is one row
    one = map_payloads(df, "key", "payload", DDL, lambda raw: {"n": len(raw)})
    assert [(r["id"], r["n"]) for r in one.collect()] == [
        ("three", 3), ("none", 0), ("one", 1), ("two", 2)]


def test_null_payload_reaches_fn_as_none(spark):
    def fn(raw):
        if raw is None:
            raise ValueError("null payload")
        return {"n": int(raw.sum())}

    df = _frame(spark, [("a", None), ("b", b"\x01\x02"), ("c", None)])
    rows = [tuple(r) for r in map_payloads(df, "key", "payload", DDL, fn).collect()]
    assert rows == [("a", None, None, "null payload"), ("b", 3, None, None),
                    ("c", None, None, "null payload")]


def test_64_bit_hash_next_to_error_row_keeps_every_bit(spark):
    big = [(1 << 63) - 1, -(1 << 63), (1 << 62) + 1, -3]

    def fn(raw):
        if raw is None:
            raise struct.error("unpack requires a buffer of 13 bytes")
        return [{"h": h} for h in big]

    df = _frame(spark, [("a", b"x"), ("b", None)])
    rows = map_payloads(df, "key", "payload", DDL, fn).collect()
    assert [r["h"] for r in rows] == big + [None]
    assert rows[-1]["decode_error"] == "unpack requires a buffer of 13 bytes"


def test_ddl_without_decode_error_and_id_cast(spark):
    """The audio_feature_frame shape: no decode_error column, so a failing
    row is the id with NULL features; a non-string id is cast to string."""
    def fn(raw):
        if raw is None:
            raise zlib.error("corrupt")
        return {"x": float(len(raw))}

    df = spark.createDataFrame([(1, b"ab"), (2, None)],
                               "key long, payload binary").coalesce(1)
    out = map_payloads(df, "key", "payload", "clip_id string, x double", fn)
    assert out.columns == ["clip_id", "x"]
    assert [tuple(r) for r in out.collect()] == [("1", 2.0), ("2", None)]


def test_with_id_passes_the_row_id(spark):
    df = _frame(spark, [("a", b""), ("bb", b"")])
    out = map_payloads(df, "key", "payload", DDL,
                       lambda raw, rid: {"n": len(rid)}, with_id=True)
    assert [(r["id"], r["n"]) for r in out.collect()] == [("a", 1), ("bb", 2)]


def test_other_errors_fail_the_task(spark):
    def fn(raw):
        raise KeyError("a bug, not a bad payload")

    df = _frame(spark, [("a", b"x")])
    with pytest.raises(Exception, match="a bug, not a bad payload"):
        map_payloads(df, "key", "payload", DDL, fn).collect()


# ---------------------------------------------------------------------------
# source guard: the decode passes stay on the adapter
# ---------------------------------------------------------------------------

def _calls(module):
    """[(enclosing top-level function, called name)] of dcspark/<module>.py."""
    with open(os.path.join(ROOT, "dcspark", module + ".py"), encoding="utf-8") as f:
        tree = ast.parse(f.read())
    out = []
    for top in tree.body:
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                fn = node.func
                name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
                out.append((getattr(top, "name", None), name))
    return out


def test_binary_views_only_in_adapter_and_aggregating_passes():
    modules = [os.path.splitext(f)[0] for f in
               os.listdir(os.path.join(ROOT, "dcspark")) if f.endswith(".py")]
    sites = {(m, top) for m in modules for top, name in _calls(m)
             if name == "_binary_views"}
    assert sites == {("rowmap", "map_payloads"), ("audio", "_eval_batch"),
                     ("audioops", "audio_census")}


@pytest.mark.parametrize("module", ["audioops", "audiosem", "audiofp",
                                    "imagefp", "multimodal"])
def test_decode_modules_do_not_call_map_in_pandas(module):
    assert [top for top, name in _calls(module) if name == "mapInPandas"] == []
