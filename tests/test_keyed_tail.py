"""Per-check jobs share one count-and-sample tail.

A per-check job builds the frame of its violating rows and hands it to
``Validator._count_and_sample``, which persists it, takes the metric, the
per-partition metrics and the capped sample, and releases the frame and
what the operator that built it holds. The AST guard keeps persist, limit
and the violation cap out of every per-check compute method; the other
tests pin the broadcast release and nested key columns.
"""

import ast
import inspect

import pyspark
import pytest

from dcspark import DataContractSpecification, ValidationConfig, validate
from dcspark import engine
from dcspark.engine import FAMILIES, PER_CHECK
from dcspark.run_model import ResultEnum

#: attributes only the shared tail may touch
TAIL_ATTRS = {"persist", "unpersist", "limit", "violation_cap"}


def tail_violations(src, computes):
    """Names of the ``computes`` methods in ``src`` that call persist,
    unpersist or limit, or read ``violation_cap``."""
    found = set()
    for node in ast.walk(ast.parse(src)):
        if not isinstance(node, ast.FunctionDef) or node.name not in computes:
            continue
        if any(isinstance(sub, ast.Attribute) and sub.attr in TAIL_ATTRS
               for sub in ast.walk(node)):
            found.add(node.name)
    return sorted(found)


def _per_check_computes():
    return {f.compute for f in FAMILIES if f.jobs == PER_CHECK}


def test_guard_detects_the_old_shapes():
    src = '''
class Validator:
    def _unique_compute(self, model_name, df, chk):
        dup = dup.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            metric = float(dup.count())
        finally:
            dup.unpersist()
    def _reference_compute(self, model_name, df, chk):
        cap = self.config.violation_cap
    def _join_equality_compute(self, model_name, df, chk):
        rows = mismatch.orderBy("k").limit(3).collect()
    def _group_compute(self, model_name, df, chk):
        return self._count_and_sample(grouped, chk)
    def _count_and_sample(self, frame, chk):
        frame = frame.persist()
        return frame.limit(self.config.violation_cap).collect()
'''
    assert tail_violations(src, _per_check_computes()) == [
        "_join_equality_compute", "_reference_compute", "_unique_compute"]


def test_per_check_computes_keep_only_their_violating_frame():
    computes = _per_check_computes()
    assert {"_unique_compute", "_reference_compute",
            "_join_equality_compute"} <= computes
    assert tail_violations(inspect.getsource(engine), computes) == []


BROADCAST_CONTRACT = """
id: bloom-release
models:
  t:
    fields:
      a: {type: string, references: p.k}
      b: {type: string, references: p.k}
  p:
    fields:
      k: {type: string}
"""


def test_approx_reference_destroys_its_broadcast_once(spark, monkeypatch):
    calls = []
    destroy = pyspark.Broadcast.destroy

    def counting(self, *args, **kwargs):
        calls.append(self)
        return destroy(self, *args, **kwargs)

    monkeypatch.setattr(pyspark.Broadcast, "destroy", counting)
    child = spark.createDataFrame([("k1", "k1"), ("k2", "orphan")], "a string, b string")
    parent = spark.createDataFrame([("k1",), ("k2",)], "k string")
    res = validate(spark, DataContractSpecification.from_string(BROADCAST_CONTRACT),
                   {"t": child, "p": parent},
                   ValidationConfig(reference_mode="approx", parallel_jobs=1))
    by_key = {c.key: c for c in res.run.checks}
    assert by_key["t__a__field_reference"].result == ResultEnum.passed
    assert by_key["t__b__field_reference"].result == ResultEnum.failed
    assert len(calls) == 2
    assert len({id(b) for b in calls}) == 2


NESTED_CONTRACT = """
id: nested-keys
models:
  t:
    fields:
      k: {type: string, references: p.meta.id}
      info:
        type: object
        fields:
          txt: {type: string}
    quality:
      - {type: audio, invariant: transcript-equality, ref: p, key: k,
         column: info.txt, ref_column: meta.text}
  p:
    fields:
      k: {type: string}
      meta:
        type: object
        fields:
          id: {type: string}
          text: {type: string}
"""


@pytest.mark.parametrize("mode", ["exact", "approx"])
def test_nested_parent_and_reference_columns_are_checked(spark, mode):
    child = spark.createDataFrame(
        [("x1", ("one",)), ("x2", ("WRONG",)), ("orphan", ("three",))],
        "k string, info struct<txt string>")
    parent = spark.createDataFrame(
        [("x1", ("x1", "one")), ("x2", ("x2", "two"))],
        "k string, meta struct<id string, text string>")
    res = validate(spark, DataContractSpecification.from_string(NESTED_CONTRACT),
                   {"t": child, "p": parent},
                   ValidationConfig(reference_mode=mode))
    by_key = {c.key: c for c in res.run.checks}
    ref = by_key["t__k__field_reference"]
    assert ref.result == ResultEnum.failed, ref.reason
    assert ref.diagnostics["metric"] == 1.0
    eq = next(c for c in res.run.checks if c.type == "transcript_equality")
    assert eq.result == ResultEnum.failed, eq.reason
    assert eq.diagnostics["metric"] == 1.0
    vio = {(r["check_key"], r["clip_id"], r["observed"], r["expected"])
           for r in res.violations.collect()}
    assert ("t__k__field_reference", "orphan", "orphan", "exists in p.meta.id") in vio
    assert (eq.key, "x2", "WRONG", "ref: two") in vio
