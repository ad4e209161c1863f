"""Golden runs of the keyed per-check jobs: uniqueness, referential
integrity and transcript equality.

The every-family golden (test_family_golden) has no orphan repeated past
the violation cap and no per-partition orphans, so the reference sample
and its partition rollup never run there. This contract fails every keyed
check on a small fixture with ``violation_cap`` 3:

- single-key, composite-key and ``filter:``-scoped ``unique``;
- ``references`` with the orphan ``zz`` on 6 rows over both partitions
  (4 in ``b0``), run in ``reference_mode`` exact and approx;
- transcript equality with mismatches in both partitions;
- a ``group`` count threshold and a ``minimum`` bound past the cap.

Each mode runs flat and partitioned by ``bucket``; every ``Run`` check,
every results row and every violation row in order is pinned in
``tests/golden/keyed_run.json``. Regenerate it with
``PYTHONPATH=. python tests/test_keyed_golden.py`` only when a change is
meant to alter what these checks report.
"""

import json
import os

import pytest

from dcspark import DataContractSpecification, ValidationConfig, validate
from test_family_golden import _snapshot

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "keyed_run.json")

CONTRACT = """
id: keyed
info: {title: keyed checks, version: 1.0.0}
models:
  t:
    primaryKey: [a, b]
    fields:
      a: {type: string}
      b: {type: integer}
      k: {type: string, unique: true, references: p.id}
      code: {type: string, unique: true, filter: "status = 'active'"}
      status: {type: string}
      txt: {type: string}
      v: {type: integer, minimum: 0}
      bucket: {type: string}
    quality:
      - {type: audio, invariant: transcript-equality, ref: r, key: a,
         column: txt, ref_column: text}
      - {type: group, column: a, metric: count, mustBeLessThan: 2}
  p:
    fields:
      id: {type: string}
  r:
    fields:
      a: {type: string}
      text: {type: string}
"""

T_ROWS = [
    ("a1", 1, "k1", "c1", "active", "t1", 1, "b0"),
    ("a1", 1, "k1", "c1", "active", "t1", 2, "b0"),
    ("a2", 1, "k2", "c2", "inactive", "WRONG", -1, "b0"),
    ("a3", 2, "zz", "c2", "inactive", "t3", -2, "b0"),
    ("a4", 2, "zz", "c4", "active", "t4", -3, "b0"),
    ("a5", 3, "zz", "c5", "active", None, 5, "b0"),
    ("a10", 5, "zz", "c10", "active", "t10", 10, "b0"),
    ("a6", 3, "zz", "c6", "active", "t6", -4, "b1"),
    ("a7", 3, "zz", "c7", "active", "WRONG7", 7, "b1"),
    ("a8", 4, "yy", "c8", "active", "t8", 8, "b1"),
    ("a9", 4, None, "c8", "active", "t9", -5, "b1"),
    ("a9", 4, "k3", "c9", "active", "WRONG9", 9, "b1"),
    ("a1", 2, "k4", None, None, "t1", 0, "b1"),
]
T_DDL = ("a string, b int, k string, code string, status string, txt string, "
         "v int, bucket string")

#: ValidationConfig fields per pinned configuration
CONFIGS = {
    "flat": {},
    "flat_approx": {"reference_mode": "approx"},
    "partitioned": {"partition_col": "bucket"},
    "partitioned_approx": {"partition_col": "bucket", "reference_mode": "approx"},
}


def _tables(spark):
    return {
        "t": spark.createDataFrame(T_ROWS, T_DDL).repartition(2, "bucket"),
        "p": spark.createDataFrame([(f"k{i}",) for i in range(1, 6)], "id string"),
        "r": spark.createDataFrame([(f"a{i}", f"t{i}") for i in range(1, 11)],
                                   "a string, text string"),
    }


def golden_runs(spark):
    """{config name: snapshot} for every pinned configuration."""
    tables = _tables(spark)
    spec = DataContractSpecification.from_string(CONTRACT)
    return {name: _snapshot(validate(spark, spec, tables,
                                     ValidationConfig(violation_cap=3, **fields)))
            for name, fields in CONFIGS.items()}


@pytest.fixture(scope="module")
def runs(spark):
    return golden_runs(spark)


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN, encoding="utf-8") as f:
        return json.load(f)


@pytest.mark.parametrize("config", sorted(CONFIGS))
def test_run_checks_match_golden(runs, golden, config):
    got, want = runs[config], golden[config]
    assert got["result"] == want["result"]
    assert [c["key"] for c in got["checks"]] == [c["key"] for c in want["checks"]]
    for g, w in zip(got["checks"], want["checks"]):
        assert g == w, g["key"]


@pytest.mark.parametrize("config", sorted(CONFIGS))
def test_results_rows_match_golden(runs, golden, config):
    assert runs[config]["results"] == golden[config]["results"]


@pytest.mark.parametrize("config", sorted(CONFIGS))
def test_violation_rows_match_golden(runs, golden, config):
    assert runs[config]["violations"] == golden[config]["violations"]


def test_fixture_fails_every_keyed_check(golden):
    """The pin guards the keyed paths only if each of them fails, samples
    past the cap and, partitioned, reports more than one partition."""
    keyed = ("field_unique", "field_reference", "composite_key_unique")
    for config in CONFIGS:
        checks = {c["key"]: c for c in golden[config]["checks"]}
        for key, c in checks.items():
            if key.endswith(keyed) or "quality" in key:
                assert c["result"] == "failed", (config, key)
        vio = golden[config]["violations"]
        ref = [v for v in vio if v[1] == "t__k__field_reference"]
        assert len(ref) == 3
        if config.startswith("partitioned"):
            parts = {r["partition_id"] for r in golden[config]["results"]
                     if r["check_key"] == "t__k__field_reference"}
            assert parts == {None, "b0", "b1"}


if __name__ == "__main__":
    from pyspark.sql import SparkSession

    session = (SparkSession.builder.master("local[4]")
               .config("spark.sql.shuffle.partitions", "4")
               .config("spark.sql.adaptive.enabled", "true")
               .config("spark.ui.enabled", "false")
               .config("spark.sql.session.timeZone", "UTC").getOrCreate())
    with open(GOLDEN, "w", encoding="utf-8") as f:
        json.dump(golden_runs(session), f, indent=1, sort_keys=True)
        f.write("\n")
