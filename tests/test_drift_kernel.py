"""Property test for the drift bucket kernel (drift.grid_buckets via
drift.drift_bucket_rows) against a pure-Python reference.

A value's grid bucket is |{g in grid : g < v}| under Spark's ordering: NaN is
greatest (and equal to itself) and -0.0 == 0.0. The KS aliases are the
cumulative counts of those buckets, the PSI aliases the per-bucket counts;
NULL values count nowhere.
"""

import math

from hypothesis import HealthCheck, given, settings, strategies as st

from dcspark import drift as drift_mod
from dcspark.engine import rows_frame

SMALL = settings(max_examples=25, deadline=None,
                 suppress_health_check=[HealthCheck.function_scoped_fixture])

INF, NAN = math.inf, math.nan
GRID_POINTS = [-INF, -2.5, -1.0, -0.0, 0.0, 0.5, 1.0, 3.0, 2.0 ** 53, INF, NAN]
DOUBLES = [None, NAN, INF, -INF, 0.0, -0.0, -2.5, -1.0, 0.5, 1.0, 2.0, 3.0,
           1e300, -1e-300]
INTS = {"int": [None, -(2 ** 31), -3, -1, 0, 1, 3, 2 ** 31 - 1],
        "bigint": [None, -(2 ** 63), -3, 0, 1, 3, 2 ** 53 + 1, 2 ** 63 - 1]}


def _spark_key(x: float):
    """Spark's sort order for doubles: NaN last, -0.0 == 0.0."""
    return (math.isnan(x), 0.0 if math.isnan(x) else x + 0.0)


def _less(g: float, v: float) -> bool:
    return _spark_key(g) < _spark_key(v)


def _reference(values, parts, grid):
    """{partition key: [count of v, per-bucket counts]} with grid buckets
    from the definition above."""
    out = {}
    for v, p in zip(values, parts):
        if v is None:
            continue
        b = sum(_less(g, float(v)) for g in grid)
        d = out.setdefault(p, [0] + [0] * (len(grid) + 1))
        d[0] += 1
        d[1 + b] += 1
    return out


@st.composite
def cases(draw):
    grid = sorted(draw(st.lists(st.sampled_from(GRID_POINTS), min_size=1,
                                max_size=12)), key=_spark_key)
    kind = draw(st.sampled_from(["double", "int", "bigint"]))
    pool = DOUBLES if kind == "double" else INTS[kind]
    values = draw(st.lists(st.sampled_from(pool), min_size=1, max_size=40))
    parts = draw(st.one_of(
        st.none(),
        st.lists(st.sampled_from([None, "a", "None"]),
                 min_size=len(values), max_size=len(values))))
    return grid, kind, values, parts


@SMALL
@given(case=cases())
def test_drift_buckets_match_python_reference(spark, case):
    grid, kind, values, parts = case
    df = rows_frame(spark, list(zip(values, parts or [None] * len(values))),
                    f"x {kind}, p string")
    checks = [
        {"prefix": "ks", "column": "x", "method": "ks",
         "stats": {"quantiles": grid}},
        {"prefix": "psi", "column": "x", "method": "psi",
         "stats": {"bin_edges": grid, "bin_probs": [0.0] * (len(grid) + 1)}},
    ]
    got = drift_mod.drift_bucket_rows(df, checks, "p" if parts else None)

    keys = [None if parts is None else
            (drift_mod.NULL_PARTITION if p is None else p)
            for p in (parts or [None] * len(values))]
    want = _reference(values, keys, grid)
    assert set(got) >= set(want)
    for part, row in got.items():
        counts = want.get(part, [0] * (len(grid) + 2))
        buckets = counts[1:]
        assert row["ks__count"] == row["psi__count"] == counts[0]
        assert [row[f"psi__bin{k}"] for k in range(len(grid) + 1)] == buckets
        assert [row[f"ks__le{i}"] for i in range(len(grid))] == [
            sum(buckets[:i + 1]) for i in range(len(grid))]
