"""Distribution-drift checks (KS, PSI) against a reference snapshot.

Engine extension (SURVEY.md §2.5). Both statistics are computed against a
*reference snapshot* (FIXTURES.md §3 ``ref_stats``): the snapshot is built once
from a reference sample with ``build_ref_stats`` (approxQuantile = Spark's
Greenwald-Khanna sketch, the t-digest-equivalent path). Evaluating every drift
check of a table then costs ONE narrow bucket job of its own
(``drift_bucket_rows``), run beside the engine's shared multi-aggregate scan:
each value gets a grid bucket |{g in grid : g < value}| from one binary search
(``grid_buckets``), and a groupBy(check, bucket) count ships at most
checks x (grid + 1) rows per input partition, whatever the table size. Its
per-bucket counts fold into the scan's per-partition metric rows:

- KS: current CDF at the reference quantile grid, ``count(col <= q_i)`` as
  cumulative bucket counts; statistic = sup_i |F_cur(q_i) - p_i|.
- PSI: current counts per reference bin (edge_k < col <= edge_k+1);
  statistic = sum (p - q) * ln(p / q) with epsilon smoothing.

The streaming path (``drift_agg_exprs``) keeps the conditional-sum form.
"""

from __future__ import annotations

import bisect
import math
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


DEFAULT_QUANTILES = 199
DEFAULT_BINS = 20
EPS = 1e-6
# a NULL partition value's key: Hive's name for it, which Spark itself reads
# back as NULL from a partition directory, so no stored value spells it
NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"

REF_STATS_DDL = (
    "column string, bin_edges array<double>, bin_probs array<double>, "
    "quantiles array<double>, categories array<string>, n bigint"
)


def partition_key(col: str) -> Column:
    """A partition's key: its value as a string, NULL as ``NULL_PARTITION``.
    The one spelling of a partition in scans, results, violations and the
    checkpoint manifest; applying it to a key column returns that key."""
    return F.coalesce(F.col(col).cast("string"), F.lit(NULL_PARTITION))


def build_ref_stats(
    df: DataFrame,
    columns: List[str],
    n_quantiles: int = DEFAULT_QUANTILES,
    n_bins: int = DEFAULT_BINS,
    relative_error: float = 0.001,
) -> Dict[str, dict]:
    """Reference snapshot per column: quantile grid (KS) + bin edges/probs (PSI).

    Two passes total regardless of column count: one approxQuantile sketch pass,
    one aggregate pass for exact bin counts at the sketched edges.
    """
    probs = [(i + 1) / (n_quantiles + 1) for i in range(n_quantiles)]
    edge_probs = [i / n_bins for i in range(n_bins + 1)]
    quants = df.stat.approxQuantile(columns, sorted(set(probs + edge_probs)), relative_error)
    grid_all = sorted(set(probs + edge_probs))

    stats: Dict[str, dict] = {}
    agg_cols = [F.count(F.lit(1)).alias("__n")]
    edges_by_col: Dict[str, List[float]] = {}
    for col, qvals in zip(columns, quants):
        if not qvals:
            # approxQuantile returns [] for an all-NULL column / empty frame —
            # mirror the categorical twin's clear error instead of a KeyError
            raise ValueError(
                f"build_ref_stats: no non-null values in reference column "
                f"{col!r}")
        by_p = dict(zip(grid_all, qvals))
        quantile_grid = [by_p[p] for p in probs]
        raw_edges = [by_p[p] for p in edge_probs]
        # dedupe edges (heavy ties collapse bins) while keeping order
        edges: List[float] = []
        for e in raw_edges:
            if not edges or e > edges[-1]:
                edges.append(e)
        edges_by_col[col] = edges
        stats[col] = {"quantiles": quantile_grid, "bin_edges": edges}
        for k in range(len(edges) + 1):
            agg_cols.append(_bin_count_expr(col, edges, k).alias(f"__{col}__bin{k}"))

    row = df.agg(*agg_cols).first().asDict()
    n = row["__n"]
    for col in columns:
        edges = edges_by_col[col]
        counts = [row[f"__{col}__bin{k}"] for k in range(len(edges) + 1)]
        total = sum(counts) or 1
        stats[col]["bin_probs"] = [c / total for c in counts]
        stats[col]["n"] = n
    return stats


def _bin_count_expr(col: str, edges: List[float], k: int) -> F.Column:
    """Count of non-null values in bin k: (-inf, e0], (e0, e1], ..., (e_last, inf)."""
    c = F.col(col)
    if k == 0:
        pred = c <= F.lit(edges[0])
    elif k == len(edges):
        pred = c > F.lit(edges[-1])
    else:
        pred = (c > F.lit(edges[k - 1])) & (c <= F.lit(edges[k]))
    return F.coalesce(F.sum(F.when(c.isNotNull() & pred, 1).otherwise(0)), F.lit(0))


def ref_stats_to_df(spark, stats: Dict[str, dict]) -> DataFrame:
    rows = [
        {
            "column": col,
            "bin_edges": [float(x) for x in s.get("bin_edges", [])],
            "bin_probs": [float(x) for x in s["bin_probs"]],
            "quantiles": [float(x) for x in s.get("quantiles", [])],
            "categories": ([str(x) for x in s["categories"]]
                           if "categories" in s else None),
            "n": int(s["n"]),
        }
        for col, s in stats.items()
    ]
    return spark.createDataFrame(rows, schema=REF_STATS_DDL)


def ref_stats_from_df(df: DataFrame) -> Dict[str, dict]:
    out: Dict[str, dict] = {}
    for r in df.collect():
        s = {
            "bin_edges": list(r["bin_edges"] or []),
            "bin_probs": list(r["bin_probs"]),
            "quantiles": list(r["quantiles"] or []),
            "n": r["n"],
        }
        # older snapshots predate the categories column
        if "categories" in r.asDict() and r["categories"] is not None:
            s["categories"] = list(r["categories"])
        out[r["column"]] = s
    return out


def build_categorical_ref_stats(
    df: DataFrame,
    columns: List[str],
    max_categories: int = 50,
) -> Dict[str, dict]:
    """Reference snapshot for CATEGORICAL columns: the top ``max_categories``
    values (by count desc, value asc — deterministic under ties) plus an
    implicit OTHER bucket absorbing the tail and every value unseen in the
    reference. Snapshot shape reuses ``bin_probs`` (len = categories + 1,
    OTHER last), so drift folding, checkpoint merging, and the PSI statistic
    are shared with the numeric path unchanged. One narrow
    groupBy-per-column job over a column-pruned scan; shuffle volume is the
    distinct-value count, never the table."""
    stats: Dict[str, dict] = {}
    for col in columns:
        counted = (
            df.select(col).where(F.col(col).isNotNull())
            .groupBy(col).agg(F.count(F.lit(1)).alias("c"))
            # the tiny distinct-value frame feeds two actions (top-k + total);
            # persist so the table is scanned once, not twice per column
            .persist()
        )
        try:
            rows = counted.orderBy(
                F.col("c").desc(), F.col(col).cast("string").asc()
            ).limit(max_categories).collect()
            total = counted.agg(F.coalesce(F.sum("c"), F.lit(0))).first()[0] or 0
        finally:
            counted.unpersist()
        if total == 0:
            raise ValueError(
                f"cannot snapshot categorical column {col!r}: no non-null "
                "values in the reference sample")
        cats = [str(r[col]) for r in rows]
        head = [int(r["c"]) for r in rows]
        other = int(total) - sum(head)
        stats[col] = {
            "categories": cats,
            "bin_probs": [c / total for c in head] + [other / total],
            "n": int(total),
        }
    return stats


def cat_bucket_expr(col: str, categories: List[str]) -> F.Column:
    """Category bucket index: position in the snapshot's category list, or
    len(categories) (the OTHER bucket) for values outside it. One
    array_position over a literal array — codegen-friendly at any domain
    size."""
    arr = F.array(*[F.lit(c) for c in categories])
    pos = F.array_position(arr, F.col(col).cast("string"))
    return F.when(pos > 0, pos - 1).otherwise(F.lit(len(categories)))


def _grid_splits(grid: List[float]) -> Tuple[List[float], List[int]]:
    """Bucketizer splits for one grid, and the grid bucket each output index
    stands for.

    The grid bucket of a value v is |{g in grid : g < v}| under Spark's
    ordering (NaN greatest, -0.0 == 0.0), duplicates included. For an
    ascending grid the set {j : g[j] < v} is a prefix, so cumulative bucket
    counts reproduce the per-grid-point ``count(v <= g_i)`` sums exactly.
    Bucketizer's intervals are closed on the left, so it runs on f = -v over
    the negated, deduplicated grid: |{g < v}| = n - |{-g <= f}|, which is
    constant on each interval [s_i, s_i+1). Output indices past the
    intervals: len(splits) - 1 is NaN (the "keep" bucket, above every grid
    point) and len(splits) is v = -inf (below every grid point; Bucketizer
    closes its last interval on the right too, so f = +inf would otherwise
    share it with a +inf split)."""
    neg = sorted(-float(g) + 0.0 for g in grid if not math.isnan(g))
    n = len(neg)
    splits = sorted(set(neg))
    if not splits or splits[0] != -math.inf:
        splits.insert(0, -math.inf)
    if splits[-1] != math.inf:
        splits.append(math.inf)
    if len(splits) < 3:  # Bucketizer's minimum; an extra split changes nothing
        splits.insert(1, 0.0)
    buckets = [n - bisect.bisect_right(neg, s) for s in splits[:-1]]
    return splits, buckets + [n, 0]


def grid_buckets(
    df: DataFrame,
    grids: List[Tuple[str, List[float]]],
    carry: Sequence[Column] = (),
) -> Tuple[DataFrame, List[List[int]]]:
    """The one drift bucket kernel: ``carry`` plus a column ``__gb{i}`` per
    ``grids[i] = (column, grid)`` holding a Bucketizer index, NULL for a NULL
    value; ``maps[i][int(index)]`` is the grid bucket (see _grid_splits).

    One multi-column Bucketizer: a JVM binary search per value, O(log grid),
    and no per-grid literals in the plan, since callers group by the raw
    index and map it on the driver. -0.0 becomes 0.0 before the search:
    Spark compares them equal, ``Arrays.binarySearch`` does not."""
    from pyspark.ml.feature import Bucketizer

    neg, split_lists, maps = [], [], []
    for i, (col, grid) in enumerate(grids):
        f = -F.col(col).cast("double")
        neg.append(F.when(f == 0.0, F.lit(0.0)).otherwise(f).alias(f"__gf{i}"))
        splits, buckets = _grid_splits(grid)
        split_lists.append(splits)
        maps.append(buckets)
    if not grids:
        return df.select(*carry), maps
    out = Bucketizer(
        splitsArray=split_lists, handleInvalid="keep",
        inputCols=[f"__gf{i}" for i in range(len(grids))],
        outputCols=[f"__gb{i}" for i in range(len(grids))],
    ).transform(df.select(*carry, *neg))
    return out.select(*out.columns[:len(carry)], *[
        F.when(F.col(f"__gf{i}") == math.inf, F.lit(float(len(s))))
        .otherwise(F.col(f"__gb{i}")).alias(f"__gb{i}")
        for i, s in enumerate(split_lists)
    ]), maps


def drift_grid(stats: dict, method: str) -> List[float]:
    return list(stats["quantiles"]) if method == "ks" else list(stats["bin_edges"])


def n_bins(stats: dict) -> int:
    """Bucket count for the psi paths: numeric edges + 1, or categories + 1
    (OTHER last) — always equal to len(bin_probs)."""
    return len(stats["bin_probs"])


def drift_aliases(prefix: str, stats: dict, method: str) -> List[str]:
    """All shared-row aliases this drift check produces (count + per-bucket)."""
    out = [f"{prefix}__count"]
    if method == "ks":
        out += [f"{prefix}__le{i}" for i in range(len(stats["quantiles"]))]
    else:
        out += [f"{prefix}__bin{k}" for k in range(n_bins(stats))]
    return out


def drift_bucket_rows(
    df,
    checks: List[dict],
    partition_col: Optional[str] = None,
) -> Dict[Optional[str], Dict[str, int]]:
    """ONE narrow job for every drift check on a table: per-row bucket index
    (explode over checks) -> groupBy(prefix, bucket) count.

    Shuffle volume is bounded by |checks| * (grid+1) rows per input partition
    (map-side partial aggregation), independent of table size — the
    10^12-row-safe shape. Returns {partition_id (str) or None: {alias: count}}
    with aliases identical to the old per-grid-point aggregate columns, so
    merge/checkpoint/statistic folding are unchanged.
    """
    carry: List[Column] = []
    if partition_col:
        # a Python-None key would collide with the no-partition sentinel
        # (those rows' counts would drop out of the global statistic)
        carry.append(partition_key(partition_col).alias("__part"))
    grids: List[Tuple[str, List[float]]] = []
    bucket_cols: List[Column] = []
    for k, chk in enumerate(checks):
        if "categories" in chk["stats"]:
            alias = f"__cb{k}"
            carry.append(F.when(
                F.col(chk["column"]).isNotNull(),
                cat_bucket_expr(chk["column"], chk["stats"]["categories"]),
            ).alias(alias))
        else:
            alias = f"__gb{len(grids)}"
            grids.append((chk["column"], drift_grid(chk["stats"], chk["method"])))
        bucket_cols.append(F.col(alias).cast("int"))
    bucketed, maps = grid_buckets(df, grids, carry)
    structs = [F.struct(F.lit(k).alias("k"), b.alias("b"))
               for k, b in enumerate(bucket_cols)]
    head = ["__part"] if partition_col else []
    ex = bucketed.select(*head, F.explode(F.array(*structs)).alias("kb")) \
        .select(*head, F.col("kb.k").alias("k"), F.col("kb.b").alias("b"))
    counted = ex.groupBy(*head, "k", "b").agg(F.count(F.lit(1)).alias("c")).collect()

    # grid checks' raw Bucketizer indices -> grid buckets, in check order
    grid_maps = iter(maps)
    to_bucket = [None if "categories" in chk["stats"] else next(grid_maps)
                 for chk in checks]
    out: Dict[Optional[str], Dict[str, int]] = {}
    for row in counted:
        part = row["__part"] if partition_col else None
        chk = checks[row["k"]]
        d = out.setdefault(part, {})
        prefix, method = chk["prefix"], chk["method"]
        b = row["b"]
        if b is None:  # null column values: counted nowhere (parity with <=-sums)
            continue
        if to_bucket[row["k"]] is not None:
            b = to_bucket[row["k"]][b]
        c = row["c"]
        d[f"{prefix}__count"] = d.get(f"{prefix}__count", 0) + c
        if method == "psi":
            key = f"{prefix}__bin{b}"
            d[key] = d.get(key, 0) + c
        else:
            # cumulative: bucket b contributes to every le{i} with i >= b
            m = len(chk["stats"]["quantiles"])
            for i in range(min(b, m), m):
                key = f"{prefix}__le{i}"
                d[key] = d.get(key, 0) + c
    # fill zeros so downstream folds never hit missing aliases
    for d in out.values():
        for chk in checks:
            for alias in drift_aliases(chk["prefix"], chk["stats"], chk["method"]):
                d.setdefault(alias, 0)
    if not out:
        zero = {}
        for chk in checks:
            for alias in drift_aliases(chk["prefix"], chk["stats"], chk["method"]):
                zero[alias] = 0
        out[None] = zero
    return out


def drift_agg_exprs(col: str, stats: dict, method: str, prefix: str) -> Dict[str, F.Column]:
    """Aggregate columns this drift check contributes to the shared scan."""
    out: Dict[str, F.Column] = {}
    c = F.col(col)
    out[f"{prefix}__count"] = F.coalesce(
        F.sum(F.when(c.isNotNull(), 1).otherwise(0)), F.lit(0)
    )
    if method == "ks":
        for i, q in enumerate(stats["quantiles"]):
            out[f"{prefix}__le{i}"] = F.coalesce(
                F.sum(F.when(c.isNotNull() & (c <= F.lit(float(q))), 1).otherwise(0)), F.lit(0)
            )
    elif method == "psi" and "categories" in stats:
        cats = stats["categories"]
        bucket = cat_bucket_expr(col, cats)
        for k in range(len(cats) + 1):
            out[f"{prefix}__bin{k}"] = F.coalesce(
                F.sum(F.when(c.isNotNull() & (bucket == k), 1).otherwise(0)),
                F.lit(0))
    elif method == "psi":
        edges = stats["bin_edges"]
        for k in range(len(edges) + 1):
            out[f"{prefix}__bin{k}"] = _bin_count_expr(col, edges, k)
    else:
        raise ValueError(f"unknown drift method: {method}")
    return out


def drift_statistic(row: dict, stats: dict, method: str, prefix: str) -> Optional[float]:
    """Fold the aggregate row into the final statistic (driver-side, O(grid))."""
    n_cur = row.get(f"{prefix}__count") or 0
    if n_cur == 0:
        return None
    if method == "ks":
        m = len(stats["quantiles"])
        ks = 0.0
        for i in range(m):
            p_ref = (i + 1) / (m + 1)
            p_cur = (row[f"{prefix}__le{i}"] or 0) / n_cur
            ks = max(ks, abs(p_cur - p_ref))
        return ks
    if method == "psi":
        cur_counts = [row[f"{prefix}__bin{k}"] or 0 for k in range(n_bins(stats))]
        return drift_statistic_from_counts(cur_counts, stats, "psi")
    raise ValueError(f"unknown drift method: {method}")


def drift_statistic_from_counts(
    counts: List[int], stats: dict, method: str
) -> Optional[float]:
    """Statistic from an explicit bin-count vector over ``stats['bin_edges']``.

    The decoded-audio-feature path: the engine's single decode pass emits
    per-task histogram rows, their summed counts land here. PSI is identical
    to :func:`drift_statistic`'s; KS here is the *binned* sup-distance over
    the bin boundaries (coarser than the quantile-grid KS on raw columns —
    resolution is 1/n_bins, fine for a drift alarm, documented)."""
    total = sum(counts)
    if total == 0:
        return None
    if method == "psi":
        psi = 0.0
        for q_ref, c in zip(stats["bin_probs"], counts):
            p = max(c / total, EPS)
            q = max(q_ref, EPS)
            psi += (p - q) * math.log(p / q)
        return psi
    if method == "ks":
        cp = cq = ks = 0.0
        for q_ref, c in zip(stats["bin_probs"], counts):
            cp += c / total
            cq += q_ref
            ks = max(ks, abs(cp - cq))
        return ks
    raise ValueError(f"unknown drift method: {method}")
