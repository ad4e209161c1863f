"""Mergeable quantile sketches (t-digest) for percentile quality metrics.

The north-star architecture calls for approx quantiles via a quantile sketch
whose per-partition states merge losslessly on the driver, like the HLL
sketches behind ``unique_mode="approx"``. Spark's built-in
``percentile_approx`` (Greenwald-Khanna) has no driver-side merge surface, so
partitioned and checkpointed runs must recompute the global percentile in a
dedicated pass — and a RESUMED run re-reads every already-completed
partition. This module closes that gap with a from-scratch t-digest
(the merging variant with the k1 scale function of Dunning & Ertl,
"Computing Extremely Accurate Quantiles Using t-Digests", arXiv:1902.04023):

- per-task digests are built inside ONE column-pruned ``mapInArrow`` pass
  (vectorized numpy; the tiny (partition, column, digest) frame is all that
  moves to the driver — never the data);
- digests merge associatively on the driver (concatenate centroids,
  re-compress), so per-partition digests fold into the global quantile with
  zero extra scans;
- digests serialize to base64 (two float64 arrays) and persist in the
  checkpoint manifest, so a resumed run recovers completed partitions'
  quantile state without touching their data.

Determinism: compression sorts centroids with a stable mergesort and the
engine merges per-partition digests in sorted partition order, so a fresh run
and a resumed run produce bit-identical quantiles.

Parity note vs the reference (datacontract-cli): its quality metrics run
through soda-core/duckdb aggregates on a single node; a mergeable
distributed sketch has no counterpart there — this is north-star scale
machinery (BASELINE.json: "approx quantiles via t-digest").
"""

from __future__ import annotations

import base64
import math
from typing import Dict, Iterator, List, Optional, Sequence, Tuple

import numpy as np

DEFAULT_DELTA = 500  # compression: <= ~2*delta centroids, ~16 KB serialized


class TDigest:
    """Centroid arrays sorted by mean; weights are positive float64 counts."""

    __slots__ = ("delta", "means", "weights", "_dirty")

    def __init__(self, delta: int = DEFAULT_DELTA,
                 means: Optional[np.ndarray] = None,
                 weights: Optional[np.ndarray] = None):
        self.delta = int(delta)
        self.means = np.asarray([] if means is None else means, dtype=np.float64)
        self.weights = np.asarray([] if weights is None else weights, dtype=np.float64)
        self._dirty = len(self.means) > 1

    # -- construction -------------------------------------------------------

    @classmethod
    def of(cls, values: np.ndarray, delta: int = DEFAULT_DELTA) -> "TDigest":
        """Digest of a batch of values (NaNs dropped — SQL-NULL semantics)."""
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        d = cls(delta, v, np.ones(len(v), dtype=np.float64))
        d._compress()
        return d

    def add(self, values: np.ndarray) -> "TDigest":
        """Fold a batch of raw values into this digest (in place)."""
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if len(v):
            self.means = np.concatenate([self.means, v])
            self.weights = np.concatenate(
                [self.weights, np.ones(len(v), dtype=np.float64)])
            self._dirty = True
            # amortize: only re-compress once the buffer outgrows the target
            if len(self.means) > 8 * self.delta:
                self._compress()
        return self

    @staticmethod
    def merge(digests: Sequence["TDigest"], delta: Optional[int] = None) -> "TDigest":
        """Associative merge: concatenate centroids, one re-compression.
        Deterministic for a fixed input order (callers sort their keys)."""
        ds = [d for d in digests if len(d.means)]
        use_delta = delta or (ds[0].delta if ds else DEFAULT_DELTA)
        if not ds:
            return TDigest(use_delta)
        out = TDigest(
            use_delta,
            np.concatenate([d.means for d in ds]),
            np.concatenate([d.weights for d in ds]),
        )
        out._compress()
        return out

    # -- compression (merging t-digest, k1 scale) ---------------------------

    def _compress(self) -> None:
        """Merging compression, vectorized: group boundaries come from a
        searchsorted over the cumulative weight (a group absorbs points while
        cum[i] <= total * k_inv(k(q_start) + 1)), group sums from
        np.add.reduceat — O(centroids * log n) Python work instead of an
        O(n) interpreted loop, which matters when a driver merges
        corpus-scale digest sets (the oracle's zero-merge regime)."""
        n = len(self.means)
        if n <= 1 or not self._dirty:
            return
        self._dirty = False
        order = np.argsort(self.means, kind="mergesort")  # stable -> deterministic
        m = self.means[order]
        w = self.weights[order]
        cum = np.cumsum(w)
        total = float(cum[-1])
        # k-domain boundaries: item i may join the group starting at s iff
        # ks[i] <= ks[s-1] + 1 (k is monotone, so the group end is one
        # searchsorted). An item with ks[i] - ks[i-1] > 1 is FORCED to be a
        # singleton (it exceeds any group's budget on its own step) — runs of
        # forced items are skipped in bulk, so the zero-merge regime (every
        # step > 1, e.g. the weight-1 oracle digests) costs no Python loop.
        k0 = -self.delta / 4.0  # k(0)
        ks = (self.delta / (2.0 * math.pi)) * np.arcsin(
            np.clip(2.0 * cum / total - 1.0, -1.0, 1.0))
        prev = np.concatenate(([k0], ks[:-1]))
        forced = (ks - prev) > 1.0
        nonforced = np.flatnonzero(~forced)
        starts: List[int] = []
        s = 0
        while s < n:
            if forced[s]:
                j = int(np.searchsorted(nonforced, s))
                run_end = int(nonforced[j]) if j < len(nonforced) else n
                starts.extend(range(s, run_end))
                s = run_end
                continue
            starts.append(s)
            limit = (float(ks[s - 1]) if s > 0 else k0) + 1.0
            e = int(np.searchsorted(ks, limit, side="right")) - 1
            s = max(e, s) + 1
        idx = np.asarray(starts, dtype=np.intp)
        out_w = np.add.reduceat(w, idx)
        self.means = np.add.reduceat(m * w, idx) / out_w
        self.weights = out_w

    # -- queries ------------------------------------------------------------

    @property
    def total_weight(self) -> float:
        return float(self.weights.sum()) if len(self.weights) else 0.0

    def quantile(self, q: float) -> Optional[float]:
        """Estimate the q-quantile: linear interpolation between centroid
        midpoints (each centroid holds half its weight on each side). Exact
        whenever every centroid has weight 1 (n small vs delta)."""
        self._compress()
        n = len(self.means)
        if n == 0:
            return None
        if n == 1:
            return float(self.means[0])
        total = self.total_weight
        target = min(max(q, 0.0), 1.0) * total
        mids = np.cumsum(self.weights) - self.weights / 2.0
        if target <= mids[0]:
            return float(self.means[0])
        if target >= mids[-1]:
            return float(self.means[-1])
        i = int(np.searchsorted(mids, target, side="right")) - 1
        span = mids[i + 1] - mids[i]
        frac = 0.0 if span <= 0 else (target - mids[i]) / span
        return float(self.means[i] + frac * (self.means[i + 1] - self.means[i]))

    # -- serialization (checkpoint manifest) --------------------------------

    def to_b64(self) -> str:
        self._compress()
        raw = (np.int64(self.delta).tobytes()
               + np.int64(len(self.means)).tobytes()
               + self.means.astype("<f8").tobytes()
               + self.weights.astype("<f8").tobytes())
        return base64.b64encode(raw).decode("ascii")

    @classmethod
    def from_b64(cls, s: str) -> "TDigest":
        raw = base64.b64decode(s)
        delta = int(np.frombuffer(raw[:8], dtype=np.int64)[0])
        n = int(np.frombuffer(raw[8:16], dtype=np.int64)[0])
        means = np.frombuffer(raw[16:16 + 8 * n], dtype="<f8").copy()
        weights = np.frombuffer(raw[16 + 8 * n:16 + 16 * n], dtype="<f8").copy()
        out = cls(delta, means, weights)
        out._dirty = False  # serialized state is already compressed
        return out


# ---------------------------------------------------------------------------
# distributed digest construction
# ---------------------------------------------------------------------------

def digest_frame(df, columns: List[str], partition_col: Optional[str],
                 delta: int = DEFAULT_DELTA):
    """One column-pruned ``mapInArrow`` pass -> tiny DataFrame of per-task
    digests: (part string, col string, digest string). Each task folds all
    its Arrow batches into one digest per (partition value, column), so the
    collected frame has at most tasks x partitions-per-task x columns rows.
    Partitions are keyed by ``drift.partition_key``. Catalyst prunes the
    scan to exactly ``columns`` (+ partition_col): the payload corpus is
    never touched."""
    from .drift import partition_key

    key = [partition_key(partition_col).alias("__part")] if partition_col else []
    pruned = df.select(*key, *dict.fromkeys(columns))

    def build(batches: Iterator["object"]) -> Iterator["object"]:
        import pyarrow as pa

        acc: Dict[Tuple[str, str], TDigest] = {}
        for batch in batches:
            names = batch.schema.names
            # partition masks computed ONCE per batch, shared by every column
            masks: Dict[str, np.ndarray] = {}
            if partition_col:
                parts = np.asarray(batch.column(0).to_pylist(), dtype=object)
                for p in dict.fromkeys(parts.tolist()):
                    masks[p] = parts == p
            for col in columns:
                vals = batch.column(names.index(col)).to_numpy(zero_copy_only=False)
                vals = np.asarray(vals, dtype=np.float64)
                for pkey, mask in (masks or {"": None}).items():
                    key = (pkey, col)
                    d = acc.get(key)
                    if d is None:
                        d = acc[key] = TDigest(delta)
                    d.add(vals if mask is None else vals[mask])
        keys = sorted(acc)
        yield pa.RecordBatch.from_pydict(
            {
                "part": pa.array([k[0] for k in keys], pa.string()),
                "col": pa.array([k[1] for k in keys], pa.string()),
                "digest": pa.array([acc[k].to_b64() for k in keys], pa.string()),
            },
        )

    return pruned.mapInArrow(build, schema="part string, col string, digest string")


def collect_digests(df, columns: List[str], partition_col: Optional[str],
                    delta: int = DEFAULT_DELTA) -> Dict[Tuple[str, str], TDigest]:
    """{(partition key, column): digest} merged across tasks in
    deterministic (task-frame sort) order. Flat runs use key ("", col)."""
    rows = digest_frame(df, columns, partition_col, delta).collect()
    grouped: Dict[Tuple[str, str], List[str]] = {}
    for r in rows:
        grouped.setdefault((r["part"], r["col"]), []).append(r["digest"])
    return {
        key: TDigest.merge([TDigest.from_b64(s) for s in sorted(b64s)], delta)
        for key, b64s in grouped.items()
    }
