"""The one blocked matcher behind every near-duplicate and contamination join.

Every pair search in the corpus operators has one shape: rows of
``(id, ..., key...)`` meet on equal keys, so candidate pairs come from
bounded buckets and never from an all-pairs product. The callers differ only
in their key choice:

- the exact fingerprint ``hash`` (audio near-dup and contamination, text
  winnowing fingerprints, the shingle inverted index);
- the four 16-bit blocks of a 64-bit perceptual hash, ``BLOCK`` =
  ``(__bi, __k)`` rows from :func:`blocks`, then a Hamming verify (image and
  video near-dup and contamination);
- ``(band, key)`` MinHash-LSH bands (``textops.lsh_candidate_pairs``);
- ``(__bi, __k)`` hyperplane-signature blocks (``simsearch``) or a k-means
  ``cell`` (``simsearch.semantic_dedup_pairs``).

Three helpers carry the shape:

- :func:`hot_key_guard` drops rows whose key bucket holds more than
  ``max_bucket`` rows. An over-full bucket is non-discriminative (silence,
  solid-colour cards, boilerplate, all-zero vectors) and would emit k²
  candidate pairs. The census is a groupBy (it shuffles only map-side
  combined ``(keys..., count)`` partials); the hot-key frame is tiny, so the
  anti-join broadcasts at runtime. It is never a window count, which would
  shuffle and sort every row, degenerate mass included. The frame the census
  reads is persisted, so its source lineage (a decode pass, when the rows
  come from an unpersisted fingerprint frame) runs once for the census and
  the anti-join; the guarded frame is persisted too, because every caller
  reads it more than once (both self-join sides, per-id counts).
- :func:`self_join` guards the rows, then joins them with themselves on the
  keys, keeping ``a.id < b.id``.
- :func:`eval_probe` guards the benchmark-sized eval rows, broadcasts them
  and probes them with the corpus rows: a map-side join, no corpus shuffle.

:func:`overlap_scores` scores hash-overlap pairs as
``matches / least(n_a, n_b)``; the caller passes its own count frames
(audio counts hashes after the cap, video before it).

The census counts the rows it is given. The fingerprint callers give it
their distinct non-NULL ``(id, hash)`` rows (:func:`hash_rows`), so a bucket
counts each ``(id, hash)`` once however many rows repeat it. The band and
block tables of ``textops`` and ``simsearch`` hold one row per (id, block)
when ids are unique and are counted as given: a dedup there would shuffle
every exploded row.

Every cached frame is attached to the returned frame as ``_dcspark_cached``,
guarded frame first: callers attach the list to their result so that
``pipeline_ckpt.release_caches`` frees them once the result is consumed.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: the (block index, 16-bit block key) columns :func:`blocks` emits
BLOCK = ["__bi", "__k"]


def blocks(col: str) -> Column:
    """One ``BLOCK`` row per 16-bit block of the 64-bit hash ``col``: two
    hashes within Hamming distance 3 share at least one block
    (pigeonhole). The four blocks are joined in ONE join, never a per-block
    loop (which would union four branches that each re-evaluate the
    fingerprint lineage).

    Mask, don't '%': Spark % keeps the dividend's sign, so a negative hash
    (bit 63 set) would get a block-0 key that never equi-joins its positive
    twins — silently losing recall for ~half the corpus."""
    return F.posexplode(F.array(*[
        F.shiftrightunsigned(F.col(col), b * 16).bitwiseAND(F.lit(0xFFFF))
        for b in range(4)])).alias(*BLOCK)


def hamming(a: str, b: str) -> Column:
    """Bit distance between two 64-bit hashes, as int."""
    return F.bit_count(F.col(a).bitwiseXOR(F.col(b))).cast("int")


def hash_rows(fp: DataFrame, id_col: str, hash_col: str) -> DataFrame:
    """The distinct non-NULL ``(id, hash)`` rows of a fingerprint frame."""
    return (fp.filter(F.col(hash_col).isNotNull())
            .select(id_col, hash_col).distinct())


def hot_key_guard(t: DataFrame, keys: Sequence[str],
                  max_bucket: Optional[int]) -> DataFrame:
    """Persist ``t``, anti-join away its over-full key buckets and persist
    the result. ``max_bucket=None`` skips the census and returns ``t``
    persisted.

    The anti-join is un-hinted: a pathological corpus with millions of hot
    keys falls back to a shuffled anti-join instead of OOMing the driver,
    and AQE broadcasts the usual tiny hot-key frame at runtime."""
    return _guard(t, keys, max_bucket, lambda hot: hot)


def _guard(t: DataFrame, keys: Sequence[str], max_bucket: Optional[int],
           hint: Callable[[DataFrame], DataFrame]) -> DataFrame:
    keys = list(keys)
    t = t.persist()
    if max_bucket is None:
        t._dcspark_cached = [t]
        return t
    hot = (t.groupBy(*keys)
           .agg(F.count(F.lit(1)).alias("_bc"))
           .filter(F.col("_bc") > max_bucket)
           .select(*keys))
    g = t.join(hint(hot), on=keys, how="left_anti").persist()
    # the guarded frame first: unpersisting the census input first would
    # make Spark re-plan the still-cached guarded frame
    g._dcspark_cached = [g, t]
    return g


def self_join(t: DataFrame, id_col: str, keys: Sequence[str],
              max_bucket: Optional[int]) -> Tuple[DataFrame, DataFrame]:
    """``(pairs, guarded)``: the guarded rows joined with themselves on
    ``keys`` as aliases ``a`` and ``b``, ``a.<id> < b.<id>`` (a NULL id never
    pairs). ``pairs`` carries the cache handles."""
    g = hot_key_guard(t, keys, max_bucket)
    pairs = (g.alias("a").join(g.alias("b"), on=list(keys))
             .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
    pairs._dcspark_cached = g._dcspark_cached
    return pairs, g


def eval_probe(corpus: DataFrame, ev: DataFrame, keys: Sequence[str],
               max_eval_bucket: Optional[int]) -> Tuple[DataFrame, DataFrame]:
    """``(hits, guarded)``: corpus rows joined on ``keys`` with the guarded
    eval rows, broadcast (the eval side is benchmark-sized, never
    corpus-sized), and so is its hot-key frame. ``hits`` carries the eval
    side's cache handles."""
    g = _guard(ev, keys, max_eval_bucket, F.broadcast)
    hits = corpus.join(F.broadcast(g), on=list(keys))
    hits._dcspark_cached = g._dcspark_cached
    return hits, g


def id_counts(rows: DataFrame, id_col: str) -> DataFrame:
    """``(id, n)``: rows per id."""
    return rows.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))


def overlap_scores(matches: DataFrame, n_a: DataFrame, n_b: DataFrame,
                   threshold: float, min_matches: int) -> DataFrame:
    """``(a, b, matches, score)`` from a ``(a, b, matches)`` frame and the
    ``(id, n)`` count frames of each side: score = matches / least(n_a,
    n_b), rounded to 6 decimals, so a short clip embedded in a longer one
    still scores high. ``threshold`` compares the rounded score."""
    a, b = matches.columns[:2]
    return (matches
            .join(n_a.toDF(a, "__na"), on=a)
            .join(n_b.toDF(b, "__nb"), on=b)
            .select(a, b, "matches",
                    F.round(F.col("matches") / F.least("__na", "__nb"), 6)
                    .alias("score"))
            .filter((F.col("score") >= threshold)
                    & (F.col("matches") >= min_matches)))
