"""Text-analysis + deduplication operators for large-scale training-data pipelines.

Engine extensions beyond the reference (SURVEY.md §2.5 family): exact dedup,
MinHash+LSH near-dup, n-gram Jaccard, SimHash, token/quality stats, heuristic
language-ID, and document fingerprinting — all over a ``documents(doc_id, text,
lang, source, n_chars)`` table.

Scale design notes (targets: 100 TB / 10^12 docs on a 1000-executor cluster):

- Everything here is built from JVM-side ``pyspark.sql.functions`` (regexp,
  higher-order array functions, md5) — whole-stage codegen end-to-end, zero
  Python UDFs, zero driver collects.
- Exact dedup hashes the *normalized text* first (md5 fingerprint), so the
  shuffle key is a fixed 32-byte string, never the document body; map-side
  partial aggregation bounds shuffle volume by distinct fingerprints.
- MinHash+LSH is the scale path for near-dup: each doc emits ``bands`` rows
  (constant fan-out) keyed by a band signature; candidate pairs come from a
  self-equi-join per band key (shuffle co-partitioned on the band hash), NOT an
  all-pairs product. Exact Jaccard is then verified only on candidates.
- All hashes are md5-derived so results are engine-independent and
  deterministic (the DuckDB oracle in ``__spark_entry__`` reproduces them
  bit-for-bit; no reliance on Spark's murmur3 ``hash()``).
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import hotkey

TOKEN_RE = "[a-z0-9]+"

# Tiny English stopword list shared verbatim with the SQL oracle.
EN_STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "it", "that", "for"]


# ---------------------------------------------------------------------------
# shared expressions (each has an exact SQL mirror in __spark_entry__)
# ---------------------------------------------------------------------------

def norm_text(col: str = "text") -> Column:
    """Normalized text: lowercase, whitespace collapsed, trimmed."""
    return F.trim(F.regexp_replace(F.lower(F.col(col)), r"\s+", " "))


def words_expr(col: str = "text") -> Column:
    """Lowercase alnum tokens as array<string> (JVM regexp, no UDF). Typed
    builder (no SQL string splicing): a column name needing backtick quoting
    would break — or resolve the wrong expression in — an f-string F.expr."""
    return F.regexp_extract_all(F.lower(F.col(col)), F.lit(TOKEN_RE), F.lit(0))


def fingerprint_expr(col: str = "text") -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(norm_text(col))


def lines_expr(col: str = "text", lower: bool = False) -> Column:
    """Non-empty lines as array<string>: newline-split, whitespace-trimmed.

    Trimming is a ``^\\s+|\\s+$`` regexp, NOT ``trim`` — trim strips only
    spaces (in Spark AND DuckDB), so a CRLF corpus would keep the trailing
    ``\\r`` and defeat any ends-with check downstream (and ``\\r``-only lines
    would survive the empty filter). The lambda wrapper matters too: pyspark
    4's ``trim(col, trim=None)``-style two-arg functions, passed bare to
    ``transform``, bind the element INDEX as the second argument and silently
    misbehave. Mirrored exactly by the SQL oracles in ``__spark_entry__``.
    """
    src = F.lower(F.col(col)) if lower else F.col(col)
    return F.filter(
        F.transform(
            F.split(src, "\n"),
            lambda x: F.regexp_replace(x, r"^\s+|\s+$", ""),
        ),
        lambda x: x != F.lit(""),
    )


#: GPT-2-style pre-tokenizer pattern, lookahead-free so Java regex (Spark) and
#: RE2 (DuckDB oracle) tokenize identically: contractions, space-prefixed
#: letter runs, digit runs, punctuation runs, whitespace runs. Counting these
#: pre-tokens is the standard cheap proxy for BPE token budgets at corpus scale
#: (true BPE merges only split pre-tokens further, never across them).
BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+"


def bpe_token_count_expr(col: str = "text") -> Column:
    """Per-document BPE-ish pre-token count (pure JVM regexp, no UDF)."""
    return F.size(F.regexp_extract_all(F.col(col), F.lit(BPE_RE), F.lit(0)))


def winnow_expr(k: int = 8, w: int = 4, col: str = "text") -> Column:
    """Winnowing fingerprint array for a text column (sorted distinct longs).

    Written as nested single-element-array ``transform`` LET-BINDINGS: the
    normalized text and the k-gram hash array become lambda variables, which
    CollapseProject cannot inline — without this, the optimizer substitutes
    the hash-array expression into every window's ``slice``, recomputing the
    whole md5 k-gram array PER WINDOW (O(len^2) md5s per document; the same
    defect class as the simhash rewrite, VERDICT r01 #3).
    """

    def grams(nt: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.length(nt) - (k - 1)),
            lambda i: F.conv(
                F.substring(F.md5(nt.substr(i, F.lit(k))), 1, 8), 16, 10
            ).cast("long"),
        )

    def minima(hs: Column) -> Column:
        return F.array_sort(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(hs) - (w - 1)),
                    lambda j: F.array_min(F.slice(hs, j, w)),
                )
            )
        )

    # short-document guard INSIDE the expression: F.sequence descends for
    # out-of-range bounds, so a doc shorter than k+w-1 normalized chars
    # would crash slice() (start 0) or silently emit bogus fingerprints.
    # winnowing_table pre-filters, but this is exported API.
    return F.when(
        F.length(norm_text(col)) >= F.lit(k + w - 1),
        F.transform(
            F.array(norm_text(col)),
            lambda nt: F.transform(F.array(grams(nt)), minima)[0],
        )[0],
    ).otherwise(F.array().cast("array<long>"))


def winnowing_table(docs: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """Rolling-hash document fingerprints by winnowing -> (doc_id, fp) rows.

    The MOSS selection scheme (Schleimer/Wilkerson/Aiken, SIGMOD'03): hash
    every character k-gram of the normalized text, slide a w-hash window, keep
    each window's minimum, dedupe. Guarantees any shared substring of length
    >= k+w-1 contributes a shared fingerprint, so plagiarism/near-copy
    detection joins on fp. Entirely JVM higher-order expressions — the k-gram
    hash is md5-derived (first 8 hex chars as int) so the DuckDB oracle
    reproduces it bit-for-bit; no Python UDF, no shuffle until the caller's
    fp join. Docs shorter than k+w-1 normalized chars yield no fingerprints.
    """
    base = fan_out(
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    )
    # no pre-filter: winnow_expr's own short-doc guard yields an empty
    # array (explode drops the row), so normalization isn't computed twice
    # (a filter predicate and the projection are separate operators — CSE
    # does not span them)
    return base.select(
        "doc_id", F.explode(winnow_expr(k, w)).alias("fp")
    )


def winnowing_near_dups(
    docs: DataFrame, k: int = 8, w: int = 4, min_shared: int = 2
) -> DataFrame:
    """Near-copy candidate pairs from shared winnowing fingerprints.

    The MOSS matching step: self-equi-join the (doc_id, fp) table on fp
    (co-partitioned shuffle keyed by an int — never a cross product), count
    shared fingerprints per pair, and score containment as
    shared / min(|fps_a|, |fps_b|). Winnowed fingerprint sets are ~|doc|/w
    sparse, so posting lists stay short where raw shingle inverted indexes
    explode — the scale path for copy detection.
    """
    joined, fp = hotkey.self_join(winnowing_table(docs, k, w), "doc_id",
                                  ["fp"], None)
    shared = (joined
              .groupBy(F.col("a.doc_id").alias("doc_a"),
                       F.col("b.doc_id").alias("doc_b"))
              .agg(F.count(F.lit(1)).alias("matches")))
    n = hotkey.id_counts(fp, "doc_id")
    out = hotkey.overlap_scores(shared, n, n, 0.0, min_shared).select(
        "doc_a", "doc_b", F.col("matches").alias("shared"),
        F.col("score").alias("containment"))
    # cache handle: dcspark.pipeline_ckpt.release_caches(out) after consuming
    out._dcspark_cached = joined._dcspark_cached
    return out


def bpe_token_stats(docs: DataFrame) -> DataFrame:
    """Per-language BPE-ish token budget: docs, total and mean tokens/doc."""
    return (
        docs.select("lang", bpe_token_count_expr().alias("n"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum("n").cast("long").alias("total_bpe_tokens"),
            F.round(F.avg("n"), 4).alias("avg_bpe_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# exact deduplication
# ---------------------------------------------------------------------------

def exact_dup_stats(docs: DataFrame) -> DataFrame:
    """One-row dedup summary: docs, distinct fingerprints, dup groups/rows.

    groupBy on the 32-char md5 fingerprint → map-side combine → tiny shuffle.
    """
    groups = (
        docs.select(fingerprint_expr().alias("fp"))
        .groupBy("fp").agg(F.count(F.lit(1)).alias("cnt"))
    )
    return groups.agg(
        F.count(F.lit(1)).cast("long").alias("distinct_docs"),
        F.coalesce(F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)), F.lit(0))
        .cast("long").alias("dup_groups"),
        F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).cast("long").alias("dup_rows"),
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("total_docs"),
    )


def doc_fingerprints(docs: DataFrame) -> DataFrame:
    """Per-document fingerprint (doc_id, fp)."""
    return docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                       fingerprint_expr().alias("fp"))


# ---------------------------------------------------------------------------
# token / quality / language stats
# ---------------------------------------------------------------------------

def token_stats_by_lang(docs: DataFrame) -> DataFrame:
    """Per-lang doc count, avg token count, avg char count (rounded)."""
    w = words_expr()
    per_doc = docs.select(
        "lang",
        F.size(w).cast("long").alias("tok"),
        F.length("text").cast("long").alias("chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.round(F.avg("tok"), 4).alias("avg_tokens"),
        F.round(F.avg("chars"), 4).alias("avg_chars"),
        F.sum("tok").cast("long").alias("total_tokens"),
    )


def quality_metrics(
    ws: Column, min_tokens: int = 30, max_stop_ratio: float = 0.5
) -> Column:
    """doc_quality's signals as a struct over an ALREADY-BOUND token array —
    composable with the repetition metrics in one shared tokenization (see
    :func:`text_quality_report`). Ratios are deterministic rationals rounded
    to 6 places so the SQL oracle hashes identically."""
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    tokens = F.size(ws).cast("long")
    stop_hits = F.size(
        F.filter(ws, lambda x: F.array_contains(stop_arr, x))
    ).cast("long")
    punct_chars = F.length(F.regexp_replace("text", r"[a-zA-Z0-9\s]", "")).cast("long")
    chars = F.length("text").cast("long")
    return F.struct(
        tokens.alias("tokens"),
        stop_hits.alias("stop_hits"),
        F.round(stop_hits / F.greatest(tokens, F.lit(1)), 6).alias("stop_ratio"),
        F.round(punct_chars / F.greatest(chars, F.lit(1)), 6).alias("punct_ratio"),
        (
            (tokens >= min_tokens)
            & (stop_hits / F.greatest(tokens, F.lit(1)) <= max_stop_ratio)
        ).cast("int").alias("is_quality"),
    )


def doc_quality(docs: DataFrame, min_tokens: int = 30, max_stop_ratio: float = 0.5) -> DataFrame:
    """Per-document quality signals: tokens, stopword ratio, punct ratio, flag.

    All ratios are deterministic rational values rounded to 6 places so the SQL
    oracle hashes identically.
    """
    bound = F.transform(
        F.array(words_expr()),
        lambda ws: quality_metrics(ws, min_tokens, max_stop_ratio),
    )[0]
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), bound.alias("_q")
    ).select("doc_id", "_q.*")


def lang_id_confusion(docs: DataFrame, min_hits: int = 1) -> DataFrame:
    """Heuristic language-ID (English-stopword hits) vs the labeled lang column.

    Returns (lang, pred_lang, docs) confusion counts — an n-gram-heuristic
    LID evaluated entirely with JVM expressions.
    """
    w = words_expr()
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    hits = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x)))
    pred = F.when(hits >= min_hits, F.lit("en")).otherwise(F.lit("und"))
    return (
        docs.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("docs"))
    )


# ---------------------------------------------------------------------------
# shingles / MinHash / LSH / Jaccard
# ---------------------------------------------------------------------------

def shingle_expr(n: int = 3, col: str = "text") -> Column:
    """Distinct word n-gram shingles as array<string> (empty if < n tokens).

    Built from ``slice`` + ``zip_with`` of shifted copies rather than
    ``transform(sequence, i -> element_at(w, i+k))`` — inside a lambda each
    ``element_at(w, ...)`` re-evaluates the token regexp PER ELEMENT (no CSE
    through higher-order functions), which made shingling ~25x slower. Here
    the token array is evaluated a constant ~2n times per ROW.
    """
    w = words_expr(col)
    m = F.greatest(F.size(w) - (n - 1), F.lit(0))
    acc = F.slice(w, 1, m)
    for k in range(1, n):
        acc = F.zip_with(acc, F.slice(w, k + 1, m),
                         lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(acc)


def minhash_expr(shingles: Column, j: int) -> Column:
    """j-th MinHash: lexicographic min of md5(shingle + '#j') over the set."""
    return F.array_min(
        F.transform(shingles, lambda s: F.md5(F.concat(s, F.lit(f"#{j}"))))
    )


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition up to the session's core count when the source has fewer
    partitions (e.g. one small parquet file) — CPU-bound per-row work (md5 per
    shingle, HOF evaluation) otherwise serializes on a single task. A no-op on
    well-partitioned inputs, so safe at any scale."""
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            return df.repartition(target)
        return df
    except Exception:  # noqa: BLE001 — Spark Connect: no sparkContext/df.rdd
        # Connect sessions can't probe partition counts; AQE coalescing
        # makes the extra repartition harmless on well-partitioned inputs
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "8"))
        return df.repartition(n)


def shingle_table(docs: DataFrame, n: int = 3, persist: bool = True) -> DataFrame:
    """(doc_id, sh: array<string>) distinct-shingle table; <n-token docs dropped.

    Persisted by default: every downstream consumer (signature matrix, band
    self-join sides, inverted index, size lookup) references this subtree —
    without an explicit persist Spark recomputes the regexp+n-gram projection
    once per reference (6-7x on the near-dup pipeline), which dominated the
    runtime. The cached form is a few bytes per shingle — at 10^12 docs this
    would be a checkpointed intermediate table instead.
    """
    from pyspark import StorageLevel

    sh = fan_out(docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                             F.col("text"))).select(
        "doc_id", shingle_expr(n).alias("sh")
    ).filter(F.size("sh") > 0)
    if persist:
        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    return sh


def minhash_signatures(docs: DataFrame, num_hashes: int = 8, n: int = 3,
                       sh: Optional[DataFrame] = None) -> DataFrame:
    """(doc_id, mh0..mh{k-1}) MinHash signature matrix; docs with <n tokens dropped."""
    d = sh if sh is not None else shingle_table(docs, n, persist=False)
    cols = [F.col("doc_id")] + [
        minhash_expr(F.col("sh"), j).alias(f"mh{j}") for j in range(num_hashes)
    ]
    return d.select(*cols)


def lsh_band_keys(
    docs: DataFrame, num_hashes: int = 8, rows_per_band: int = 2, n: int = 3,
    sh: Optional[DataFrame] = None,
) -> DataFrame:
    """(doc_id, band, key): one row per band, key = concat of the band's hashes.

    Constant per-doc fan-out (num_hashes / rows_per_band rows) — the scalable
    alternative to exploding full shingle inverted lists.
    """
    if num_hashes % rows_per_band != 0:
        # truncating to num_hashes // rows_per_band bands would silently
        # WASTE the trailing minhash columns and run a different S-curve
        # than the caller parameterized — lower recall with no signal
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by rows_per_band "
            f"({rows_per_band}); the remainder hashes would be silently "
            "dropped from the banding")
    sig = minhash_signatures(docs, num_hashes, n, sh=sh)
    bands = num_hashes // rows_per_band
    pairs = []
    for b in range(bands):
        key = F.concat_ws("|", *[
            F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)
        ])
        pairs.append(F.struct(F.lit(b).alias("band"), key.alias("key")))
    return (
        sig.select("doc_id", F.explode(F.array(*pairs)).alias("bk"))
        .select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    )


def lsh_candidate_pairs(
    docs: DataFrame, num_hashes: int = 8, rows_per_band: int = 2, n: int = 3,
    sh: Optional[DataFrame] = None, max_bucket: Optional[int] = 1000,
) -> DataFrame:
    """Distinct candidate (doc_a < doc_b) pairs sharing at least one LSH band.

    Self-equi-join co-partitioned on (band, key); AQE splits skewed band
    buckets. Never materializes the all-pairs product. The signature matrix is
    tiny (num_hashes strings per doc) — persisted so the self-join's two sides
    share one computation.

    ``max_bucket`` is the hot-bucket guard (VERDICT r02 defect #2): AQE skew
    handling splits oversized INPUT partitions, but a single (band, key)
    bucket holding k mutually near-identical docs — boilerplate pages, license
    texts, the norm in web corpora — still emits k² candidate pairs. A bucket
    larger than ``max_bucket`` is non-discriminative (its members are already
    trivially discoverable as a group) and is dropped from the join by the
    shared matcher's hot-key census + anti-join (dcspark/hotkey.py): a
    groupBy count shuffles only map-side-combined partial counts, never
    every band-key row. Run EXACT dedup first (the documented workflow —
    ``dedup_exact``) so byte-identical mass never reaches the band join;
    ``max_bucket=None`` disables the guard.
    """
    joined, _ = hotkey.self_join(
        lsh_band_keys(docs, num_hashes, rows_per_band, n, sh=sh),
        "doc_id", ["band", "key"], max_bucket)
    out = (joined
           .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
           .distinct())
    # cache handle: dcspark.pipeline_ckpt.release_caches(out) after consuming
    out._dcspark_cached = joined._dcspark_cached
    return out


def _shingle_sizes(sh: DataFrame) -> DataFrame:
    """(doc_id, sz) distinct-shingle count per doc. A doc_id on two rows
    raises naming it: its shingles would enter the inverted index twice,
    and every intersection with it (and its Jaccard) would be wrong."""
    per_id = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("rows"),
                                      F.max(F.size("sh")).cast("long").alias("sz"))
    dup = F.raise_error(F.concat(F.lit("duplicate doc_id in the corpus: "),
                                 F.col("doc_id").cast("string")))
    return per_id.select("doc_id", F.when(F.col("rows") > 1, dup)
                         .otherwise(F.col("sz")).alias("sz"))


def jaccard_on_pairs(docs: DataFrame, pairs: DataFrame, n: int = 3,
                     sh: Optional[DataFrame] = None) -> DataFrame:
    """Exact shingle-set Jaccard for given (doc_a, doc_b) pairs.

    Joins each side's distinct-shingle count plus the pair's intersection size
    computed from the exploded inverted index restricted to candidate docs.
    """
    if sh is None:
        sh = shingle_table(docs, n, persist=False)
    sizes = _shingle_sizes(sh)
    inv = sh.select("doc_id", F.explode("sh").alias("s"))
    docs_in_pairs = pairs.select(F.col("doc_a").alias("doc_id")).union(
        pairs.select(F.col("doc_b").alias("doc_id"))).distinct()
    inv = inv.join(docs_in_pairs, "doc_id")
    ia = inv.select(F.col("doc_id").alias("doc_a"), "s")
    ib = inv.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        pairs.join(ia, "doc_a").join(ib, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    # LEFT joins on the sizes: a pair referencing a doc with no shingles
    # (shorter than n tokens, or absent from the corpus) must come back
    # with jaccard NULL — an inner join silently DROPPED it, and the caller
    # could not tell "scored and disjoint" from "never scored"
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a", "left").join(sb, "doc_b", "left")
        .select(
            "doc_a", "doc_b",
            F.coalesce(F.col("inter"), F.lit(0)).alias("inter"),
            (F.col("sz_a") + F.col("sz_b") - F.coalesce(F.col("inter"), F.lit(0))).alias("uni"),
            F.round(
                F.coalesce(F.col("inter"), F.lit(0))
                / (F.col("sz_a") + F.col("sz_b") - F.coalesce(F.col("inter"), F.lit(0))),
                6,
            ).alias("jaccard"),
        )
    )


def allpairs_jaccard(docs: DataFrame, n: int = 3) -> DataFrame:
    """Exact Jaccard for every doc pair sharing ≥1 shingle (inverted index).

    Quadratic in the posting-list lengths — callers bound the input (small
    subsets / per-bucket); the unbounded-scale path is ``minhash_near_dups``.
    """
    sh = shingle_table(docs, n, persist=True)
    sizes = _shingle_sizes(sh)
    inv = sh.select("doc_id", F.explode("sh").alias("s"))
    joined, _ = hotkey.self_join(inv, "doc_id", ["s"], None)
    inter = (
        joined.groupBy(F.col("a.doc_id").alias("doc_a"),
                       F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", "inter",
            (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("long").alias("uni"),
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6)
            .alias("jaccard"),
        )
    )
    # cache handle: dcspark.pipeline_ckpt.release_caches(out) after consuming
    out._dcspark_cached = joined._dcspark_cached + [sh]
    return out


def minhash_near_dups(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    n: int = 3,
    max_bucket: Optional[int] = 1000,
    checkpoint: Optional[str] = None,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard ≥ threshold.

    One shared persisted shingle table feeds signature, band join, and the
    Jaccard verify — the expensive regexp/n-gram projection runs exactly once.
    The candidate-pair frame is persisted too: the Jaccard verify references
    it FOUR times (both sides of the doc-restriction union, the intersection
    join, and the final assembly) — unpersisted, the whole band self-join
    would re-execute per reference (measured 4x wall on the bench query).
    ``max_bucket`` bounds degenerate band buckets (see
    :func:`lsh_candidate_pairs`); run exact dedup first.

    Stages (``checkpoint``: see :mod:`dcspark.pipeline_ckpt`):
    ``candidates`` (shingle → signature → band self-join, the shuffle-heavy
    part) and ``scored`` (exact Jaccard, stored unthresholded: ``threshold``
    filters after it, so one checkpointed verify serves any threshold
    sweep). A run killed after ``candidates`` resumes straight into the
    verify; a resume that finds both stages never tokenizes.
    """
    from .pipeline_ckpt import Stages

    st = Stages(checkpoint, docs.sparkSession, op="minhash_near_dups",
                num_hashes=num_hashes, rows_per_band=rows_per_band, n=n,
                max_bucket=max_bucket, input=docs)
    sh: list = []

    def shingles() -> DataFrame:
        # built on first use, then shared by both stages
        if not sh:
            sh.append(shingle_table(docs, n, persist=True))
        return sh[0]

    pairs = st("candidates", lambda: st.persist(lsh_candidate_pairs(
        docs, num_hashes, rows_per_band, n, sh=shingles(),
        max_bucket=max_bucket)))
    scored = st("scored", lambda: jaccard_on_pairs(docs, pairs, n,
                                                   sh=shingles()))
    return st.result(scored.filter(F.col("jaccard") >= threshold), *sh)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_from_hashes(hashes: Column, total: Column, bits: int = 16) -> Column:
    """bits-bit SimHash from a pre-computed md5(token) hex array.

    Bit j is set iff strictly more than half the tokens have an odd ASCII code
    at hex position j of md5(token) — a deterministic, engine-portable variant
    (1 bit per md5 hex char, majority vote, tie → 0). Taking the HASHES array
    (not the tokens) keeps md5 out of the per-bit loop: the caller evaluates
    md5 once per token; the 16 per-bit passes only do substring+ascii over the
    cached hex strings (VERDICT.md defect #3: the old form recomputed md5 per
    token per bit — 16x the hash work).
    """
    acc = F.lit(0).cast("long")
    for j in range(1, bits + 1):
        hits = F.size(F.filter(hashes, lambda s: F.ascii(F.substring(s, j, 1)) % 2 == 1))
        bit = (hits * 2 > total).cast("long")
        acc = acc + bit * F.lit(1 << (j - 1)).cast("long")
    return acc


def simhash_table(docs: DataFrame, bits: int = 16) -> DataFrame:
    """(doc_id, simhash) per document with ≥1 token.

    The md5(token) array is materialized in its OWN projection; referencing it
    16 times from the per-bit pass doesn't re-inline it (CollapseProject keeps
    multi-referenced non-cheap expressions in a separate Project), so md5 runs
    exactly once per token.
    """
    hashed = (
        fan_out(docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text"))
        .select("doc_id", words_expr().alias("w"))
        .filter(F.size("w") > 0)
        .select(
            "doc_id",
            F.size("w").alias("n"),
            F.transform("w", lambda x: F.md5(x)).alias("h"),
        )
    )
    return hashed.select(
        "doc_id", simhash_from_hashes(F.col("h"), F.col("n"), bits).alias("simhash")
    )


# ---------------------------------------------------------------------------
# repetition-based quality flags (Gopher / MassiveText rules)
# ---------------------------------------------------------------------------

#: Gopher (Rae et al. 2021, Table A1) repetition thresholds: a document is
#: repetitious when any of these fractions is exceeded. Shared verbatim with
#: the SQL oracle in ``__spark_entry__``.
GOPHER_DUP_LINE_FRAC = 0.30
GOPHER_DUP_LINE_CHAR_FRAC = 0.20
GOPHER_TOP_BIGRAM_CHAR_FRAC = 0.20
GOPHER_DUP_5GRAM_CHAR_FRAC = 0.15


def _sum_len(arr: Column) -> Column:
    """Total characters across an array<string> (0 for empty arrays)."""
    return F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + F.length(x))


def _word_grams(ws: Column, n: int) -> Column:
    """Overlapping word n-grams joined by single spaces (empty below n words).

    ``sequence(1, size-n+1)`` DESCENDS when size < n (Spark generates a
    decreasing range), so the short-document guard is mandatory, not cosmetic.
    """
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - (n - 1)),
        lambda i: F.array_join(F.slice(ws, i, n), " "),
    )
    return F.when(F.size(ws) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _top_gram_covered(grams: Column, n: int) -> Column:
    """Characters covered by the most frequent n-gram: count * word-chars.

    Run-length scan over the SORTED gram array with a struct accumulator —
    O(G log G) per row, zero shuffle, pure codegen. Ties on count resolve to
    the lexicographically smallest gram (first max run in sorted order; the
    SQL oracle mirrors with ORDER BY c DESC, gram ASC). Word-chars excludes
    the n-1 joining spaces: length(gram) - (n-1).
    """
    zero = F.lit(0).cast("long")

    def merge(s: Column, x: Column) -> Column:
        run = F.when(x == s["prev"], s["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(run > s["best"], run).otherwise(s["best"]).alias("best"),
            F.when(run > s["best"], x).otherwise(s["bestg"]).alias("bestg"),
        )

    st = F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit("").alias("prev"), zero.alias("run"),
            zero.alias("best"), F.lit("").alias("bestg"),
        ),
        merge,
    )
    return F.when(
        st["best"] > 0, st["best"] * (F.length(st["bestg"]) - (n - 1))
    ).otherwise(zero)


def _dup_gram_covered(grams: Column, n: int) -> Column:
    """Characters covered by n-grams occurring more than once: sum over
    duplicated grams of count * word-chars (NeMo-Curator-style accounting —
    overlaps between distinct duplicated grams are not collapsed, so the
    caller caps the fraction at 1.0). Same sorted run-length scan shape as
    ``_top_gram_covered``; the finish lambda flushes the final run.
    """
    zero = F.lit(0).cast("long")

    def flush(s: Column) -> Column:
        return F.when(
            s["run"] > 1, s["acc"] + s["run"] * (F.length(s["prev"]) - (n - 1))
        ).otherwise(s["acc"])

    return F.aggregate(
        F.array_sort(grams),
        F.struct(F.lit("").alias("prev"), zero.alias("run"), zero.alias("acc")),
        lambda s, x: F.struct(
            x.alias("prev"),
            F.when(x == s["prev"], s["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(x == s["prev"], s["acc"]).otherwise(flush(s)).alias("acc"),
        ),
        flush,
    )


def repetition_stats(
    docs: DataFrame,
    dup_line_frac: float = GOPHER_DUP_LINE_FRAC,
    dup_line_char_frac: float = GOPHER_DUP_LINE_CHAR_FRAC,
    top_bigram_char_frac: float = GOPHER_TOP_BIGRAM_CHAR_FRAC,
    dup_5gram_char_frac: float = GOPHER_DUP_5GRAM_CHAR_FRAC,
) -> DataFrame:
    """Gopher/MassiveText repetition-quality metrics per document.

    The repetition family of the MassiveText quality pipeline (Rae et al.
    2021 — "Scaling Language Models", appendix A1.1; the same rules ship in
    NVIDIA NeMo Curator's heuristic filters): boilerplate-heavy web documents
    betray themselves through duplicated lines and degenerate n-gram
    distributions long before a model sees them. Emitted per doc:

    - ``dup_line_frac``       — (lines - distinct lines) / lines
    - ``dup_line_char_frac``  — chars in repeat line occurrences / line chars
    - ``top_bigram_char_frac``— chars covered by the most frequent word
      2-gram / total word chars
    - ``dup_5gram_char_frac`` — chars covered by word 5-grams occurring more
      than once / total word chars, capped at 1.0 (duplicated-gram overlaps
      are not collapsed)
    - ``flagged``             — any metric strictly above its threshold

    Scale design: everything is ROW-LOCAL — one projection, zero shuffle,
    zero UDF, pure JVM higher-order expressions (the per-doc gram counting is
    a run-length scan over a sorted array, not a groupBy). At 10^12 docs this
    is a single map-only pass; the only cost that grows is per-row. Lines and
    words bind once via single-element-array transform let-bindings so
    CollapseProject cannot inline them into every use (the winnow_expr
    defect class). Words are the shared ``TOKEN_RE`` alnum tokens; lines are
    newline-split, trimmed, empties dropped — both mirrored exactly by the
    DuckDB oracle.
    """
    bound = repetition_struct_expr(
        dup_line_frac, dup_line_char_frac,
        top_bigram_char_frac, dup_5gram_char_frac,
    )
    return fan_out(
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    ).select("doc_id", bound.alias("_r")).select("doc_id", "_r.*")


def repetition_struct_expr(
    dup_line_frac: float = GOPHER_DUP_LINE_FRAC,
    dup_line_char_frac: float = GOPHER_DUP_LINE_CHAR_FRAC,
    top_bigram_char_frac: float = GOPHER_TOP_BIGRAM_CHAR_FRAC,
    dup_5gram_char_frac: float = GOPHER_DUP_5GRAM_CHAR_FRAC,
) -> Column:
    """The :func:`repetition_stats` metrics as one struct Column over a
    ``text`` column — composable with other row-local quality structs in a
    single projection (see :func:`text_quality_report`)."""
    return F.transform(
        F.array(F.struct(lines_expr(lower=True).alias("ls"),
                         words_expr().alias("ws"))),
        lambda o: repetition_metrics(
            o["ls"], o["ws"],
            dup_line_frac, dup_line_char_frac,
            top_bigram_char_frac, dup_5gram_char_frac,
        ),
    )[0]


def repetition_metrics(
    ls: Column,
    ws: Column,
    dup_line_frac: float = GOPHER_DUP_LINE_FRAC,
    dup_line_char_frac: float = GOPHER_DUP_LINE_CHAR_FRAC,
    top_bigram_char_frac: float = GOPHER_TOP_BIGRAM_CHAR_FRAC,
    dup_5gram_char_frac: float = GOPHER_DUP_5GRAM_CHAR_FRAC,
) -> Column:
    """Repetition metrics over ALREADY-BOUND line/token arrays (the
    composable core of :func:`repetition_struct_expr`)."""
    derived = F.struct(
        F.size(ls).cast("long").alias("n_lines"),
        F.size(F.array_distinct(ls)).cast("long").alias("n_dlines"),
        _sum_len(ls).alias("lchars"),
        _sum_len(F.array_distinct(ls)).alias("dlchars"),
        _sum_len(ws).alias("wchars"),
        _top_gram_covered(_word_grams(ws, 2), 2).alias("top2"),
        _dup_gram_covered(_word_grams(ws, 5), 5).alias("dup5"),
    )

    def fracs(d: Column) -> Column:
        dlf = F.when(
            d["n_lines"] > 0,
            (d["n_lines"] - d["n_dlines"]).cast("double") / d["n_lines"],
        ).otherwise(F.lit(0.0))
        dlcf = F.when(
            d["lchars"] > 0,
            (d["lchars"] - d["dlchars"]).cast("double") / d["lchars"],
        ).otherwise(F.lit(0.0))
        t2f = F.when(
            d["wchars"] > 0, d["top2"].cast("double") / d["wchars"]
        ).otherwise(F.lit(0.0))
        d5f = F.when(
            d["wchars"] > 0,
            F.least(F.lit(1.0), d["dup5"].cast("double") / d["wchars"]),
        ).otherwise(F.lit(0.0))
        return F.struct(
            d["n_lines"].alias("n_lines"),
            dlf.alias("dup_line_frac"),
            dlcf.alias("dup_line_char_frac"),
            t2f.alias("top_bigram_char_frac"),
            d5f.alias("dup_5gram_char_frac"),
            (
                (dlf > F.lit(dup_line_frac))
                | (dlcf > F.lit(dup_line_char_frac))
                | (t2f > F.lit(top_bigram_char_frac))
                | (d5f > F.lit(dup_5gram_char_frac))
            ).alias("flagged"),
        )

    return F.transform(F.array(derived), fracs)[0]


# ---------------------------------------------------------------------------
# global duplicate-span coverage (exact-substring-dedup proxy)
# ---------------------------------------------------------------------------

def span_digests_expr(n_tokens: int) -> Column:
    """array<binary> of ``unhex(md5(window))`` for every overlapping
    ``n_tokens``-token window of the text (empty below ``n_tokens`` tokens).

    The token array is LET-BOUND (single-element-array transform) — the
    window lambda references it once per element; unbound, the full-text
    ``regexp_extract_all`` re-evaluates PER WINDOW, O(tokens x doc-length)
    per document (measured 26x on an 8k-token doc; the winnow_expr defect
    class). Raw 16-byte digests instead of 32-char hex halve the downstream
    shuffle; at 10^12-doc scale the full 128 bits are needed — a 64-bit key
    has birthday collisions well below 10^13 windows.
    """

    return F.transform(
        F.array(words_expr()), lambda ws: _span_windows(ws, n_tokens)
    )[0]


def _span_windows(ws: Column, n_tokens: int) -> Column:
    """Digest windows over an ALREADY-BOUND token array (see span_digests_expr)."""
    return F.when(
        F.size(ws) >= n_tokens,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - (n_tokens - 1)),
            lambda i: F.unhex(F.md5(F.array_join(F.slice(ws, i, n_tokens), " "))),
        ),
    ).otherwise(F.array().cast("array<binary>"))


def span_window_table(docs: DataFrame, n_tokens: int = 50) -> DataFrame:
    """(doc_id, pos, digest) for every overlapping ``n_tokens``-token window.

    pos is the 0-based index of the window's first token; docs shorter than
    ``n_tokens`` yield no rows. The digest scheme lives in
    :func:`span_digests_expr`; the generator takes that expression INLINE —
    routing through an unpersisted :func:`span_compact_table` select looks
    tidier but lets predicate pushdown substitute the whole tokenize+md5
    expression into Generate's inferred ``size(...) > 0`` filter, evaluating
    it twice per row (plan-gated at one ``regexp_extract_all``).
    """
    return fan_out(
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    ).select(
        "doc_id", F.posexplode(span_digests_expr(n_tokens)).alias("pos", "digest")
    )


def duplicate_span_stats(
    docs: DataFrame, n_tokens: int = 50, min_count: int = 2,
    checkpoint: Optional[str] = None,
) -> DataFrame:
    """Per-document coverage by text spans duplicated ANYWHERE in the corpus.

    The distributable proxy for exact substring deduplication (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better"): the
    reference method builds a corpus-wide suffix array — inherently
    sequential — so the scalable form used by large-corpus pipelines counts
    overlapping fixed-width token windows globally and marks windows whose
    content occurs >= ``min_count`` times. Per doc:

    - ``dup_windows`` / ``dup_window_frac`` — windows whose n-gram occurs
      elsewhere (or again) in the corpus
    - ``dup_token_frac`` — fraction of the doc's tokens covered by the UNION
      of duplicated windows (overlaps collapsed via an interval-union scan,
      so a doc fully tiled by one repeated span scores 1.0, not > 1)

    Scale design: every data-sized shuffle moves (doc_id:8, pos:4,
    digest:16) bytes — never text (``fan_out``'s repartition is the one
    text-bearing exchange and fires only on under-partitioned small inputs).
    The tokenize+md5 projection runs EXACTLY ONCE: one persisted compact
    frame (doc_id, n_tok, n_windows, digests) feeds the totals, the global
    count, and the semi-join probe (unpersisted, the count and probe
    subtrees would each re-run it — release via the ``_dcspark_cached``
    handle). The global count is a partial-agg groupBy on the 16-byte
    digest; the dup-window restriction is an un-hinted semi join (AQE
    broadcasts the duplicated-digest set when it is small, falls back to
    sort-merge co-partitioned on digest when it is not). Per-doc totals
    (token count, window count) are ROW-LOCAL — no join back to a corpus
    aggregate. The interval union runs over each doc's sorted
    duplicated-window positions (bounded by tokens/doc, the same per-row
    bound as the shingle arrays).

    Stages (``checkpoint``: see :mod:`dcspark.pipeline_ckpt`): ``spans``
    (the tokenize+md5 compact frame, signed by ``n_tokens`` and the input)
    and ``report`` (signed additionally by ``min_count``), so a
    ``min_count`` sweep reuses the spans parquet without re-tokenizing.
    Release the one-shot result's cache with
    ``dcspark.pipeline_ckpt.release_caches`` after consuming it.
    """
    from .pipeline_ckpt import Stages

    st = Stages(checkpoint, docs.sparkSession, op="duplicate_spans",
                n_tokens=n_tokens, input=docs)
    spans = st("spans", lambda: st.persist(span_compact_table(docs, n_tokens)))
    report = st("report", lambda: span_report(spans, n_tokens, min_count),
                min_count=min_count)
    return st.result(report)


def span_compact_table(docs: DataFrame, n_tokens: int = 50) -> DataFrame:
    """One-pass compact frame (doc_id, n_tok, n_windows, digests) — the
    tokenize+md5 projection of :func:`duplicate_span_stats`, shared by the
    totals, the global count, and the semi-join probe. The token array binds
    once (see :func:`span_digests_expr`)."""

    def row(ws: Column) -> Column:
        return F.struct(
            F.size(ws).cast("long").alias("n_tok"),
            F.greatest(F.size(ws) - (n_tokens - 1), F.lit(0))
            .cast("long").alias("n_windows"),
            _span_windows(ws, n_tokens).alias("digests"),
        )

    bound = F.transform(F.array(words_expr()), row)[0]
    return (
        fan_out(docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text"))
        .select("doc_id", bound.alias("_s"))
        .select("doc_id", "_s.*")
    )


def span_report(
    spans: DataFrame, n_tokens: int, min_count: int = 2
) -> DataFrame:
    """Duplicate-span report over a prebuilt compact spans frame
    (doc_id, n_tok, n_windows, digests) — the post-tokenization half of
    :func:`duplicate_span_stats`, its ``report`` stage."""
    totals = spans.select("doc_id", "n_tok", "n_windows")
    w = spans.select("doc_id", F.posexplode("digests").alias("pos", "digest"))
    dup_digests = (
        w.groupBy("digest")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("digest")
    )
    dup = w.join(dup_digests, "digest", "left_semi")

    n = F.lit(n_tokens).cast("long")
    covered = F.aggregate(
        F.array_sort(F.collect_list(F.col("pos").cast("long"))),
        F.struct(F.lit(-1).cast("long").alias("prev"), F.lit(0).cast("long").alias("acc")),
        lambda s, p: F.struct(
            p.alias("prev"),
            (s["acc"] + F.when(s["prev"] < 0, F.lit(0).cast("long"))
             .otherwise(F.least(n, p - s["prev"]))).alias("acc"),
        ),
        lambda s: F.when(s["prev"] >= 0, s["acc"] + n).otherwise(F.lit(0).cast("long")),
    )
    cov = dup.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("dup_windows"),
        covered.alias("covered"),
    )
    z = F.lit(0).cast("long")
    out = (
        totals.join(cov, "doc_id", "left")
        .select(
            "doc_id", "n_tok", "n_windows",
            F.coalesce(F.col("dup_windows"), z).alias("dup_windows"),
            F.when(
                F.col("n_windows") > 0,
                F.coalesce(F.col("dup_windows"), z).cast("double") / F.col("n_windows"),
            ).otherwise(F.lit(0.0)).alias("dup_window_frac"),
            F.when(
                F.col("n_tok") > 0,
                F.least(
                    F.lit(1.0),
                    F.coalesce(F.col("covered"), z).cast("double") / F.col("n_tok"),
                ),
            ).otherwise(F.lit(0.0)).alias("dup_token_frac"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# C4-style page cleaning (Raffel et al. 2020)
# ---------------------------------------------------------------------------

#: C4 keeps a line only when it has at least this many words...
C4_MIN_LINE_WORDS = 5
#: ...and ends in a terminal punctuation mark (period, !, ?, closing quote).
C4_TERMINALS = (".", "!", "?", '"')
#: A page survives only with at least this many kept lines (the paper's
#: "at least 3 sentences" gate, applied to kept lines).
C4_MIN_KEPT_LINES = 3


def c4_page_stats(docs: DataFrame) -> DataFrame:
    """C4 cleaning heuristics (Raffel et al. 2020, §2.2) per document.

    The deterministic core of the C4 line/page filters, re-expressed as ONE
    map-only codegen projection (zero shuffle, zero UDF):

    - a line is KEPT iff it has >= 5 words and ends in terminal punctuation
      (``. ! ? "``); empty/whitespace lines are ignored entirely
    - ``removed_short`` / ``removed_no_punct`` — why lines were dropped
      (word count first: a 2-word line without punctuation counts as short)
    - ``has_lorem`` / ``has_brace`` — page poison markers ("lorem ipsum"
      placeholder text, ``{`` as the code heuristic)
    - ``page_keep`` — >= 3 kept lines and neither poison marker
    - ``cleaned_text`` — the kept lines rejoined (the actionable output: the
      corpus a C4-style pipeline would actually train on)

    The paper's langdetect / bad-words-list / URL-dedup steps are separate
    concerns (lang_id_confusion, contract enum/regex rules, dedup_exact) and
    intentionally not folded in. The line array binds once via a let-binding
    transform and each line is TAGGED (long?, terminated?) in a single pass
    — the per-line token regexp runs exactly once per line, not once per
    derived filter. Lines come from the shared whitespace-trimming
    ``lines_expr`` (CRLF corpora keep their terminal punctuation); word
    counts use the shared ``TOKEN_RE``. Mirrored exactly by the DuckDB
    oracle.
    """
    return fan_out(
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    ).select("doc_id", c4_struct_expr().alias("_c")).select("doc_id", "_c.*")


def c4_struct_expr() -> Column:
    """The :func:`c4_page_stats` metrics as one struct Column over a
    ``text`` column — composable with other row-local quality structs in a
    single projection (see :func:`text_quality_report`)."""
    tagged = F.transform(
        lines_expr(),
        lambda x: F.struct(
            x.alias("t"),
            (
                F.size(F.regexp_extract_all(F.lower(x), F.lit(TOKEN_RE), F.lit(0)))
                >= C4_MIN_LINE_WORDS
            ).alias("lg"),
            F.substring(x, -1, 1).isin(*C4_TERMINALS).alias("tm"),
        ),
    )

    def metrics(o: Column) -> Column:
        tg = o["tg"]
        kept = F.transform(
            F.filter(tg, lambda s: s["lg"] & s["tm"]), lambda s: s["t"]
        )
        n_kept = F.size(kept).cast("long")
        n_short = F.size(F.filter(tg, lambda s: ~s["lg"])).cast("long")
        has_lorem = F.lower(F.col("text")).contains("lorem ipsum")
        has_brace = F.col("text").contains("{")
        return F.struct(
            F.size(tg).cast("long").alias("n_lines"),
            n_kept.alias("kept_lines"),
            n_short.alias("removed_short"),
            (F.size(tg).cast("long") - n_kept - n_short).alias("removed_no_punct"),
            has_lorem.alias("has_lorem"),
            has_brace.alias("has_brace"),
            (
                (n_kept >= F.lit(C4_MIN_KEPT_LINES)) & ~has_lorem & ~has_brace
            ).alias("page_keep"),
            F.array_join(kept, "\n").alias("cleaned_text"),
        )

    return F.transform(F.array(F.struct(tagged.alias("tg"))), metrics)[0]


def text_quality_report(docs: DataFrame) -> DataFrame:
    """Every row-local text-quality signal in ONE map-only projection:
    Gopher/MassiveText repetition metrics + C4 cleaning metrics +
    :func:`doc_quality`'s token/stopword/punctuation scores — the single
    corpus pass a curation pipeline actually runs (four separate operators
    would scan the 100 TB corpus four times for row-local math). The
    repetition and quality metrics share ONE let-bound document tokenization
    (C4's per-line tokenization is inherently separate). Column names are
    the union of :func:`doc_quality`, :func:`repetition_stats`, and
    :func:`c4_page_stats` (whose duplicate ``n_lines`` is emitted once)
    plus ``chars``.
    """
    rep_q = F.transform(
        F.array(F.struct(lines_expr(lower=True).alias("ls"),
                         words_expr().alias("ws"))),
        lambda o: F.struct(
            repetition_metrics(o["ls"], o["ws"]).alias("rep"),
            quality_metrics(o["ws"]).alias("q"),
        ),
    )[0]
    base = fan_out(
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    )
    # one alias per expensive struct; the second select expands fields off
    # the ATTRIBUTE (CollapseProject refuses to duplicate non-cheap exprs,
    # so each struct still evaluates once per row)
    out = base.select(
        "doc_id",
        F.length("text").cast("long").alias("chars"),
        rep_q.alias("_rq"),
        c4_struct_expr().alias("_c"),
    )
    c4_fields = [f for f in out.schema["_c"].dataType.fieldNames() if f != "n_lines"]
    return out.select(
        "doc_id", "chars", "_rq.q.*", "_rq.rep.*",
        *[F.col(f"_c.{f}").alias(f) for f in c4_fields],
    )


# ---------------------------------------------------------------------------
# corpus vocabulary census
# ---------------------------------------------------------------------------

def token_census(docs: DataFrame, top_k: int = 100) -> DataFrame:
    """Corpus-level vocabulary statistics: the ``top_k`` tokens by total
    occurrences, with document frequency and corpus share.

    The aggregation a tokenizer/vocab design pass runs over a training
    corpus (OOV-rate estimation, stopword discovery, vocab sizing). Scale
    shape: the classic TWO-PHASE census — explode tokens once, partial-agg
    ``groupBy(token, doc_id)`` (map-side combine collapses each document's
    repeats before the shuffle), then ``groupBy(token)`` over the tiny
    distinct-pair frame yields occurrences AND doc_freq in one pass — no
    ``countDistinct`` over the raw explode. The global token total for
    ``share`` rides a broadcast one-row cross join; top-k is a
    TakeOrderedAndProject (never a full sort). Ties on occurrences break
    lexicographically (mirrored by the SQL oracle).
    """
    pairs = (
        fan_out(docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text"))
        .select("doc_id", F.explode(words_expr()).alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    # per_token feeds BOTH the main projection and the global-total branch;
    # ReuseExchange usually dedups the subtree, but if reuse is off (or
    # canonicalization misses) the full corpus explode+aggregate would run
    # twice — persist the vocab-sized frame instead of relying on it
    per_token = pairs.groupBy("token").agg(
        F.sum("_c").cast("long").alias("occurrences"),
        F.count(F.lit(1)).cast("long").alias("doc_freq"),
    ).persist()
    total = per_token.agg(F.sum("occurrences").cast("long").alias("_total"))
    out = (
        per_token.crossJoin(F.broadcast(total))
        .select(
            "token", "occurrences", "doc_freq",
            F.round(F.col("occurrences") / F.col("_total"), 6).alias("share"),
        )
        .orderBy(F.col("occurrences").desc(), F.col("token").asc())
        .limit(top_k)
    )
    # cache handle: dcspark.pipeline_ckpt.release_caches(out) after consuming
    out._dcspark_cached = [per_token]
    return out
