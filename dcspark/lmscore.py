"""N-gram language-model perplexity scoring for corpus quality filtering.

The CCNet recipe (Wenzek et al., "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data", LREC 2020) ranks web documents by the
perplexity of a small n-gram LM trained on a trusted corpus: low perplexity =
looks like the reference distribution (keep), high = boilerplate, markup soup,
generated spam (drop or down-weight). This module is that scorer as pure
DataFrame algebra — an add-k-smoothed bigram model whose training is ONE
corpus scan and whose scoring is two equi-joins against the (small) count
tables, no UDFs anywhere.

Model: P(w2 | w1) = (c(w1, w2) + k) / (c(w1, .) + k * V), the add-k
(Lidstone) estimate; V is the vocabulary size (distinct successor tokens).
Each document contributes bigrams over its `textops.words_expr` alnum tokens
with a BOS sentinel prepended (chr(2) — outside the [a-z0-9]+ token alphabet,
so it can never collide with a real token). Document score:

    avg_logprob = mean over bigrams of ln P(w2 | w1)
    perplexity  = exp(-avg_logprob)

Scale shape (the part that matters at 10^12 docs):

- **Training is one scan + one shuffle.** The corpus explodes to bigram rows
  (~tokens per doc — same cost class as `decontam`'s n-gram explode) and
  partial-aggregates map-side into (w1, w2) counts. Context totals
  c(w1, .) and the vocabulary size derive from the *aggregated* bigram table
  (sum / countDistinct over unique-bigram rows), never a second corpus scan.
- **The LM is small.** Unique-bigram counts grow sublinearly (Heaps' law);
  a web-scale English LM is 10^7-10^8 rows of (string, string, long) —
  persisted once (MEMORY_AND_DISK), broadcastable when pruned by
  ``min_count``.
- **Scoring joins carry unique keys on the LM side**, so the (w1, w2) and
  (w1) equi-joins hash-join cleanly; frequent contexts ("the", "of") skew
  only the probe side, which AQE rebalances. ``broadcast_lm=True`` pins both
  LM frames map-side (zero scoring shuffle besides the per-doc regroup);
  default leaves the choice to AQE's size estimate.
- **No driver involvement** beyond the vocab-size scalar (one count of the
  aggregated frame, computed during training anyway).

Reference parity: the reference (datacontract-cli) has no LM scorer; this
extends the §2.5 training-data axes like `textops.c4_page_stats` /
`repetition_stats` — the third leg (distributional quality) next to their
rule-based legs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from dcspark.textops import words_expr

#: BOS sentinel: chr(2) is outside the alnum token alphabet — collision-free.
BOS = "\x02"

_BIGRAMS_EXPR = (
    "CASE WHEN size(__ws) < 2 THEN array() "
    "ELSE transform(sequence(1, size(__ws) - 1), "
    "i -> struct(__ws[i-1] AS w1, __ws[i] AS w2)) END"
)


def bigram_rows(docs: DataFrame, col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """(doc_id, w1, w2) — one row per bigram occurrence, BOS prepended.

    Pure codegen: token regexp + sequence/transform + explode. Empty or
    one-token documents emit no rows (the guard also sidesteps Spark's
    descending ``sequence(1, 0)``).
    """
    ws = F.concat(F.array(F.lit(BOS)), words_expr(col))
    return (
        docs.select(F.col(id_col).alias("doc_id"), ws.alias("__ws"))
        .select("doc_id", F.explode(F.expr(_BIGRAMS_EXPR)).alias("bg"))
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )


@dataclass
class BigramLM:
    """Trained model: unique-bigram counts, context totals, vocab size.

    ``bigrams`` is persisted (training materialized it to count the vocab);
    call :meth:`release` when the model is no longer needed so long-lived
    sessions don't leak the cached blocks.
    """

    bigrams: DataFrame   # (w1, w2, c12) — unique keys
    contexts: DataFrame  # (w1, c1) — c1 = sum of c12 over w1, PRE-min_count
    vocab: int           # distinct successor tokens, PRE-min_count

    def release(self) -> None:
        # unpersist the frame that was actually persisted: with min_count>1
        # ``bigrams`` is a filtered DERIVATIVE, and unpersist() only matches
        # sameResult plans (the textops-documented trap), so calling it there
        # would be a silent no-op leaking the cached bigram table
        for cached in getattr(self.bigrams, "_dcspark_cached", ()) or (self.bigrams,):
            cached.unpersist()


def train_bigram_lm(corpus: DataFrame, col: str = "text",
                    id_col: str = "doc_id", min_count: int = 1) -> BigramLM:
    """One-scan add-k bigram model over ``corpus``.

    ``min_count`` prunes rare bigrams from the count table AFTER the context
    totals and vocabulary are fixed, so pruning shrinks the scoring join's
    build side (pruned pairs fall back to the smoothed unseen estimate)
    without changing the denominator semantics.
    """
    bg = (
        bigram_rows(corpus, col=col, id_col=id_col)
        .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vocab = bg.select("w2").distinct().count()
    contexts = bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    if min_count > 1:
        bg_out = bg.filter(F.col("c12") >= min_count)
    else:
        bg_out = bg
    lm = BigramLM(bigrams=bg_out, contexts=contexts, vocab=vocab)
    # cache handle rides the frame like textops/audiofp persists do
    bg_out._dcspark_cached = [bg]  # noqa: SLF001 (repo-wide convention)
    return lm


def perplexity(docs: DataFrame, lm: BigramLM, col: str = "text",
               id_col: str = "doc_id", k: float = 0.1,
               broadcast_lm: bool = False, digits: int = 6) -> DataFrame:
    """(doc_id, n_bigrams, avg_logprob, perplexity) for every input doc.

    Documents with fewer than two tokens score NULL (n_bigrams = 0) — kept
    via the final left join so downstream filters see them explicitly rather
    than silently losing rows. Floats round to ``digits`` for cross-engine
    hash stability (pass ``digits=None``-like large values for raw doubles).
    """
    b2 = F.broadcast(lm.bigrams) if broadcast_lm else lm.bigrams
    b1 = F.broadcast(lm.contexts) if broadcast_lm else lm.contexts
    lp = F.log((F.coalesce(F.col("c12"), F.lit(0)) + F.lit(k))
               / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(k) * F.lit(float(lm.vocab))))
    scored = (
        bigram_rows(docs, col=col, id_col=id_col)
        .join(b2, ["w1", "w2"], "left")
        .join(b1, ["w1"], "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.avg(lp).alias("__alp"))
    )
    ids = docs.select(F.col(id_col).alias("doc_id"))
    return (
        ids.join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.round(F.col("__alp"), digits).alias("avg_logprob"),
            F.round(F.exp(-F.col("__alp")), digits).alias("perplexity"),
        )
    )


def self_perplexity(docs: DataFrame, col: str = "text", id_col: str = "doc_id",
                    k: float = 0.1, min_count: int = 1,
                    broadcast_lm: bool = False, digits: int = 6) -> DataFrame:
    """Train on ``docs`` and score the same frame (in-domain outlier mining:
    the corpus's own distribution flags its tail). The returned frame carries
    the LM cache handle so `pipeline_ckpt.release_caches` can free it."""
    lm = train_bigram_lm(docs, col=col, id_col=id_col, min_count=min_count)
    out = perplexity(docs, lm, col=col, id_col=id_col, k=k,
                     broadcast_lm=broadcast_lm, digits=digits)
    out._dcspark_cached = list(getattr(lm.bigrams, "_dcspark_cached", ())) or [lm.bigrams]
    return out


def perplexity_buckets(scored: DataFrame, n_buckets: int = 3,
                       by: str | None = None) -> DataFrame:
    """CCNet's head/middle/tail partitioning: equal-count perplexity buckets
    (1 = lowest perplexity = most in-distribution), optionally within a
    grouping column (CCNet buckets per language so no language is judged by
    another's LM). Unscorable docs (NULL perplexity, i.e. <2 tokens) get
    bucket NULL rather than polluting the tail. Ordering ties break on
    doc_id, so bucket assignment is fully deterministic.

    ntile is one shuffle on the (tiny) score frame; at 10^12 docs prefer
    approx-quantile cutoffs from `tdigest` and a map-side CASE — this exact
    form is for corpus-sized score frames and oracle checks.
    """
    unscored = F.col("perplexity").isNull()
    # NULLs must be EXCLUDED from the ntile frame, not just masked in the
    # output: asc ordering sorts them first, so masked-but-present null rows
    # would consume head-bucket slots and shift every scored doc's bucket
    # (a CCNet "keep bucket 1" filter could then keep nothing) — so they get
    # a window partition of their own. Bucketing in place, not by a rejoin
    # on doc_id, keeps one row per input row when doc_ids repeat.
    w = (Window.partitionBy(*([F.col(by)] if by else []), unscored)
         .orderBy(F.col("perplexity").asc(), F.col("doc_id").asc()))
    out = scored.select(
        "doc_id", *[c for c in scored.columns if c != "doc_id"],
        F.when(~unscored, F.ntile(n_buckets).over(w)).alias("bucket"))
    out._dcspark_cached = list(getattr(scored, "_dcspark_cached", ()))
    return out
