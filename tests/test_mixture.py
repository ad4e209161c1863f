"""Domain-mixture reweighting (dcspark/sampling.py mixture_plan/sample)."""

import pytest
from pyspark.sql import functions as F

from dcspark import sampling


def _docs(spark):
    # 3 domains: a=60 docs x 10 tokens, b=30 x 10, c=10 x 10 (+1 NULL domain)
    rows = ([(i, "a", 10) for i in range(60)]
            + [(100 + i, "b", 10) for i in range(30)]
            + [(200 + i, "c", 10) for i in range(10)]
            + [(999, None, 10)])
    return spark.createDataFrame(rows, "doc_id long, domain string, tokens long")


def test_plan_math_and_cap(spark):
    docs = _docs(spark)
    plan = {r["domain"]: r for r in sampling.mixture_plan(
        docs, "domain", {"a": 1.0, "c": 1.0},
        budget_tokens=400.0, token_col="tokens").collect()}
    assert set(plan) == {"a", "c"}  # b and NULL unlisted -> no row
    assert plan["a"]["fraction"] == pytest.approx(400 * 0.5 / 600)
    assert plan["c"]["fraction"] == 1.0  # 200 wanted > 100 available -> capped
    assert plan["a"]["tokens"] == 600.0 and plan["a"]["docs"] == 60


def test_budget_share_uses_whole_corpus_total(spark):
    docs = _docs(spark)
    # grand total includes b and the NULL domain: 1010 tokens
    plan = {r["domain"]: r["fraction"] for r in sampling.mixture_plan(
        docs, "domain", {"a": 1.0}, budget_share=0.5,
        token_col="tokens").collect()}
    assert plan["a"] == pytest.approx(0.5 * 1010 / 600)


def test_sample_is_deterministic_and_capped_domain_kept_whole(spark):
    docs = _docs(spark)
    kept = sampling.mixture_sample(
        docs, "doc_id", "domain", {"a": 1.0, "c": 1.0},
        budget_tokens=400.0, token_col="tokens", salt="s")
    rows = kept.collect()
    again = sampling.mixture_sample(
        docs.repartition(7), "doc_id", "domain", {"a": 1.0, "c": 1.0},
        budget_tokens=400.0, token_col="tokens", salt="s").collect()
    assert sorted(r["doc_id"] for r in rows) == sorted(r["doc_id"] for r in again)
    c_kept = [r for r in rows if 200 <= r["doc_id"] < 300]
    assert len(c_kept) == 10  # fraction 1.0 -> whole domain
    assert not any(r["doc_id"] == 999 for r in rows)  # NULL domain dropped
    assert not any(100 <= r["doc_id"] < 200 for r in rows)  # unlisted dropped
    # sampled domain keeps roughly its fraction (draw is uniform; wide bound)
    a_kept = [r for r in rows if r["doc_id"] < 100]
    assert 5 <= len(a_kept) <= 40


def test_arg_validation(spark):
    docs = _docs(spark)
    with pytest.raises(ValueError):
        sampling.mixture_plan(docs, "domain", {"a": 1.0})
    with pytest.raises(ValueError):
        sampling.mixture_plan(docs, "domain", {"a": 1.0},
                              budget_tokens=1.0, budget_share=0.5)
    with pytest.raises(ValueError):
        sampling.mixture_plan(docs, "domain", {"a": 0.0}, budget_tokens=1.0)


def test_leakage_safe_split_clusters_never_straddle(spark):
    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    # transitive chain 0-1-2-3 plus pair (50, 51)
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (50, 51)], "doc_a long, doc_b long")
    out = sampling.leakage_safe_split(
        docs, pairs, {"train": 0.5, "val": 0.25, "test": 0.25}, salt="x")
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(rows) == 200
    assert len({rows[i] for i in (0, 1, 2, 3)}) == 1
    assert rows[50] == rows[51]
    # unclustered docs get the same assignment plain hash_split gives a
    # string-cast key — adding pairs never reshuffles the majority
    plain = {r["doc_id"]: r["split"] for r in sampling.hash_split(
        docs.withColumn("k", F.col("doc_id").cast("string")),
        "k", {"train": 0.5, "val": 0.25, "test": 0.25}, salt="x").collect()}
    for i in range(4, 50):
        assert rows[i] == plain[i]


def test_perplexity_buckets(spark):
    from dcspark import lmscore

    scored = spark.createDataFrame(
        [(0, 5, 1.0, 2.0), (1, 5, 0.5, 9.0), (2, 5, 0.7, 4.0),
         (3, 5, 0.9, 3.0), (4, 0, None, None), (5, 5, 0.6, 8.0),
         (6, 5, 0.8, 5.0)],
        "doc_id long, n_bigrams long, avg_logprob double, perplexity double")
    out = {r["doc_id"]: r["bucket"]
           for r in lmscore.perplexity_buckets(scored, n_buckets=3).collect()}
    # ppl order 2,3,4,5,8,9 -> 6 rows over 3 buckets = 2 each:
    # docs (0,3)=bucket 1, (2,6)=2, (5,1)=3; NULL ppl -> NULL bucket
    assert out == {0: 1, 3: 1, 2: 2, 6: 2, 5: 3, 1: 3, 4: None}


def test_perplexity_buckets_grouped(spark):
    from dcspark import lmscore

    scored = spark.createDataFrame(
        [(0, "en", 1.0), (1, "en", 2.0), (2, "en", 3.0), (3, "en", 4.0),
         (4, "de", 10.0), (5, "de", 20.0)],
        "doc_id long, lang string, perplexity double")
    out = {r["doc_id"]: r["bucket"] for r in
           lmscore.perplexity_buckets(scored, n_buckets=2, by="lang").collect()}
    assert out == {0: 1, 1: 1, 2: 2, 3: 2, 4: 1, 5: 2}


def test_cli_lmscore_mixture_split(tmp_path, capsys, spark):
    """CLI surfaces for the new curation operators: lmscore (self-trained +
    buckets), mixture (budget-share), split (--pairs leakage guard), and
    dedup --survivors."""
    from dcspark.cli import main

    docs_dir = str(tmp_path / "docs")
    rows = [(i, f"common words {i % 5} appear here", ["en", "de"][i % 2])
            for i in range(60)]
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(docs_dir)

    lm_out = str(tmp_path / "lm")
    assert main(["lmscore", "--input", docs_dir, "--output", lm_out,
                 "--buckets", "2", "--bucket-by", "lang"]) == 0
    capsys.readouterr()
    lm = spark.read.parquet(lm_out)
    assert {"doc_id", "perplexity", "bucket", "lang"} <= set(lm.columns)
    assert lm.count() == 60
    assert lm.filter(F.col("bucket").isin(1, 2)).count() == 60

    mix_out = str(tmp_path / "mix")
    assert main(["mixture", "--input", docs_dir, "--output", mix_out,
                 "--targets", "en=1,de=1", "--budget-share", "0.5"]) == 0
    out = capsys.readouterr().out
    assert "mixture: kept" in out
    assert 0 < spark.read.parquet(mix_out).count() <= 60

    pairs_dir = str(tmp_path / "pairs")
    spark.createDataFrame([(0, 2), (2, 4)], "doc_a long, doc_b long") \
        .write.parquet(pairs_dir)
    split_out = str(tmp_path / "split")
    assert main(["split", "--input", docs_dir, "--output", split_out,
                 "--pairs", pairs_dir]) == 0
    capsys.readouterr()
    sp = {r["doc_id"]: r["split"]
          for r in spark.read.parquet(split_out).collect()}
    assert len(sp) == 60 and len({sp[0], sp[2], sp[4]}) == 1


def test_perplexity_buckets_duplicate_ids_keep_one_row_each(spark):
    """One output row per input row: a duplicated doc_id and a doc_id that
    sits in two ``by`` groups each keep their own group's bucket (a rejoin
    on doc_id alone fanned them out N x N across groups)."""
    from dcspark import lmscore

    scored = spark.createDataFrame(
        [("a", "en", 1.0), ("a", "en", 2.0), ("b", "en", 3.0),
         ("d", "en", None), ("b", "de", 10.0), ("c", "de", 20.0)],
        "doc_id string, lang string, perplexity double")
    out = sorted(
        (tuple(r) for r in lmscore.perplexity_buckets(
            scored, n_buckets=2, by="lang").collect()),
        key=lambda r: (r[1], r[2] is None, r[2] or 0.0))
    assert out == [("b", "de", 10.0, 1), ("c", "de", 20.0, 2),
                   ("a", "en", 1.0, 1), ("a", "en", 2.0, 1),
                   ("b", "en", 3.0, 2), ("d", "en", None, None)]
