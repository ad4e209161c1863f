"""KS/PSI drift: same distribution passes, shifted distribution fails."""

from pyspark.sql import functions as F

from dcspark import drift as drift_mod


def _nums(spark, seed, shift=0.0, n=4000):
    return (
        spark.range(n)
        .select(
            (F.hash(F.col("id") + F.lit(seed)) % 1000 / 100.0 + F.lit(shift)).alias("x")
        )
    )


def test_ref_stats_shape(spark):
    ref = _nums(spark, 1)
    stats = drift_mod.build_ref_stats(ref, ["x"], n_quantiles=49, n_bins=10)
    s = stats["x"]
    assert len(s["quantiles"]) == 49
    assert len(s["bin_probs"]) == len(s["bin_edges"]) + 1
    assert abs(sum(s["bin_probs"]) - 1.0) < 1e-9
    assert s["n"] == 4000


def _stat(spark, stats, df, method):
    exprs = drift_mod.drift_agg_exprs("x", stats["x"], method, "p")
    row = df.agg(*[v.alias(k) for k, v in exprs.items()]).first().asDict()
    return drift_mod.drift_statistic(row, stats["x"], method, "p")


def test_ks_same_vs_shifted(spark):
    ref = _nums(spark, 1)
    stats = drift_mod.build_ref_stats(ref, ["x"], n_quantiles=99, n_bins=10)
    same = _nums(spark, 2)  # different sample, same distribution
    shifted = _nums(spark, 2, shift=3.0)   # uniform width 20 -> theoretical KS = 3/20
    assert _stat(spark, stats, same, "ks") < 0.05
    assert 0.10 < _stat(spark, stats, shifted, "ks") < 0.20
    assert _stat(spark, stats, _nums(spark, 2, shift=10.0), "ks") > 0.45


def test_psi_same_vs_shifted(spark):
    ref = _nums(spark, 1)
    stats = drift_mod.build_ref_stats(ref, ["x"], n_quantiles=49, n_bins=10)
    same = _nums(spark, 3)
    shifted = _nums(spark, 3, shift=4.0)
    assert _stat(spark, stats, same, "psi") < 0.1
    assert _stat(spark, stats, shifted, "psi") > 0.5


def test_ref_stats_df_roundtrip(spark):
    stats = drift_mod.build_ref_stats(_nums(spark, 1), ["x"], n_quantiles=9, n_bins=4)
    df = drift_mod.ref_stats_to_df(spark, stats)
    back = drift_mod.ref_stats_from_df(df)
    assert back["x"]["quantiles"] == [float(q) for q in stats["x"]["quantiles"]]
    assert back["x"]["n"] == stats["x"]["n"]


def test_empty_current_returns_none(spark):
    stats = drift_mod.build_ref_stats(_nums(spark, 1), ["x"], n_quantiles=9, n_bins=4)
    empty = _nums(spark, 1).filter("x > 1e9")
    assert _stat(spark, stats, empty, "ks") is None


# -- categorical drift ---------------------------------------------------------


def _cat_clips(spark, dist):
    rows = []
    i = 0
    for value, count in dist.items():
        for _ in range(count):
            rows.append((f"c{i}", value))
            i += 1
    return spark.createDataFrame(rows, "clip_id string, codec string")


def test_categorical_ref_stats_shape(spark):
    df = _cat_clips(spark, {"pcm": 60, "flac": 30, "mp3": 8, "ogg": 2})
    stats = drift_mod.build_categorical_ref_stats(df, ["codec"], max_categories=3)
    s = stats["codec"]
    assert s["categories"] == ["pcm", "flac", "mp3"]  # count desc, value asc ties
    assert s["bin_probs"] == [0.6, 0.3, 0.08, 0.02]   # OTHER bucket last (ogg)
    assert s["n"] == 100
    # round-trips through the snapshot parquet schema
    back = drift_mod.ref_stats_from_df(drift_mod.ref_stats_to_df(spark, stats))
    assert back["codec"]["categories"] == s["categories"]
    assert back["codec"]["bin_probs"] == s["bin_probs"]


def test_categorical_psi_same_and_shifted(spark):
    ref_df = _cat_clips(spark, {"pcm": 60, "flac": 30, "mp3": 10})
    stats = drift_mod.build_categorical_ref_stats(ref_df, ["codec"])
    jobs = [{"prefix": "p", "column": "codec", "stats": stats["codec"],
             "method": "psi"}]
    same = drift_mod.drift_bucket_rows(ref_df, jobs)[None]
    assert drift_mod.drift_statistic(same, stats["codec"], "psi", "p") < 1e-9
    # shifted mix, incl. a value unseen in the reference (lands in OTHER)
    cur = _cat_clips(spark, {"pcm": 10, "flac": 30, "opus": 60})
    shifted = drift_mod.drift_bucket_rows(cur, jobs)[None]
    stat = drift_mod.drift_statistic(shifted, stats["codec"], "psi", "p")
    assert stat > 1.0
    assert shifted["p__bin3"] == 60  # OTHER bucket caught the unseen codec


def test_categorical_engine_end_to_end_and_ks_rejected(spark):
    from dcspark.engine import ValidationConfig, validate
    from dcspark.run_model import ResultEnum
    from dcspark.spec import DataContractSpecification

    contract = """
id: cat-drift
models:
  clips:
    fields:
      clip_id: {type: string, primaryKey: true}
      codec: {type: string}
    quality:
      - {type: drift, column: codec, method: psi, threshold: 0.2}
      - {type: drift, column: codec, method: ks}
"""
    ref_df = _cat_clips(spark, {"pcm": 60, "flac": 40})
    stats = drift_mod.build_categorical_ref_stats(ref_df, ["codec"])
    spec = DataContractSpecification.from_string(contract)
    cfg = ValidationConfig(ref_stats={"clips": stats})
    ok = validate(spark, spec, {"clips": ref_df}, cfg)
    by_type = {c.type: c for c in ok.run.checks if "drift" in (c.type or "")}
    assert by_type["drift_psi"].result == ResultEnum.passed
    assert by_type["drift_ks"].result == ResultEnum.error
    assert "psi only" in (by_type["drift_ks"].reason or "")
    bad = validate(spark, spec, {"clips": _cat_clips(spark, {"opus": 100})}, cfg)
    chk = [c for c in bad.run.checks if c.type == "drift_psi"][0]
    assert chk.result == ResultEnum.failed


def test_categorical_streaming_agg_exprs_parity(spark):
    """drift_agg_exprs' categorical branch (the streaming monitor path) must
    produce the same bucket counts as the bucket-rows job."""
    ref_df = _cat_clips(spark, {"pcm": 50, "flac": 50})
    stats = drift_mod.build_categorical_ref_stats(ref_df, ["codec"])["codec"]
    cur = _cat_clips(spark, {"pcm": 20, "flac": 30, "ogg": 50})
    exprs = drift_mod.drift_agg_exprs("codec", stats, "psi", "p")
    row = cur.agg(*[v.alias(k) for k, v in exprs.items()]).first().asDict()
    jobs = [{"prefix": "p", "column": "codec", "stats": stats, "method": "psi"}]
    bucketed = drift_mod.drift_bucket_rows(cur, jobs)[None]
    for k in drift_mod.drift_aliases("p", stats, "psi"):
        assert row[k] == bucketed[k], k


def test_categorical_all_null_reference_raises(spark):
    import pytest

    df = spark.createDataFrame([("c1", None), ("c2", None)],
                               "clip_id string, codec string")
    with pytest.raises(ValueError, match="no non-null"):
        drift_mod.build_categorical_ref_stats(df, ["codec"])


def test_snapshot_cli_rejects_ks_on_string_column(spark, tmp_path):
    """`snapshot` fails fast when a string drift column declares (or
    defaults to) a non-psi method — instead of writing a categorical
    snapshot every later `test` run errors on."""
    from dcspark.cli import main

    contract = """
id: cat-ks
models:
  clips:
    fields:
      clip_id: {type: string, primaryKey: true}
      codec: {type: string}
    quality:
      - {type: drift, column: codec}
"""
    cpath = str(tmp_path / "c.yaml")
    with open(cpath, "w") as f:
        f.write(contract)
    base = str(tmp_path / "in")
    _cat_clips(spark, {"pcm": 10}).write.parquet(f"{base}/clips.parquet")
    rc = main(["snapshot", cpath, "--path", base,
               "--out", str(tmp_path / "snaps"), "--master", "local[2]"])
    assert rc == 2


def test_bucket_rows_null_partition_keyed_as_string(spark):
    """Review findings: NULL partition values must key under a string (the
    engine merges by partition string) — a Python-None key would collide
    with the no-partition sentinel and those rows' counts silently vanish
    from the global drift statistic. The string is NULL_PARTITION, not
    str(None): a real "None" partition keeps counts of its own."""
    from dcspark import drift as drift_mod
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        (F.col("id") % 10).cast("double").alias("x"),
        F.when(F.col("id") % 4 == 0, None)
        .when(F.col("id") % 4 == 1, F.lit("None"))
        .otherwise((F.col("id") % 2).cast("string")).alias("bucket"))
    stats = drift_mod.build_ref_stats(df.select("x"), ["x"])
    checks = [{"prefix": "c0", "column": "x", "method": "ks", "stats": stats["x"]}]
    out = drift_mod.drift_bucket_rows(df, checks, partition_col="bucket")
    assert None not in out
    assert out[drift_mod.NULL_PARTITION]["c0__count"] == 25
    assert out["None"]["c0__count"] == 25
    total = sum(d.get("c0__count", 0) for d in out.values())
    assert total == 100  # every row counted exactly once


def test_build_ref_stats_all_null_column_clear_error(spark):
    import pytest

    from dcspark import drift as drift_mod
    from pyspark.sql import functions as F

    df = spark.range(10).select(F.lit(None).cast("double").alias("y"))
    with pytest.raises(ValueError, match="no non-null values.*'y'"):
        drift_mod.build_ref_stats(df, ["y"])


def test_drift_job_plan_has_no_lambda(spark, monkeypatch):
    """The bucket job bins each value with one binary search
    (drift.grid_buckets), not a literal-array lambda that runs once per grid
    point."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql import functions as F

    from dcspark import drift as drift_mod

    df = spark.range(200).select((F.col("id") % 17).cast("double").alias("x"),
                                 (F.col("id") % 3).cast("string").alias("p"))
    stats = drift_mod.build_ref_stats(df.select("x"), ["x"])
    checks = [{"prefix": "c0", "column": "x", "method": "ks", "stats": stats["x"]},
              {"prefix": "c1", "column": "x", "method": "psi", "stats": stats["x"]}]
    plans = []
    collect = DataFrame.collect

    def spy(self):
        plans.append(self._jdf.queryExecution().toString())
        return collect(self)

    monkeypatch.setattr(DataFrame, "collect", spy)
    out = drift_mod.drift_bucket_rows(df, checks, partition_col="p")
    assert sum(d["c0__count"] for d in out.values()) == 200
    assert len(plans) == 1
    assert "lambdafunction" not in plans[0].lower()
    assert "bucketizer" in plans[0].lower()
