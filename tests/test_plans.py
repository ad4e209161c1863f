"""Physical-plan quality gates: pushdown, pruning, broadcast, codegen.

These assert the plans the engine is DESIGNED to produce (SURVEY.md §4) so a
regression that silently de-optimizes (e.g. an expression change that breaks
filter pushdown or starts scanning the audio `bytes` column in metric-only
passes) fails loudly in CI rather than showing up as a 10x slowdown at scale.
"""

import re

import pytest
from pyspark.sql import functions as F

from dcspark import simsearch, textops
from dcspark import audio as audio_mod

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(df) -> str:
    """Execute (AQE finalizes the physical plan only at runtime) and return
    the final plan string, codegen annotations included."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") > 49).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity,49" in plan


def test_column_pruning_in_metric_scan(spark):
    """A metric aggregate over two columns must not read the rest of the table."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    agg = orders.agg(
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)),
        F.max("o_totalprice"),
    )
    plan = _plan(agg)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "o_custkey" in read_schema and "o_totalprice" in read_schema
    assert "o_orderdate" not in read_schema
    assert "o_orderpriority" not in read_schema


def test_audio_report_prunes_to_needed_columns(spark):
    """The decode pass reads exactly clip_id/bytes/sr_hz/dur_ms/codec."""
    df = spark.createDataFrame(
        [], schema="clip_id string, bytes binary, sr_hz int, dur_ms int, "
                   "codec string, transcript string, extra string")
    report = audio_mod.audio_decode_report(df)
    opt = _optimized(report)
    # The source relation's own line lists every column it has; what matters is
    # that the MapInArrow input (its child Project) carries only the 5 needed
    # columns so nothing else crosses the Arrow boundary.
    map_line = [l for l in opt.splitlines() if "MapInArrow" in l][0]
    proj_line = [l for l in opt.splitlines() if "Project" in l][0]
    for col in ("transcript", "extra"):
        assert col not in map_line
        assert col not in proj_line


def test_metric_scan_never_reads_payload_when_audio_present(spark):
    """With an audio check on the model, the shared metric agg must NOT read
    the binary payload column: its missing-count is rerouted into the decode
    pass, so the JVM scan's ReadSchema stays narrow (the payload would
    otherwise be re-materialized on-heap and wreck scan scaling)."""
    from dcspark.compile import create_checks
    from dcspark.engine import Validator
    from dcspark.spec import DataContractSpecification

    import os

    spec = DataContractSpecification.from_file(
        os.path.join(os.path.dirname(__file__), "..", "contracts", "audio_clips.yaml"))
    checks = create_checks(spec)["audio_clips"]
    agg_checks = [c for c in checks if c.kind in ("agg", "freshness", "retention")]
    v = object.__new__(Validator)  # no session needed for spec plumbing
    v.config = __import__("dcspark.engine", fromlist=["ValidationConfig"]).ValidationConfig()
    exprs, ops, _ = Validator._shared_agg_specs(v, "audio_clips", agg_checks, [])
    rerouted = Validator._reroute_bytes_aliases(agg_checks, exprs, ops)
    assert rerouted, "bytes required-check was not rerouted into the audio pass"

    df = spark.createDataFrame(
        [], schema="clip_id string, bytes binary, sr_hz int, dur_ms int, "
                   "codec string, transcript string")
    agg = df.agg(*[c.alias(a) for a, c in exprs.items()])
    # the source relation line lists every column it HAS; the Aggregate (and
    # the pruning Project under it) must not REFERENCE the payload column
    non_source = [l for l in _optimized(agg).splitlines() if "LogicalRDD" not in l]
    assert non_source and all("bytes" not in l for l in non_source)


def test_reference_check_uses_broadcast_join(spark):
    child = spark.read.parquet(f"{SF}/orders.parquet")
    parent = spark.read.parquet(f"{SF}/customer.parquet")
    keys = F.broadcast(parent.select(F.col("c_custkey").alias("__k")).distinct())
    orphans = child.select("o_custkey").join(
        keys, F.col("o_custkey") == F.col("__k"), "left_anti")
    plan = _plan(orphans)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "LeftAnti" in plan


def test_shared_agg_is_single_exchange(spark):
    """Global multi-aggregate: one partial/final HashAggregate pair, one
    singleton Exchange — no shuffle of data rows."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    agg = li.agg(
        F.count(F.lit(1)),
        F.sum(F.when(F.col("l_quantity") > 45, 1).otherwise(0)),
        F.min("l_quantity"), F.max("l_quantity"),
    )
    plan = _plan(agg)
    assert plan.count("Exchange") == 1
    assert "SinglePartition" in plan


def test_shared_agg_keeps_whole_stage_codegen(spark):
    """~20 metric columns must stay on the codegen path (the drift grids are
    deliberately NOT inlined here — they run as their own bucket job, see
    drift.drift_bucket_rows)."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    cols = [F.sum(F.when(F.col("l_quantity") > k, 1).otherwise(0)).alias(f"c{k}")
            for k in range(20)]
    plan = _final_plan(li.agg(*cols))
    # codegen'd stages carry the `*(n)` prefix in the final plan string
    assert re.search(r"\*\(\d+\) HashAggregate", plan), plan[:500]


def test_ann_topk_broadcasts_probe_side(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    topk = simsearch.cosine_topk(emb, [0, 1, 2], k=3)
    plan = _plan(topk)
    assert "Broadcast" in plan


def test_ivf_topk_broadcasts_probe_side(spark):
    """IVF search joins the corpus to exploded probe cells — the probe side
    (tiny) must broadcast so the corpus scan is the only full pass."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    plan = _plan(simsearch.ivf_topk(emb, [0, 1], dim=dim, k=3))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_near_dup_pairs_no_nested_loop_join(spark):
    """Bucketed embedding near-dup (VERDICT defect #2 fix): candidates must
    come from equi-joins on signature blocks — never a BroadcastNestedLoopJoin
    or cartesian product over the corpus."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    plan = _plan(simsearch.near_dup_pairs(emb, dim=dim, threshold=0.35))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def _planted_dup_corpus(spark, n_base=200, n_plant=30):
    """Embeddings plus near-identical copies (vec_id+1000, first component
    nudged +0.05 → cosine ≈ 0.999): the ground truth an honest near-dup
    operator must recover. The raw synthetic embeddings top out at pairwise
    cosine ~0.45 — NOT near-dups — so recall is measured on the plants."""
    base = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .filter(F.col("vec_id") < n_base)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    dim = len(base.select("embedding").first()[0])
    dups = base.filter(F.col("vec_id") < n_plant).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.concat(
            F.array(F.col("embedding")[0] + F.lit(0.05)),
            F.slice(F.col("embedding"), 2, dim - 1),
        ).alias("embedding"),
    )
    return base.unionByName(dups), dim


def test_near_dup_pairs_recall_and_precision_vs_exact(spark):
    """On a corpus with planted near-identical pairs: every planted pair is
    recovered (recall on true near-dups), every reported pair appears in the
    exact all-pairs oracle with the identical score (bucketing may lose
    recall on borderline pairs, never precision)."""
    corpus, dim = _planted_dup_corpus(spark)
    approx = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in simsearch.near_dup_pairs(corpus, dim=dim, threshold=0.9).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in simsearch.near_dup_pairs_exact(corpus, threshold=0.9).collect()
    }
    planted = {(i, i + 1000) for i in range(30)}
    assert planted <= set(approx), f"missed plants: {planted - set(approx)}"
    assert set(approx) <= set(exact)
    assert all(abs(exact[k] - v) < 1e-9 for k, v in approx.items())


def test_near_dup_candidate_volume_bounded(spark):
    """VERDICT r02 defect #1 gate: on uniform-random data the 16-bit block
    keyspace (65,536 values) dominates the corpus, so candidate volume is
    O(N²/keyspace · n_blocks) — far below N²/16, the old 4-bit regime. Gate
    at 2·N to catch any regression toward narrow block keys."""
    n = 2000
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            (F.pmod(F.hash(F.col("id") * 64 + d), 1000) / 500.0 - 1.0).alias(f"c{d}")
            for d in range(16)
        ]).alias("embedding"),
    )
    keyed = df.select(
        "vec_id",
        *[simsearch.block_key_expr(F.col("embedding").cast("array<double>"),
                                   16, b, 16).alias(f"b{b}") for b in range(4)],
    ).persist()
    cands = simsearch._block_candidates(keyed, 4, max_bucket=500).count()
    keyed.unpersist()
    assert cands <= 2 * n, f"{cands} candidates for {n} rows — blocking too narrow"


def test_near_dup_single_hot_key_census(spark):
    """VERDICT r04 defect #1 gate: the hot-bucket guard must be ONE groupBy
    over the posexploded (block_idx, key) frame + ONE anti-join, not a
    per-block loop (4 aggregation jobs + 4 anti-join stages = 4.4× slower).
    The guarded frame is persisted, so: its own plan holds exactly 1 census
    Aggregate + 1 LeftAnti, no per-block (b0..b3)-keyed census exists
    anywhere, and the self-join reads the cache on both sides."""
    from dcspark import pipeline_ckpt

    df = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            (F.pmod(F.hash(F.col("id") * 16 + d), 1000) / 500.0 - 1.0).alias(f"c{d}")
            for d in range(16)
        ]).alias("embedding"),
    )
    keyed = df.select(
        "vec_id",
        *[simsearch.block_key_expr(F.col("embedding").cast("array<double>"),
                                   16, b, 16).alias(f"b{b}") for b in range(4)],
    )
    out = simsearch._block_candidates(keyed, 4, max_bucket=500)
    guarded = out._dcspark_cached[0]
    # the guard frame is persisted: its optimized plan is the InMemoryRelation
    # wrapping the cached PHYSICAL plan — gate on physical node counts
    gplan = _optimized(guarded)
    aggs = re.findall(r"HashAggregate\(keys=\[([^\]]*)\]", gplan)
    n_anti = len(re.findall(r"\bLeftAnti\b", gplan))
    assert 1 <= len(aggs) <= 2, f"{len(aggs)} census aggregates (want 1 final, ≤1 partial)"
    assert all("__bi" in k and "__k" in k for k in aggs), \
        f"census keyed on {aggs} — per-block census regressed"
    assert n_anti == 1, f"{n_anti} LeftAnti joins in guard plan (want 1)"
    # the self-join must read the persisted guard, not re-derive it per side
    jplan = _plan(out)
    assert jplan.count("InMemoryTableScan") >= 2, "self-join sides not cached"
    pipeline_ckpt.release_caches(out)


def test_near_dup_hot_bucket_guard_bounds_degenerate_mass(spark):
    """1000 identical vectors share every block key; without the max_bucket
    guard the per-block equi-join emits ~500k pairs. The guard drops the
    over-full (non-discriminative) buckets: zero candidates, job survives.
    Exact-dedup-first is the documented workflow for identical vectors."""
    df = spark.range(1000).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(d % 3 - 1)) for d in range(16)]).alias("embedding"),
    )
    out = simsearch.near_dup_pairs(df, dim=16, threshold=0.9, max_bucket=500)
    assert out.count() == 0
    # guard off: the degenerate mass really is quadratic (sanity check the
    # guard is what bounded it) — run on a small slice to keep it cheap
    small = df.filter(F.col("vec_id") < 50)
    uncapped = simsearch.near_dup_pairs(small, dim=16, threshold=0.9, max_bucket=None)
    assert uncapped.count() == 50 * 49 // 2


def test_simhash_single_md5_projection(spark):
    """simhash_table must evaluate md5 once per token: the hash array lives in
    its own Project and the 16 per-bit passes reference it (VERDICT defect #3).
    A regression re-inlining the transform shows up as 16 md5 calls per plan."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    opt = _optimized(textops.simhash_table(docs))
    assert opt.count("md5(") == 1, f"md5 evaluated {opt.count('md5(')}x in plan"


def test_winnowing_single_gram_hash_pass(spark):
    """winnow_expr's let-binding must keep the k-gram md5 array out of the
    per-window slice: exactly ONE md5 in the optimized plan. A regression
    re-inlining it recomputes the whole array per window (O(len^2) md5s/doc —
    measured >80x slower before the nested-lambda binding)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    opt = _optimized(textops.winnowing_table(docs))
    assert opt.count("md5(") == 1, f"md5 evaluated {opt.count('md5(')}x in plan"


def test_dedup_shuffles_fingerprints_not_text(spark):
    """Exact dedup's exchange carries the md5 fingerprint, never the document
    body — shuffle volume is 32 bytes/row regardless of text size."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    stats = textops.exact_dup_stats(docs)
    plan = _plan(stats)
    exchange_sections = [
        s for s in plan.split("Exchange") if "hashpartitioning" in s.split("\n")[0]
    ]
    assert exchange_sections, "expected a hash exchange for the fingerprint groupBy"
    assert "fp#" in exchange_sections[0].split("\n")[0]


def test_group_check_uses_partial_aggregation(spark):
    """The group-quality job must shuffle (key, partials), not rows: plan
    shows partial HashAggregate before the Exchange (map-side combine is the
    implicit salt — same argument as _unique_compute), and the scan reads
    only the group + aggregated columns."""
    from dcspark import DataContractSpecification, ValidationConfig
    from dcspark.compile import create_checks

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    spec = DataContractSpecification.from_string("""
id: g
models:
  orders:
    fields:
      o_orderkey: {type: long, primaryKey: true}
    quality:
      - {type: group, column: o_orderpriority, metric: avg, over: o_totalprice,
         mustBeLessThan: 250000}
""")
    chk = [c for c in create_checks(spec)["orders"] if c.kind == "group"][0]
    p = chk.params
    grouped = orders.groupBy(F.col(p["group_col"]).alias("__gkey")).agg(
        p["agg_expr"]().alias("__gval"))
    viol = grouped.filter(~F.coalesce(p["pass_pred"](F.col("__gval")), F.lit(False)))
    plan = _final_plan(viol).split("== Initial Plan ==")[0]
    assert plan.count("HashAggregate") == 2          # partial + final, one shuffle
    assert "partial_avg" in plan                     # map-side combine before Exchange
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "o_orderpriority" in read_schema and "o_totalprice" in read_schema
    assert "o_comment" not in read_schema and "o_orderdate" not in read_schema


def test_lineage_probe_prunes_to_partition_column(spark):
    """The checkpoint lineage probe (engine._partition_lineage) must read ONLY
    the partition column — at 100 TB a probe that materializes data columns
    would cost as much as the scan it is trying to avoid on resume."""
    from dcspark.engine import ValidationConfig, Validator

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    v = object.__new__(Validator)
    v.config = ValidationConfig()
    probe = li.select(
        F.col("l_returnflag").cast("string").alias("p"),
        F.input_file_name().alias("f")).distinct()
    plan = _final_plan(probe).split("== Initial Plan ==")[0]
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_returnflag" in read_schema
    for heavy in ("l_comment", "l_extendedprice", "l_orderkey"):
        assert heavy not in read_schema
    # and the real helper agrees with the probe's shape end-to-end
    lin = Validator._partition_lineage(v, li, "l_returnflag")
    assert set(lin) == {"A", "N", "R"}
    assert all(e["files"] >= 1 and len(e["sig"]) == 32 for e in lin.values())


def test_lsh_band_hot_bucket_guard(spark):
    """VERDICT r02 defect #2 gate: 1,000 near-identical docs land in one
    (band, key) bucket per band; uncapped, the band self-join emits ~500k
    candidate pairs per band. The max_bucket guard drops the over-full,
    non-discriminative buckets so candidate volume stays bounded — exact
    dedup first is the documented workflow for identical text."""
    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate license text appears on every page")
        .alias("text"),
    )
    capped = textops.lsh_candidate_pairs(docs, max_bucket=500)
    assert capped.count() == 0
    # a handful of identical docs below the cap still pair up normally
    small = docs.filter(F.col("id") < 20)
    assert textops.lsh_candidate_pairs(small, max_bucket=500).count() == 20 * 19 // 2


def test_audioops_prune_to_id_and_bytes(spark, tmp_path):
    """Every audioops pass (transcode, segments, chunks, logmel) projects
    (clip_id, bytes) before mapInArrow, so a parquet-backed clips table scans
    exactly those two columns — sr_hz/dur_ms/codec/transcript never leave the
    file reader."""
    from dcspark import audioops as aops
    from dcspark.synth import wav_bytes
    import numpy as np

    p = str(tmp_path / "clips")
    pcm = np.zeros(1600, dtype=np.int16)
    spark.createDataFrame(
        [("a", bytearray(wav_bytes(pcm, 16000)), 16000, 100, "pcm_s16le", "t")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, "
        "transcript string").write.parquet(p)
    table = spark.read.parquet(p)
    for op in (aops.audio_transcode, aops.audio_segments,
               lambda d: aops.audio_chunks(d, emit_bytes=False),
               aops.audio_logmel):
        plan = _plan(op(table))
        read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
        assert "clip_id" in read_schema and "bytes" in read_schema
        for col in ("sr_hz", "dur_ms", "codec", "transcript"):
            assert col not in read_schema, (op, col, read_schema)


def test_image_and_video_passes_prune_scan(spark, tmp_path):
    """image_compact / image_fingerprints / image_metadata / image_transcode
    / video_metadata / video_fingerprints read ONLY (id, bytes) from the
    file reader — a media table's other columns (declared dims, captions)
    must never reach the decode pass."""
    import numpy as np

    from dcspark import imagefp, multimodal

    p = str(tmp_path / "media")
    png = bytearray(multimodal.png_bytes(
        np.zeros((8, 8, 3), dtype=np.uint8)))
    spark.createDataFrame(
        [("a", png, 8, 8, 25.0, "caption text")],
        "id string, bytes binary, width int, height int, fps double, "
        "caption string").write.parquet(p)
    table = spark.read.parquet(p)
    ops = (
        lambda d: imagefp.image_compact(
            d, with_dhash=True, features=("brightness", "entropy")),
        imagefp.image_fingerprints,
        multimodal.image_metadata,
        multimodal.image_transcode,
        multimodal.video_metadata,
        imagefp.video_fingerprints,
    )
    for op in ops:
        plan = _plan(op(table))
        read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
        assert "id" in read_schema and "bytes" in read_schema
        for col in ("width", "height", "fps", "caption"):
            assert col not in read_schema, (op, col, read_schema)


def _counted_source(spark, kind, n, acc):
    """An n-row (id, bytes) payload source that adds 1 to ``acc`` per row
    it produces: audio WAVs, PNG images or Motion-JPEG AVI videos."""
    import numpy as np

    def payload(i):
        if kind == "audio":
            from dcspark.synth import wav_bytes
            t = np.arange(8000) / 8000.0
            return wav_bytes((np.sin(2 * np.pi * (300 + i * 37 % 1700) * t)
                              * 20000).astype(np.int16), 8000)
        if kind == "image":
            from dcspark.multimodal import png_bytes
            return png_bytes((np.arange(16 * 20 * 3).reshape(16, 20, 3)
                              * (i + 1) % 256).astype(np.uint8))
        from dcspark.avi import avi_bytes
        return avi_bytes([(np.full((16, 20, 3), (j * 40 + i * 3) % 256, np.uint8)
                           + np.arange(20, dtype=np.uint8)[None, :, None])
                          for j in range(3)], fps=25.0)

    id_col = "clip_id" if kind == "audio" else "id"

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for i in pdf["id"].tolist():
                acc.add(1)
                rows.append({id_col: f"{kind[0]}{i}", "bytes": payload(i)})
            yield pd.DataFrame(rows)

    return spark.range(0, n, 1, 2).mapInPandas(gen, f"{id_col} string, bytes binary")


def test_near_dup_operators_evaluate_source_once(spark):
    """The standalone near-dup and contamination operators must evaluate
    each payload source (i.e. the decode pass) exactly once per row. Before
    the fingerprint frames were persisted, video_near_dup re-evaluated its
    source lineage 2x (the self-join's two sides), audio relied on fragile
    exchange reuse, and image_near_dup decoded twice (the bucket census and
    the anti-join each read the unpersisted fingerprint lineage). Counted
    via an accumulator in each source itself."""
    from dcspark import imagefp
    from dcspark.audiofp import audio_contaminated_ids, audio_near_dup

    sizes = {"audio": 8, "image": 6, "video": 4}
    near_dup = {"audio": lambda d: audio_near_dup(d, threshold=0.35),
                "image": imagefp.image_near_dup,
                "video": lambda d: imagefp.video_near_dup(d, threshold=0.6)}
    contaminated = {"audio": audio_contaminated_ids,
                    "image": imagefp.image_contaminated_ids,
                    "video": imagefp.video_contaminated_ids}
    for kind, n in sizes.items():
        acc = spark.sparkContext.accumulator(0)
        near_dup[kind](_counted_source(spark, kind, n, acc)).collect()
        assert acc.value == n, f"{kind} source evaluated {acc.value / n}x per row"

        corpus_acc = spark.sparkContext.accumulator(0)
        eval_acc = spark.sparkContext.accumulator(0)
        contaminated[kind](_counted_source(spark, kind, n, corpus_acc),
                           _counted_source(spark, kind, n, eval_acc)).collect()
        assert (corpus_acc.value, eval_acc.value) == (n, n), \
            f"{kind} contamination: corpus/eval decoded {corpus_acc.value}/{eval_acc.value}"


def test_embedding_near_dup_scans_corpus_twice_not_thrice(spark):
    """near_dup_pairs reads its input once for the block keys (persisted) and
    once for the single-scan verify — the old a-side/b-side verify joins read
    the embedding column a second and third time. Counted via an accumulator
    in the source."""
    import numpy as np

    from dcspark import simsearch

    acc = spark.sparkContext.accumulator(0)

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for i in pdf["id"].tolist():
                acc.add(1)
                rng = np.random.default_rng(int(i))
                rows.append({"vec_id": int(i),
                             "embedding": rng.standard_normal(16).tolist()})
            yield pd.DataFrame(rows)

    src = spark.range(0, 64, 1, 2).mapInPandas(
        gen, "vec_id long, embedding array<double>")
    simsearch.near_dup_pairs(src, dim=16, threshold=0.99).collect()
    assert acc.value <= 2 * 64, (
        f"source evaluated {acc.value / 64.0}x per row — verify stage "
        "re-scanning the corpus more than once")


def test_orc_source_pushdown_and_pruning(spark, tmp_path):
    """The ORC source format gets the same scan hygiene as parquet: filters
    reach the ORC reader as PushedFilters and a 2-column projection prunes
    ReadSchema — an ORC lake validates with narrow scans, not full reads."""
    p = str(tmp_path / "t.orc")
    spark.range(1000).selectExpr(
        "id", "id * 2 AS a", "id * 3 AS b", "CAST(id AS STRING) AS c"
    ).write.orc(p)
    df = (spark.read.orc(p)
          .filter(F.col("a") > 1800).select("id", "a"))
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(a,1800" in plan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "id:" in read_schema and "a:" in read_schema
    assert "b:" not in read_schema and "c:" not in read_schema
