"""One staged implementation per corpus operator (dcspark/pipeline_ckpt.py
``Stages``): a one-shot run, a first checkpointed run and a resumed run
return identical rows; input lineage signs the frame's plan, not only its
files; the MinHash shingle table is built once per run; the CLI neither
forks on --checkpoint nor ignores it silently."""

import ast
import os
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from dcspark import audiofp, decontam, imagefp, multimodal, pipeline_ckpt, textops

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy dog again and again!"),
    (3, "a completely different document about spark shuffle partitioning"),
    (4, "another unrelated text mentioning benchmarks and evaluation suites"),
    (5, "the quick brown fox jumps over the lazy dog again and again ok"),
]
EVAL = [(100, "spark shuffle partitioning"), (101, "no overlap here at all")]


def _tone(freqs, amps, sr=8000, n=8000):
    t = np.arange(n) / sr
    x = sum(a * np.sin(2 * np.pi * f * t) for f, a in zip(freqs, amps))
    return (x / max(1e-9, np.abs(x).max()) * 20000).astype(np.int16)


def _photo(seed):
    rng = np.random.default_rng(8400 + seed)
    up = rng.uniform(0, 255, (6, 8, 3)).repeat(4, 0).repeat(4, 1)
    return np.clip(up + rng.uniform(-10, 10, up.shape), 5, 250).astype(np.uint8)


def _frames(phase, n=4, h=16, w=20):
    yy, xx = np.mgrid[0:h, 0:w]
    return [np.stack([xx * 255 // (w - 1), yy * 255 // (h - 1),
                      np.full((h, w), ((i + phase) * 40) % 256)],
                     axis=-1).astype(np.uint8) for i in range(n)]


@pytest.fixture(scope="module")
def corpora(spark, tmp_path_factory):
    """(corpus, eval) parquet frames per modality, each with a planted
    near-duplicate inside the corpus and a planted eval leak."""
    from dcspark.avi import avi_bytes
    from dcspark.jpeg import jpeg_bytes
    from dcspark.multimodal import real_video_decoder
    from dcspark.synth import wav_bytes

    root = tmp_path_factory.mktemp("staged")

    def frame(name, rows, ddl):
        p = str(root / name)
        spark.createDataFrame(rows, ddl).write.parquet(p)
        return spark.read.parquet(p)

    base = _tone([440, 880], [1.0, 0.5])
    clips = [(f"c{i}", wav_bytes(_tone(np.random.default_rng(600 + i)
                                       .uniform(320, 2800, 3), [1.0, 0.6, 0.3]),
                                 8000)) for i in range(5)]
    clips += [("orig", wav_bytes(base, 8000)),
              ("gain_dup", wav_bytes((base * 0.5).astype(np.int16), 8000))]
    imgs = [(f"im{i}", bytearray(multimodal.png_bytes(_photo(i))))
            for i in range(4)]
    imgs += [("im0_re", bytearray(jpeg_bytes(_photo(0), quality=85))),
             ("leak", bytearray(jpeg_bytes(_photo(99), quality=85)))]
    _fps, fr0 = real_video_decoder(avi_bytes(_frames(0), fps=25.0))
    vids = [(f"v{i}", bytearray(avi_bytes(_frames(3 * i), fps=25.0)))
            for i in range(3)]
    vids.append(("v0_re", bytearray(avi_bytes([f.copy() for f in fr0],
                                              fps=25.0, quality=60))))
    return {
        "text": (frame("docs", DOCS, "doc_id long, text string"),
                 frame("eval", EVAL, "doc_id long, text string")),
        "audio": (frame("clips", clips, "clip_id string, bytes binary"),
                  frame("clips_eval", [("e0", wav_bytes(base, 8000))],
                        "clip_id string, bytes binary")),
        "image": (frame("imgs", imgs, "id string, bytes binary"),
                  frame("imgs_eval",
                        [("e0", bytearray(multimodal.png_bytes(_photo(99))))],
                        "id string, bytes binary")),
        "video": (frame("vids", vids, "id string, bytes binary"),
                  frame("vids_eval",
                        [("ev0", bytearray(avi_bytes(_frames(0), fps=25.0)))],
                        "id string, bytes binary")),
    }


# (operator, modality, call(corpus, eval, checkpoint) -> DataFrame)
OPERATORS = [
    ("minhash_near_dups", "text",
     lambda c, e, ck: textops.minhash_near_dups(c, threshold=0.5, checkpoint=ck)),
    ("duplicate_span_stats", "text",
     lambda c, e, ck: textops.duplicate_span_stats(c, n_tokens=3, checkpoint=ck)),
    ("contamination", "text",
     lambda c, e, ck: decontam.contamination(c, e, n=3, checkpoint=ck)),
    ("audio_near_dup", "audio",
     lambda c, e, ck: audiofp.audio_near_dup(c, threshold=0.35, checkpoint=ck)),
    ("audio_contaminated_ids", "audio",
     lambda c, e, ck: audiofp.audio_contaminated_ids(c, e, checkpoint=ck)),
    ("image_near_dup", "image",
     lambda c, e, ck: imagefp.image_near_dup(c, checkpoint=ck)),
    ("image_contaminated_ids", "image",
     lambda c, e, ck: imagefp.image_contaminated_ids(c, e, checkpoint=ck)),
    ("video_near_dup", "video",
     lambda c, e, ck: imagefp.video_near_dup(c, threshold=0.6, checkpoint=ck)),
    ("video_contaminated_ids", "video",
     lambda c, e, ck: imagefp.video_contaminated_ids(c, e, checkpoint=ck)),
]


def _rows(df):
    rows = sorted(tuple(r) for r in df.collect())
    pipeline_ckpt.release_caches(df)
    return rows


@pytest.mark.parametrize("name,modality,run", OPERATORS,
                         ids=[o[0] for o in OPERATORS])
def test_one_shot_checkpointed_and_resumed_runs_return_identical_rows(
        corpora, tmp_path, name, modality, run):
    corpus, eval_df = corpora[modality]
    ck = str(tmp_path / "ck")
    one_shot = _rows(run(corpus, eval_df, None))
    first = _rows(run(corpus, eval_df, ck))
    manifests = {f: os.path.getmtime(os.path.join(ck, f))
                 for f in os.listdir(ck) if f.endswith(".manifest.json")}
    resumed = _rows(run(corpus, eval_df, ck))
    assert one_shot, f"{name}: the fixture plants no hit"
    assert first == one_shot
    assert resumed == one_shot
    assert manifests and manifests == {
        f: os.path.getmtime(os.path.join(ck, f)) for f in manifests}, \
        f"{name}: a stage was rebuilt on resume"


# -- input lineage signs the plan, not only the files -------------------------


@pytest.fixture()
def two_col_docs(spark, tmp_path):
    rows = [(1, "the quick brown fox jumps over the lazy dog",
             "pack my box with five dozen liquor jugs now"),
            (2, "the quick brown fox jumps over the lazy dog",
             "sphinx of black quartz judge my vow today"),
            (3, "how vexingly quick daft zebras jump at night",
             "pack my box with five dozen liquor jugs now")]
    p = str(tmp_path / "ab")
    spark.createDataFrame(rows, "doc_id long, a string, b string").write.parquet(p)
    return p


def test_projection_change_rebuilds_minhash_stages(spark, two_col_docs, tmp_path):
    """Same files, different column aliased to text: the second checkpointed
    run must not serve the first projection's pairs."""
    ck = str(tmp_path / "ck")

    def docs(col):
        return spark.read.parquet(two_col_docs).select(
            "doc_id", F.col(col).alias("text"))

    pairs = lambda df: [row[:2] for row in _rows(df)]
    assert pairs(textops.minhash_near_dups(docs("a"), checkpoint=ck)) == [(1, 2)]
    got = pairs(textops.minhash_near_dups(docs("b"), checkpoint=ck))
    assert got == pairs(textops.minhash_near_dups(docs("b"))) == [(1, 3)]


def test_filter_change_rebuilds_contamination_stages(spark, tmp_path):
    """Same eval files, different filter: the second checkpointed run must
    not report the first filter's hits."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "zeta eta theta"),
         (3, "alpha beta gamma delta epsilon")], "doc_id long, text string")
    p = str(tmp_path / "eval")
    spark.createDataFrame([(10, "alpha beta gamma delta"), (11, "nothing shared")],
                          "doc_id long, text string").write.parquet(p)
    ev = spark.read.parquet(p)
    ck = str(tmp_path / "ck")
    hits = lambda df: sorted((r["doc_id"], r["matched_ngrams"])
                             for r in df.collect() if r["matched_ngrams"])
    first = decontam.contamination(
        docs, ev.filter(F.col("doc_id") == 10), n=3, checkpoint=ck)
    assert hits(first) == [(1, 2), (3, 2)]
    eleven = ev.filter(F.col("doc_id") == 11)
    assert hits(decontam.contamination(docs, eleven, n=3, checkpoint=ck)) == \
        hits(decontam.contamination(docs, eleven, n=3)) == []


def test_lineage_is_stable_across_independent_reads(spark, two_col_docs):
    """Expression ids differ between two reads of one path; the signature
    must not, or no checkpointed run would ever resume."""
    read = lambda: spark.read.parquet(two_col_docs).select(
        "doc_id", F.col("a").alias("text"))
    assert pipeline_ckpt.input_lineage(read()) == \
        pipeline_ckpt.input_lineage(read())
    other = spark.read.parquet(two_col_docs).select(
        "doc_id", F.col("b").alias("text"))
    assert pipeline_ckpt.input_lineage(other) != \
        pipeline_ckpt.input_lineage(read())


def test_minhash_checkpointed_run_tokenizes_once(corpora, tmp_path, monkeypatch):
    """A fresh checkpointed run shares one shingle table across the
    candidates and scored stages; a resume that finds both never tokenizes."""
    docs, _ = corpora["text"]
    calls = []
    orig = textops.shingle_table
    monkeypatch.setattr(textops, "shingle_table",
                        lambda *a, **k: calls.append(1) or orig(*a, **k))
    ck = str(tmp_path / "ck")
    textops.minhash_near_dups(docs, checkpoint=ck).collect()
    assert len(calls) == 1
    textops.minhash_near_dups(docs, checkpoint=ck).collect()
    assert len(calls) == 1


# -- source guard: no second implementation, no CLI fork ----------------------


def _tree(module):
    with open(os.path.join(ROOT, "dcspark", module + ".py"), encoding="utf-8") as f:
        return ast.parse(f.read())


def _is_args_checkpoint(node):
    return (isinstance(node, ast.Attribute) and node.attr == "checkpoint"
            and isinstance(node.value, ast.Name) and node.value.id == "args")


def test_operators_have_one_implementation_and_the_cli_no_fork():
    pkg = os.path.join(ROOT, "dcspark")
    for f in sorted(os.listdir(pkg)):
        if f.endswith(".py"):
            with open(os.path.join(pkg, f), encoding="utf-8") as fh:
                src = fh.read()
            assert not re.search(r"\w+_resumable\b|_contamination_probe", src), f

    imported = set()
    for node in ast.walk(_tree("pipeline_ckpt")):
        if isinstance(node, ast.ImportFrom):
            imported |= {node.module or ""} | {a.name for a in node.names}
        elif isinstance(node, ast.Import):
            imported |= {a.name for a in node.names}
    assert not {m.rsplit(".", 1)[-1] for m in imported} & {
        "textops", "decontam", "audiofp", "imagefp"}

    # the only condition on args.checkpoint is the refusal of actions that
    # have no stages; every staged action passes it straight through
    cli = _tree("cli")
    for top in cli.body:
        if getattr(top, "name", None) == "_refuse_unstaged_checkpoint":
            continue
        for node in ast.walk(top):
            if isinstance(node, (ast.If, ast.IfExp, ast.While)):
                assert not any(_is_args_checkpoint(n) for n in ast.walk(node.test)), \
                    f"{getattr(top, 'name', '?')} branches on args.checkpoint"
    passed = [k for k in ast.walk(cli) if isinstance(k, ast.keyword)
              and k.arg == "checkpoint" and _is_args_checkpoint(k.value)]
    assert len(passed) == 9


def test_cli_refuses_checkpoint_on_actions_without_stages(tmp_path, capsys):
    from dcspark.cli import main

    for family, action in (("audio", "fingerprint"), ("image", "fingerprint"),
                           ("video", "metadata")):
        rc = main([family, action, "--input", str(tmp_path / "in"),
                   "--output", str(tmp_path / "out"),
                   "--checkpoint", str(tmp_path / "ck")])
        err = capsys.readouterr().err
        assert rc == 2
        assert f"{family} neardup" in err and f"{family} decontam" in err
    assert not os.path.exists(tmp_path / "ck")
