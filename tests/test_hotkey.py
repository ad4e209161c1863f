"""The blocked matcher (dcspark/hotkey.py) against brute force.

Every operator that pairs rows through ``hotkey.self_join`` or
``hotkey.eval_probe`` runs here on small fixtures next to a pure-Python
all-pairs computation of the same function: bucket census, cap, candidate
pairs, Hamming verify and overlap score. The fixtures put buckets exactly
at the cap and one row over it, duplicate rows, NULL hashes and NULL ids,
negative 64-bit hashes (bit 63 set) and a hash whose block is dropped in
one block but kept in the others. A source guard keeps every bucket census
and blocked self-join of the operator modules on the matcher.
"""

import ast
import math
import os
from collections import Counter

import numpy as np
import pytest

from dcspark import audiofp, imagefp, simsearch, textops
from dcspark.pipeline_ckpt import release_caches

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
M64 = (1 << 64) - 1
FP_DDL = "clip_id string, t int, hash long"


def _s64(u):
    return u - (1 << 64) if u >= (1 << 63) else u


def _ham(a, b):
    return bin((a ^ b) & M64).count("1")


def _blocks(h):
    return [(bi, ((h & M64) >> (16 * bi)) & 0xFFFF) for bi in range(4)]


def _census(pairs, cap):
    """Keep the (row, key) pairs whose key holds at most ``cap`` of them."""
    n = Counter(k for _, k in pairs)
    return [(r, k) for r, k in pairs if cap is None or n[k] <= cap], n


def _at_and_over(n_bucket, cap):
    """The fixture holds a bucket exactly at a small cap and one just over."""
    if cap is not None and cap <= 5:
        assert {cap, cap + 1} <= set(n_bucket.values())


def _round(x, d):
    return math.floor(x * 10 ** d + 0.5) / 10 ** d


def _scored(matches, n_a, n_b, threshold, min_matches):
    out = []
    for (a, b), m in matches.items():
        if a is None or b is None:
            continue
        score = _round(m / min(n_a[a], n_b[b]), 6)
        if score >= threshold and m >= min_matches:
            out.append((a, b, m, score))
    return sorted(out, key=_order)


def _order(row):
    return [(v is None, v) if v is not None else (True, 0) for v in row]


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=_order)


def _same_scored(got, want):
    assert [r[:3] for r in got] == [r[:3] for r in want]
    assert all(abs(g[3] - w[3]) < 1e-9 for g, w in zip(got, want))


@pytest.fixture(autouse=True)
def _empty_cache(spark):
    spark.catalog.clearCache()


def _cache_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _consume(spark, out):
    rows = _rows(out)
    release_caches(out)
    assert _cache_empty(spark), "release_caches left cached frames behind"
    return rows


# ---------------------------------------------------------------------------
# exact-hash key: audio near-dup and contamination
# ---------------------------------------------------------------------------

#: cap 2: hash 1 is held by 3 clips (one over), hash 4 by exactly 2; "a"
#: repeats hash 3 on two rows; NULL hashes and a NULL clip id take part
AUDIO_FP = [("a", 0, 1), ("a", 1, 2), ("a", 2, 3), ("a", 3, 3), ("a", 4, None),
            ("b", 0, 1), ("b", 1, 2), ("b", 2, 4), ("b", 3, 3),
            ("c", 0, 1), ("c", 1, 5), ("c", 2, 6),
            ("d", 0, 4), ("d", 1, 6), ("d", 2, 2),
            (None, 0, 5), (None, 1, 6)]
EVAL_FP = [("e0", 0, 3), ("e0", 1, 4), ("e0", 2, 3), ("e1", 0, 4),
           ("e1", 1, 5), ("e2", 0, 4), ("e2", 1, None), ("e3", 0, 5),
           (None, 0, 6)]


def _hash_rows(fp):
    return {(i, h) for i, _, h in fp if h is not None}


def ref_audio_near_dup(fp, cap, threshold, min_matches):
    kept, n_bucket = _census([(r, r[1]) for r in _hash_rows(fp)], cap)
    _at_and_over(n_bucket, cap)
    rows = {r for r, _ in kept}
    n = Counter(i for i, _ in rows)
    by_hash = {}
    for i, h in rows:
        by_hash.setdefault(h, set()).add(i)
    matches = Counter((a, b) for ids in by_hash.values() for a in ids
                      for b in ids if a is not None and b is not None and a < b)
    return _scored(matches, n, n, threshold, min_matches)


@pytest.mark.parametrize("cap", [2, 500])
def test_audio_near_dup_matches_brute_force(spark, cap):
    fp = spark.createDataFrame(AUDIO_FP, FP_DDL)
    got = _consume(spark, audiofp.audio_fingerprint_near_dup(
        fp, threshold=0.0, max_bucket=cap))
    _same_scored(got, ref_audio_near_dup(AUDIO_FP, cap, 0.0, 1))
    assert got, "fixture produced no pairs"


def ref_audio_contamination(corpus, ev, cap, threshold, min_matches):
    c = _hash_rows(corpus)
    kept, n_bucket = _census([(r, r[1]) for r in _hash_rows(ev)], cap)
    _at_and_over(n_bucket, cap)
    e = {r for r, _ in kept}
    matches = Counter((ci, ei) for ci, h in c for ei, eh in e if h == eh)
    return _scored(matches, Counter(i for i, _ in c), Counter(i for i, _ in e),
                   threshold, min_matches)


@pytest.mark.parametrize("cap", [2, 50])
def test_audio_contamination_matches_brute_force(spark, cap):
    got = _consume(spark, audiofp.audio_cross_contamination(
        spark.createDataFrame(AUDIO_FP, FP_DDL),
        spark.createDataFrame(EVAL_FP, FP_DDL), threshold=0.0,
        max_eval_bucket=cap))
    _same_scored(got, ref_audio_contamination(AUDIO_FP, EVAL_FP, cap, 0.0, 1))
    assert got


# ---------------------------------------------------------------------------
# 16-bit hash blocks + Hamming verify: image and video
# ---------------------------------------------------------------------------

X = 0x0001_0002_0003_1234
#: y is 1 bit from x and shares blocks 0, 1, 3; z shares only block 0 with
#: them; neg (bit 63 set) is 2 bits from x and shares blocks 1 and 2; block
#: 0 key 0x1234 is held by x, y, z (one over cap 2) and dropped there while
#: x and y still pair through blocks 1 and 3
HASHES = {"x": X, "y": 0x0001_0002_0007_1234, "z": 0x0F00_0A00_0B00_1234,
          "neg": _s64(0x8001_0002_0003_1235), "w": 0x7777_6666_5555_4444,
          "w2": 0x7777_6666_5555_4445}
IMG = [("x", HASHES["x"]), ("x", HASHES["x"]), ("y", HASHES["y"]),
       ("z", HASHES["z"]), ("neg", HASHES["neg"]), ("w", HASHES["w"]),
       ("w2", HASHES["w2"]), (None, HASHES["w"]), ("nul", None)]
IMG_EVAL = [("e-x", HASHES["x"] ^ 0b100), ("e-x", HASHES["x"] ^ 0b100),
            ("e-w", HASHES["w"]), ("e-w2", HASHES["w2"]), ("e-z", HASHES["z"]),
            ("e-null", None), (None, HASHES["neg"])]


def _blocked_candidates(rows_a, kept_b, self_join):
    """Distinct (a, b, h_a, h_b) sharing a kept block of the b side (both
    sides guarded in a self-join)."""
    keys_b = {}
    for r, k in kept_b:
        keys_b.setdefault(k, set()).add(r)
    out = set()
    for ra, k in rows_a:
        for rb in keys_b.get(k, ()):
            if self_join and not (ra[0] is not None and rb[0] is not None
                                  and ra[0] < rb[0]):
                continue
            out.add((ra[0], rb[0], ra[1], rb[1]))
    return out


def _guarded_blocks(rows, cap):
    kept, n_bucket = _census([(r, k) for r in rows for k in _blocks(r[1])], cap)
    return kept, n_bucket


def ref_image_near_dup(fp, cap, max_hamming=3):
    rows = {(i, h) for i, h in fp if h is not None}
    kept, n_bucket = _guarded_blocks(rows, cap)
    _at_and_over(n_bucket, cap)
    cands = _blocked_candidates(kept, kept, True)
    return sorted(((a, b, _ham(ha, hb)) for a, b, ha, hb in cands
                   if _ham(ha, hb) <= max_hamming), key=_order)


@pytest.mark.parametrize("cap", [2, 1000, None])
def test_image_near_dup_matches_brute_force(spark, cap):
    fp = spark.createDataFrame(IMG, "id string, dhash long")
    got = _consume(spark, imagefp.near_dup_pairs_from_fp(fp, max_bucket=cap))
    assert got == ref_image_near_dup(IMG, cap)
    assert ("x", "y", 1) in got and ("neg", "x", 2) in got


def test_image_census_counts_distinct_id_hash_rows(spark):
    """Pinned census semantics: "x" repeats one dHash on two rows and "q"
    shares only block 0 with it, at Hamming 3. The census counts distinct
    (id, dhash) rows, so block 0 holds 2 at cap 2 and the pair is found; a
    count per row (3) would drop the bucket and the pair with it."""
    q = X ^ (1 << 16) ^ (1 << 32) ^ (1 << 48)
    fp = spark.createDataFrame([("x", X), ("x", X), ("q", q)],
                               "id string, dhash long")
    got = _consume(spark, imagefp.near_dup_pairs_from_fp(fp, max_bucket=2))
    assert got == [("q", "x", 3)]


def ref_image_contamination(corpus, ev, cap, max_hamming=3):
    c = [(i, h) for i, h in corpus if h is not None]
    e = {(i, h) for i, h in ev if h is not None}
    kept, n_bucket = _guarded_blocks(e, cap)
    _at_and_over(n_bucket, cap)
    crows = [(r, k) for r in c for k in _blocks(r[1])]
    cands = _blocked_candidates(crows, kept, False)
    return sorted(((a, b, _ham(ha, hb)) for a, b, ha, hb in cands
                   if _ham(ha, hb) <= max_hamming), key=_order)


@pytest.mark.parametrize("cap", [1, 50])
def test_image_contamination_matches_brute_force(spark, cap):
    ddl = "id string, dhash long"
    got = _consume(spark, imagefp.image_cross_contamination(
        spark.createDataFrame(IMG, ddl), spark.createDataFrame(IMG_EVAL, ddl),
        max_eval_bucket=cap))
    assert got == ref_image_contamination(IMG, IMG_EVAL, cap)
    assert got


#: frame-hash sequences: v1 and v2 share x/y-style frames, v3 carries the
#: negative hash, v4 repeats a frame on two rows; NULLs on both axes
VID = ([("v1", t, HASHES[k]) for t, k in enumerate(["x", "w", "z"])]
       + [("v2", t, HASHES[k]) for t, k in enumerate(["y", "w2", "z"])]
       + [("v3", 0, HASHES["neg"]), ("v3", 1, HASHES["w"]), ("v3", 2, None)]
       + [("v4", 0, HASHES["w"]), ("v4", 1, HASHES["w"]),
          ("v4", 2, 0x0123_4567_89AB_CDEF)]
       + [(None, 0, HASHES["x"])])
VID_EVAL = ([("e1", 0, HASHES["x"] ^ 1), ("e1", 1, HASHES["w"]),
             ("e1", 2, HASHES["w"])]
            + [("e2", 0, HASHES["w2"]), ("e2", 1, HASHES["z"])]
            + [("e3", 0, HASHES["w"] ^ (1 << 40)), ("e3", 1, None)]
            + [(None, 0, HASHES["z"])])


def _video_matches(cands, max_hamming):
    hit = {}
    for a, b, ha, _hb in cands:
        if _ham(ha, _hb) <= max_hamming:
            hit.setdefault((a, b), set()).add(ha)
    return Counter({p: len(hs) for p, hs in hit.items()})


def ref_video_near_dup(fp, cap, threshold, max_hamming=3):
    rows = _hash_rows(fp)
    kept, n_bucket = _guarded_blocks(rows, cap)
    _at_and_over(n_bucket, cap)
    cands = _blocked_candidates(kept, kept, True)
    n = Counter(i for i, _ in rows)
    return _scored(_video_matches(cands, max_hamming), n, n, threshold, 1)


@pytest.mark.parametrize("cap", [3, 500])
def test_video_near_dup_matches_brute_force(spark, cap):
    got = _consume(spark, imagefp.video_fp_near_dup(
        spark.createDataFrame(VID, FP_DDL), threshold=0.0, max_bucket=cap))
    _same_scored(got, ref_video_near_dup(VID, cap, 0.0))
    assert got


def ref_video_contamination(corpus, ev, cap, threshold, max_hamming=3):
    c, e = _hash_rows(corpus), _hash_rows(ev)
    kept, n_bucket = _guarded_blocks(e, cap)
    _at_and_over(n_bucket, cap)
    crows = [(r, k) for r in c for k in _blocks(r[1])]
    cands = _blocked_candidates(crows, kept, False)
    return _scored(_video_matches(cands, max_hamming),
                   Counter(i for i, _ in c), Counter(i for i, _ in e),
                   threshold, 1)


@pytest.mark.parametrize("cap", [1, 50])
def test_video_contamination_matches_brute_force(spark, cap):
    got = _consume(spark, imagefp.video_cross_contamination(
        spark.createDataFrame(VID, FP_DDL), spark.createDataFrame(VID_EVAL, FP_DDL),
        threshold=0.0, max_eval_bucket=cap))
    _same_scored(got, ref_video_contamination(VID, VID_EVAL, cap, 0.0))
    assert got


# ---------------------------------------------------------------------------
# band and block tables: text LSH bands, embedding blocks, k-means cells
# ---------------------------------------------------------------------------

def _pairs_sharing(rows, cap):
    """Distinct (a < b) id pairs sharing a kept key; rows are (id, key)
    with repeats, counted per row."""
    kept, n_bucket = _census([((i,), k) for i, k in rows], cap)
    by_key = {}
    for (i,), k in kept:
        by_key.setdefault(k, set()).add(i)
    pairs = {(a, b) for ids in by_key.values() for a in ids for b in ids
             if a is not None and b is not None and a < b}
    return sorted(pairs), n_bucket


DOCS = [(1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "an entirely different sentence about spark joins"),
        (5, "a completely unrelated line of text goes here"),
        (6, "the quick brown fox jumps over the lazy dog"),
        (6, "the quick brown fox jumps over the lazy dog"),
        (7, "an entirely different sentence about spark joins"),
        (None, "an entirely different sentence about spark joins")]
#: without the repeated doc 6, which the Jaccard operators reject
UNIQUE_DOCS = DOCS[:6] + DOCS[7:]


@pytest.mark.parametrize("cap", [3, 1000])
def test_lsh_band_pairs_match_brute_force(spark, cap):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    bk = [(r["doc_id"], (r["band"], r["key"]))
          for r in textops.lsh_band_keys(docs).collect()]
    want, n_bucket = _pairs_sharing(bk, cap)
    _at_and_over(n_bucket, cap)
    got = _consume(spark, textops.lsh_candidate_pairs(docs, max_bucket=cap))
    assert got == want and got


#: (vec_id, b0..b3) block keys; NULL keys never join; vec 5 appears twice
KEYED = [(1, 10, 20, 30, 40), (2, 10, 21, 31, 41), (3, 10, 22, 30, 42),
         (4, 11, 20, 33, 43), (5, 12, 24, 30, None), (5, 12, 24, 30, None),
         (6, None, 20, 35, 43), (7, 13, 26, 37, 47)]


@pytest.mark.parametrize("cap", [3, 500])
def test_embedding_block_pairs_match_brute_force(spark, cap):
    keyed = spark.createDataFrame(
        KEYED, "vec_id long, b0 long, b1 long, b2 long, b3 long")
    rows = [(r[0], (bi, k)) for r in KEYED for bi, k in enumerate(r[1:])
            if k is not None]
    want, n_bucket = _pairs_sharing(rows, cap)
    _at_and_over(n_bucket, cap)
    got = _consume(spark, simsearch._block_candidates(keyed, 4, cap))
    assert got == want and got


CENTS = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
EMB = [(1, [3.0, 1.0, 0.0]), (2, [4.0, 1.0, 1.0]), (3, [5.0, 0.0, 2.0]),
       (4, [1.0, 6.0, 0.0]), (5, [0.0, 7.0, 1.0]), (6, [1.0, 1.0, 9.0])]


@pytest.mark.parametrize("cap", [2, 100_000])
def test_semantic_cells_match_brute_force(spark, cap):
    emb = spark.createDataFrame(EMB, "vec_id long, embedding array<double>")
    cell = {i: int(np.argmax(np.dot(CENTS, v))) + 1 for i, v in EMB}
    rows = [(i, cell[i]) for i, _ in EMB]
    pairs, n_bucket = _pairs_sharing(rows, cap)
    _at_and_over(n_bucket, cap)
    vec = dict(EMB)
    want = []
    for a, b in pairs:
        va, vb = np.array(vec[a]), np.array(vec[b])
        cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        if cos >= 0.5:
            want.append((a, b, cell[a], round(cos, 4)))
    got = _consume(spark, simsearch.semantic_dedup_pairs(
        emb, dim=3, centroids=CENTS, threshold=0.5, max_bucket=cap))
    assert [r[:3] for r in got] == [r[:3] for r in want]
    assert all(abs(g[3] - w[3]) < 1e-4 for g, w in zip(got, want))


def test_winnowing_overlap_matches_brute_force(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    fp = [(r["doc_id"], r["fp"])
          for r in textops.winnowing_table(docs, 4, 3).collect()]
    n = Counter(i for i, _ in fp)
    per = Counter(fp)
    by_fp = {}
    for (i, f), c in per.items():
        by_fp.setdefault(f, {})[i] = c
    shared = Counter()
    for ids in by_fp.values():
        for a, ca in ids.items():
            for b, cb in ids.items():
                if a is not None and b is not None and a < b:
                    shared[(a, b)] += ca * cb
    want = _scored(shared, n, n, 0.0, 2)
    got = _consume(spark, textops.winnowing_near_dups(docs, 4, 3, 2))
    _same_scored(got, want)
    assert got


def test_allpairs_jaccard_matches_brute_force(spark):
    docs = spark.createDataFrame(UNIQUE_DOCS, "doc_id long, text string")
    sh = [(r["doc_id"], r["sh"]) for r in textops.shingle_table(
        docs, 3, persist=False).collect()]
    post = {}
    for i, s in sh:
        for g in s:
            post.setdefault(g, []).append(i)
    inter = Counter((a, b) for ids in post.values() for a in ids for b in ids
                    if a is not None and b is not None and a < b)
    size = {}
    for i, s in sh:
        size.setdefault(i, []).append(len(s))
    want = sorted((a, b, m, sa + sb - m, _round(m / (sa + sb - m), 6))
                  for (a, b), m in inter.items()
                  for sa in size[a] for sb in size[b])
    got = _consume(spark, textops.allpairs_jaccard(docs, 3))
    assert [r[:4] for r in got] == [r[:4] for r in want]
    assert all(abs(g[4] - w[4]) < 1e-9 for g, w in zip(got, want))


@pytest.mark.parametrize("op", [
    lambda docs: textops.allpairs_jaccard(docs, 3),
    lambda docs: textops.minhash_near_dups(docs, threshold=0.1),
], ids=["allpairs_jaccard", "minhash_near_dups"])
def test_text_jaccard_names_a_repeated_doc_id(spark, op):
    """Doc 6 on two rows would enter the inverted index twice, double its
    intersections and zero its Jaccard union; both operators raise naming
    the id instead of dividing by zero."""
    out = op(spark.createDataFrame(DOCS, "doc_id long, text string"))
    with pytest.raises(Exception, match="duplicate doc_id in the corpus: 6"):
        out.collect()
    release_caches(out)


# ---------------------------------------------------------------------------
# staged operators: one-shot results release every cache they hold
# ---------------------------------------------------------------------------

def _payload_frames(spark):
    from dcspark import multimodal
    from dcspark.avi import avi_bytes
    from dcspark.synth import wav_bytes

    t = np.arange(8000) / 8000.0
    wav = [(f"c{i}", bytearray(wav_bytes(
        (np.sin(2 * np.pi * (300 + 150 * (i % 2)) * t) * 20000)
        .astype(np.int16), 8000))) for i in range(3)]
    ramp = np.arange(32, dtype=np.uint8)[None, :, None] * 7
    img = [(f"i{i}", bytearray(multimodal.png_bytes(
        np.broadcast_to(ramp + i, (24, 32, 3)).astype(np.uint8))))
        for i in range(3)]
    vid = [(f"v{i}", bytearray(avi_bytes(
        [np.broadcast_to(ramp + 3 * j + i, (24, 32, 3)).astype(np.uint8)
         for j in range(3)], fps=10.0))) for i in range(3)]
    ddl = "{} string, bytes binary"
    return (spark.createDataFrame(wav, ddl.format("clip_id")),
            spark.createDataFrame(img, ddl.format("id")),
            spark.createDataFrame(vid, ddl.format("id")))


def test_staged_operators_release_every_cache(spark):
    clips, imgs, vids = _payload_frames(spark)
    docs = spark.createDataFrame(UNIQUE_DOCS, "doc_id long, text string")
    ops = [
        lambda: audiofp.audio_near_dup(clips),
        lambda: audiofp.audio_contaminated_ids(clips, clips.limit(1)),
        lambda: imagefp.image_near_dup(imgs),
        lambda: imagefp.image_contaminated_ids(imgs, imgs.limit(1)),
        lambda: imagefp.video_near_dup(vids),
        lambda: imagefp.video_contaminated_ids(vids, vids.limit(1)),
        lambda: textops.minhash_near_dups(docs),
    ]
    for op in ops:
        spark.catalog.clearCache()
        _consume(spark, op())


# ---------------------------------------------------------------------------
# source guard: the operator modules keep no census or self-join of their own
# ---------------------------------------------------------------------------

#: the frame methods that keep one row per input row (a self-join's sides
#: are projections of one frame, not aggregates of it)
ROW_WISE = {"select", "alias", "filter", "where", "withColumn",
            "withColumnRenamed", "toDF", "persist", "distinct"}


def _root(node, names):
    """The frame an expression chain of row-wise steps starts from, through
    local names; None past any other step."""
    while True:
        if isinstance(node, ast.Call):
            fn = node.func
            if (isinstance(fn, ast.Attribute) and fn.attr == "broadcast"
                    and node.args):
                node = node.args[0]
            elif isinstance(fn, ast.Attribute) and fn.attr in ROW_WISE:
                node = fn.value
            else:
                return None
        elif isinstance(node, ast.Name):
            if node.id in names:
                return _root(names[node.id], {k: v for k, v in names.items()
                                              if k != node.id})
            return node.id
        else:
            return None


def matcher_violations(source):
    """[(function, what)] of bucket censuses and blocked self-joins in
    ``source``: a ``left_anti`` join, a count windowed ``.over(...)`` and an
    equi-join of one frame with itself."""
    out = []
    for top in ast.parse(source).body:
        names = {}
        for node in ast.walk(top):
            if isinstance(node, ast.Assign) and len(node.targets) == 1 \
                    and isinstance(node.targets[0], ast.Name):
                names[node.targets[0].id] = node.value
        for node in ast.walk(top):
            where = getattr(top, "name", None)
            if isinstance(node, ast.Constant) and node.value == "left_anti":
                out.append((where, "left_anti"))
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)):
                continue
            fn = node.func
            inner = fn.value
            if (fn.attr == "over" and isinstance(inner, ast.Call)
                    and getattr(inner.func, "attr",
                                getattr(inner.func, "id", None)) == "count"):
                out.append((where, "windowed count"))
            keyed = len(node.args) > 1 or any(k.arg == "on" for k in node.keywords)
            if fn.attr == "join" and node.args and keyed:
                on = node.args[1] if len(node.args) > 1 else next(
                    k.value for k in node.keywords if k.arg == "on")
                if isinstance(on, (ast.Constant, ast.List)):
                    left, right = _root(inner, names), _root(node.args[0], names)
                    if left is not None and left == right:
                        out.append((where, "self-join"))
    return out


def test_guard_detects_the_old_shapes():
    src = '''
def census(t):
    hot = t.groupBy("k").count()
    return t.join(hot, on="k", how="left_anti")

def window(t):
    return t.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("k")))

def alias_join(t):
    return t.alias("a").join(t.alias("b"), on=["k"])

def select_join(uniq):
    a = uniq.select(F.col("id").alias("id_a"), "h")
    b = uniq.select(F.col("id").alias("id_b"), "h")
    return a.join(b, on="h")

def probe(corpus, ev):
    return corpus.join(F.broadcast(ev), on="h")
'''
    assert sorted(matcher_violations(src)) == [
        ("alias_join", "self-join"), ("census", "left_anti"),
        ("select_join", "self-join"), ("window", "windowed count")]


@pytest.mark.parametrize("module", ["audiofp", "imagefp", "textops", "simsearch"])
def test_operator_modules_match_through_hotkey(module):
    with open(os.path.join(ROOT, "dcspark", module + ".py"), encoding="utf-8") as f:
        assert matcher_violations(f.read()) == []
