"""Similarity search over an embedding column (array<float>).

Scale design: the query side is tiny (a handful of probe vectors) and is
BROADCAST against the full corpus — the corpus is scanned exactly once, no
shuffle, and the per-partition top-k is folded by a final window on a
k*|queries|-row intermediate. The dot product / norms use Spark higher-order
array functions (``zip_with`` + ``aggregate``) evaluated JVM-side — no Python
UDF, no Arrow transfer.

The LSH-bucketed variant (``lsh_topk``) is the 10^12-row path: random
hyperplane signs (derived deterministically from md5, engine-portable) bucket
the corpus; probes search only their own bucket (plus Hamming-1 neighbors),
turning a full scan into a partition-pruned lookup when the bucket column is a
partition/bucketing key of the underlying table.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import hotkey


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def dot_expr(a: Column, b: Column) -> Column:
    """Index-ordered dot product via zip_with + aggregate (JVM, codegen'd)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def cosine_topk(
    emb: DataFrame,
    query_ids: Sequence[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: (qid, vec_id, score) for each probe id.

    Probe rows are broadcast; ranking is deterministic (score desc, id asc).
    """
    corpus = emb.select(
        F.col(id_col).cast("long").alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    probes = corpus.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("q")
    )
    scored = corpus.join(F.broadcast(probes), F.col("vec_id") != F.col("qid")).select(
        "qid", "vec_id", cosine_expr(F.col("q"), F.col("v")).alias("score_raw")
    )
    w = Window.partitionBy("qid").orderBy(F.col("score_raw").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id", F.col("rank").cast("int").alias("rank"),
                F.round("score_raw", 4).alias("score"))
    )


def near_dup_pairs_exact(
    emb: DataFrame,
    threshold: float = 0.8,
    max_id: Optional[int] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT embedding-cosine near-dup pairs (id_a < id_b, cosine ≥ threshold).

    All-pairs — quadratic by construction. This is the TEST ORACLE for
    :func:`near_dup_pairs`, not a scale path: callers must bound the input
    (``max_id``). Norms are computed once per side before the join so the join
    condition stays cheap.
    """
    corpus = emb.select(
        F.col(id_col).cast("long").alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    if max_id is not None:
        corpus = corpus.filter(F.col("vec_id") < max_id)
    corpus = corpus.withColumn("n", norm_expr(F.col("v")))
    a = corpus.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"))
    b = corpus.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b",
        (dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("score_raw"),
    )
    return pairs.filter(F.col("score_raw") >= threshold).select(
        "id_a", "id_b", F.round("score_raw", 4).alias("score")
    )


def _matrix_expr(rows: List[List[float]]) -> Column:
    """A literal array<array<double>> built as ONE SQL string parsed JVM-side.

    The naive ``F.array(*[F.array(*[F.lit(x) ...]) ...])`` form costs one py4j
    round-trip per element — seconds of driver time for a 64x64 hyperplane
    matrix. ``repr(float)`` round-trips exactly and Spark's double-literal
    parse is correctly rounded, so the values are bit-identical."""
    return F.expr("array({})".format(",".join(
        "array({})".format(",".join(f"{float(x)!r}D" for x in row)) for row in rows
    )))


def _int_array_expr(vals: Sequence[int], typ: str = "INT") -> Column:
    """A literal integer array built as one JVM-parsed SQL string."""
    return F.expr("array({})".format(",".join(
        f"CAST({int(v)} AS {typ})" for v in vals)))


def block_key_expr(vec: Column, dim: int, block: int, blk_bits: int) -> Column:
    """Block ``block``'s LSH key: ``blk_bits`` hyperplane signs packed little-
    endian. Bit ``j`` of block ``b`` uses global hyperplane index ``b*blk_bits
    + j`` — numerically identical to slicing a single ``bits``-bit signature,
    but never materializes a >32-bit integer (so 64-bit signatures are safe in
    both Spark and the DuckDB oracle).

    The plane matrix and bit weights are baked as SQL literal strings parsed
    JVM-side in ONE call each, and the key is a single ``zip_with`` +
    ``aggregate`` fold over (plane, weight) rows — the naive per-bit
    ``F.array(*[F.lit(...)])`` form costs O(blk_bits * dim) py4j round-trips
    (~4s of driver time at bits=64, dim=64) for the exact same arithmetic:
    each dot product folds in index order and the key accumulates j=0 upward,
    so the result is bit-identical."""
    if blk_bits > 63:
        raise ValueError("block_key_expr supports at most 63 bits per block")
    planes = [
        [_hyperplane_component(block * blk_bits + j, d) for d in range(dim)]
        for j in range(blk_bits)
    ]
    bit_terms = F.zip_with(
        _matrix_expr(planes),
        _int_array_expr([1 << j for j in range(blk_bits)], "BIGINT"),
        # cast-multiply, not when/otherwise: a NULL dot (NULL vector or NULL
        # element) must propagate to a NULL key that never equi-joins, the
        # pre-fold semantics
        lambda plane, w: (dot_expr(vec, plane) > 0).cast("long") * w,
    )
    return F.aggregate(bit_terms, F.lit(0).cast("long"), lambda acc, x: acc + x)


def _block_candidates(
    keyed: DataFrame, n_blocks: int, max_bucket: Optional[int]
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from the blocked self-join of a
    (vec_id, b0..b{n-1}) table: the n block keys are posexploded into
    (block_idx, key) rows and self-joined ONCE through the shared matcher
    (dcspark/hotkey.py), whose hot-bucket guard drops a (block, key) bucket
    holding more than ``max_bucket`` rows from that block's join — an
    over-full bucket is non-discriminative (degenerate mass: all-zero
    vectors, exact-dup survivors) and would emit k² pairs. Rows dropped from
    one block still participate in the others. NULL keys (NULL
    vectors/elements) are dropped up front: they can never equi-join."""
    t = keyed.select(
        "vec_id",
        F.posexplode(F.array(*[F.col(f"b{b}") for b in range(n_blocks)]))
        .alias(*hotkey.BLOCK),
    ).filter(F.col("__k").isNotNull())
    joined, _ = hotkey.self_join(t, "vec_id", hotkey.BLOCK, max_bucket)
    out = joined.select(F.col("a.vec_id").alias("id_a"),
                        F.col("b.vec_id").alias("id_b")).distinct()
    out._dcspark_cached = joined._dcspark_cached
    return out


def near_dup_pairs(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.8,
    bits: int = 64,
    n_blocks: int = 4,
    max_id: Optional[int] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: Optional[int] = 500,
) -> DataFrame:
    """LSH-blocked embedding near-dup pairs (id_a < id_b, cosine ≥ threshold).

    The 10^12-row path (VERDICT.md r01 defect #2 / r02 defect #1 fix — the
    r01 default was an all-pairs BroadcastNestedLoopJoin; the r02 default was
    4-bit block keys, i.e. 16 distinct values, whose per-block equi-join is
    Θ(N²)/16 on uncorrelated data). Candidate generation is the simhash
    blocking scheme over a ``bits``-bit random-hyperplane signature: split the
    signature into ``n_blocks`` blocks; any pair within signature-Hamming ≤
    n_blocks-1 shares ≥1 block (pigeonhole), so candidates come from
    ``n_blocks`` per-block EQUI-joins on tiny (id, block-key) rows —
    co-partitioned shuffles, never a cross product, and the vectors are NOT
    carried through the block joins. Exact cosine is verified only on the
    distinct candidate pairs via two id-equi-joins back to the corpus.

    Scale defaults: ``bits=64, n_blocks=4`` → 16-bit block keys (65,536
    distinct values per block), so the block keyspace dominates any realistic
    per-partition row count and expected bucket size stays O(N/65k) — still
    pigeonhole-complete for signature-Hamming ≤ 3. ``max_bucket`` caps
    degenerate buckets (see :func:`_block_candidates`); run exact dedup first
    so identical vectors don't mass in one bucket, then the cap only fires on
    pathological inputs. ``max_bucket=None`` disables the guard.

    Approximate by design (recall is guaranteed only for pairs whose signatures
    agree on ≥1 block); :func:`near_dup_pairs_exact` is the bounded-input
    oracle. The SQL oracle in ``__spark_entry__`` reproduces the md5-derived
    hyperplanes bit-for-bit, so results are deterministic engine-to-engine.
    """
    if bits % n_blocks:
        raise ValueError("bits must divide evenly into n_blocks")
    corpus = emb.select(
        F.col(id_col).cast("long").alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    if max_id is not None:
        corpus = corpus.filter(F.col("vec_id") < max_id)
    blk = bits // n_blocks
    keyed = corpus.select(
        "vec_id",
        *[block_key_expr(F.col("v"), dim, b, blk).alias(f"b{b}") for b in range(n_blocks)],
    )
    # the matcher persists the exploded block rows, so the 64x64-flop
    # signature projection runs once per row
    cands = _block_candidates(keyed, n_blocks, max_bucket)
    # single-scan verify: the old form joined the candidate pairs back to the
    # corpus TWICE (an a-side and a b-side join — two full reads of the
    # embedding column, the table's bulk at 10^12 rows). Instead, explode
    # each pair into two (pair, role) rows and join the corpus ONCE; only the
    # candidates' vectors shuffle into the per-pair regroup. No broadcast
    # hint: the candidate set is data-dependent and unbounded (a forced
    # broadcast would hit the 8GB limit / driver heap on a pathological
    # corpus), so AQE picks broadcast at runtime exactly when the pair set is
    # actually small — the normal case after the bucket cap.
    stacked = cands.select(
        "id_a", "id_b",
        F.posexplode(F.array("id_a", "id_b")).alias("role", "vec_id"))
    withv = corpus.withColumn("n", norm_expr(F.col("v")))
    joined = withv.join(stacked, "vec_id").select(
        "id_a", "id_b", "role", F.struct("v", "n").alias("e"))
    # role-keyed first() (not collect_list indexing): with a unique-id corpus
    # there is exactly one candidate per role, so the pick is deterministic
    # and ea/eb are exactly the old a-side/b-side operands (scores
    # bit-identical); with dirty duplicate-id input this degrades to scoring
    # one copy-combination instead of silently computing cos(a,a)=1.0
    paired = joined.groupBy("id_a", "id_b").agg(
        F.first(F.when(F.col("role") == 0, F.col("e")), ignorenulls=True).alias("ea"),
        F.first(F.when(F.col("role") == 1, F.col("e")), ignorenulls=True).alias("eb"),
    )
    ea, eb = F.col("ea"), F.col("eb")
    scored = paired.select(
        "id_a", "id_b",
        (dot_expr(ea["v"], eb["v"]) / (ea["n"] * eb["n"])).alias("score_raw"),
    )
    out = scored.filter(F.col("score_raw") >= threshold).select(
        "id_a", "id_b", F.round("score_raw", 4).alias("score")
    )
    # cache handle: dcspark.pipeline_ckpt.release_caches(out) after consuming
    # frees the persisted block rows and their guarded frame on long-lived
    # sessions
    out._dcspark_cached = cands._dcspark_cached
    return out


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (scale path)
# ---------------------------------------------------------------------------

def _centroid_component(cell: int, dim: int) -> float:
    """Deterministic pseudo-random IVF centroid component in [-1, 1).

    Pure function of (cell, dim) from md5 — identical on driver, executors,
    and in the SQL oracle (the floats are baked as literals on both sides).
    """
    import hashlib

    h = hashlib.md5(f"ivf{cell}_{dim}".encode()).hexdigest()
    return int(h[:8], 16) / float(1 << 31) - 1.0


def ivf_centroids(n_cells: int, dim: int) -> List[List[float]]:
    """The coarse quantizer: ``n_cells`` deterministic pseudo-random centroids.

    Deterministic centroids keep the DuckDB oracle reproducible; the
    production path is :func:`ivf_train_centroids` (k-means on a corpus
    sample) — the assignment/probe plumbing below is identical either way.
    """
    return [[_centroid_component(c, d) for d in range(dim)] for c in range(n_cells)]


def ivf_train_centroids(
    emb: DataFrame,
    n_cells: int,
    sample_fraction: Optional[float] = None,
    seed: int = 42,
    max_iter: int = 20,
    vec_col: str = "embedding",
) -> List[List[float]]:
    """Learn the IVF coarse quantizer: Spark MLlib k-means|| on a corpus sample.

    The 10^12-row training recipe: sample a bounded fraction (the quantizer
    needs ~100-1000 points per cell, not the corpus), fit distributed
    k-means||, return plain centroid lists that drop into :func:`ivf_topk`'s
    ``centroids=`` argument. Learned cells follow the data distribution, so
    the same ``nprobe`` recovers more true neighbors than random centroids.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    df = emb.select(array_to_vector(_as_double(F.col(vec_col))).alias("features"))
    if sample_fraction is not None and sample_fraction < 1.0:
        df = df.sample(fraction=sample_fraction, seed=seed)
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(df)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def cell_expr(vec: Column, cents: List[List[float]]) -> Column:
    """1-based IVF cell id: argmax-dot-product centroid (first max on ties)."""
    dots = F.transform(_matrix_expr(cents), lambda cent: dot_expr(vec, cent))
    return F.array_position(dots, F.array_max(dots)).cast("int")


def ivf_topk(
    emb: DataFrame,
    query_ids: Sequence[int],
    dim: int,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: Optional[List[List[float]]] = None,
) -> DataFrame:
    """IVF-flat ANN top-k: search only the probe's ``nprobe`` nearest cells.

    The inverted-file layout is the 10^12-row path: the corpus is written
    partitioned/bucketed by ``cell`` so each probe scans ``nprobe / n_cells``
    of the data (partition pruning on the cell key); probes are broadcast, so
    the only corpus pass is the pruned scan itself. Cell assignment and probe
    selection are pure JVM array expressions (``zip_with``/``aggregate``),
    no Python UDF. Same output schema as ``cosine_topk``. Pass ``centroids``
    (e.g. from :func:`ivf_train_centroids`) to use a learned quantizer; the
    default deterministic centroids keep the SQL oracle reproducible.
    """
    cents = centroids if centroids is not None else ivf_centroids(n_cells, dim)
    corpus = emb.select(
        F.col(id_col).cast("long").alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("cell", cell_expr(F.col("v"), cents))
    probes = corpus.filter(F.col("vec_id").isin(list(query_ids)))
    # top-nprobe cells per probe: sort (dot, -cell) structs desc -> dot desc,
    # cell asc on ties (matches the SQL oracle's ORDER BY d DESC, cell)
    cand_structs = F.zip_with(
        _matrix_expr(cents),
        _int_array_expr([-(i + 1) for i in range(len(cents))]),
        lambda cent, negcell: F.struct(
            dot_expr(F.col("v"), cent).alias("d"), negcell.alias("negcell")
        ),
    )
    probes = probes.select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("q"),
        F.explode(
            F.transform(
                F.slice(F.reverse(F.array_sort(cand_structs)), 1, nprobe),
                lambda s: -s["negcell"],
            )
        ).alias("cell"),
    )
    scored = corpus.join(F.broadcast(probes), on="cell").filter(
        F.col("vec_id") != F.col("qid")
    ).select("qid", "vec_id", cosine_expr(F.col("q"), F.col("v")).alias("score_raw"))
    w = Window.partitionBy("qid").orderBy(F.col("score_raw").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id", F.col("rank").cast("int").alias("rank"),
                F.round("score_raw", 4).alias("score"))
    )


def _hyperplane_component(bit: int, dim: int) -> float:
    """Deterministic pseudo-random ±1 hyperplane component from md5.

    Pure function of (bit, dim) — identical on driver, executors, and in the
    SQL oracle if ever needed. Parity of the first hex char of md5('h{bit}_{dim}').
    """
    import hashlib

    h = hashlib.md5(f"h{bit}_{dim}".encode()).hexdigest()
    return 1.0 if int(h[0], 16) % 2 == 1 else -1.0


def signature_expr(vec: Column, dim: int, bits: int = 8) -> Column:
    """Random-hyperplane LSH signature (int) for an array<double> column."""
    if bits > 63:
        # 1 << 63 exceeds LONG_MAX: the SQL weight literal would overflow to
        # NULL under non-ANSI Spark, silently nulling every signature — fail
        # loudly instead (the pre-fold F.lit(1 << 63) also failed at build)
        raise ValueError("signature_expr supports at most 63 bits")
    planes = [[_hyperplane_component(b, d) for d in range(dim)] for b in range(bits)]
    bit_terms = F.zip_with(
        _matrix_expr(planes),
        # BIGINT weights: CAST(1<<31 AS INT) would wrap for bits >= 32,
        # where the pre-fold F.lit(1 << b) promoted to long
        _int_array_expr([1 << b for b in range(bits)], "BIGINT"),
        # cast-multiply preserves NULL propagation (see block_key_expr)
        lambda plane, w: (dot_expr(vec, plane) > 0).cast("int") * w,
    )
    sig = F.aggregate(bit_terms, F.lit(0).cast("long"), lambda acc, x: acc + x)
    # the pre-fold form yielded int for bits <= 31 (long above); keep that type
    return sig.cast("int") if bits <= 31 else sig


def lsh_topk(
    emb: DataFrame,
    query_ids: Sequence[int],
    dim: int,
    k: int = 5,
    bits: int = 8,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k searching only the probe's LSH bucket ± ``probe_hamming`` bits.

    At 10^12 rows the corpus would be written bucketed/partitioned by ``sig``
    so each probe reads a ~2^-bits fraction of the data (multi-probe over
    Hamming-1 neighbor buckets recovers most of the recall lost to the
    boundary). Same output schema as ``cosine_topk`` (approximate contents).
    """
    corpus = emb.select(
        F.col(id_col).cast("long").alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("sig", signature_expr(F.col("v"), dim, bits))
    probes = corpus.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("q"), F.col("sig").alias("qsig")
    )
    # probe signature set: exact bucket + all Hamming-<=probe_hamming neighbors
    neighbor_sigs = F.array(F.col("qsig"))
    if probe_hamming >= 1:
        neighbor_sigs = F.concat(
            neighbor_sigs,
            F.array(*[F.col("qsig").bitwiseXOR(F.lit(1 << b)) for b in range(bits)]),
        )
    probes = probes.select("qid", "q", F.explode(neighbor_sigs).alias("sig"))
    scored = corpus.join(F.broadcast(probes), on="sig").filter(
        F.col("vec_id") != F.col("qid")
    ).select("qid", "vec_id", cosine_expr(F.col("q"), F.col("v")).alias("score_raw"))
    w = Window.partitionBy("qid").orderBy(F.col("score_raw").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id", F.col("rank").cast("int").alias("rank"),
                F.round("score_raw", 4).alias("score"))
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-blocked semantic deduplication
# ---------------------------------------------------------------------------

def semantic_dedup_pairs(
    emb: DataFrame,
    dim: int,
    n_cells: int = 8,
    threshold: float = 0.9,
    centroids: Optional[List[List[float]]] = None,
    max_bucket: Optional[int] = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    id_cast: Optional[str] = "long",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic duplicate pairs via k-means
    cluster blocking — assign every embedding to its nearest centroid, then
    compare pairs ONLY within a cluster and keep those with cosine >=
    ``threshold``.

    The third blocking scheme for embedding dedup alongside
    :func:`near_dup_pairs` (random-hyperplane LSH) and
    :func:`near_dup_pairs_exact` (bounded all-pairs): learned/data-shaped
    cells catch semantic duplicates whose signatures differ on every LSH
    block, at the cost of missing cross-cell pairs (the paper's explicit
    trade). ``centroids=None`` uses the deterministic md5-derived quantizer
    (exactly reproducible in the DuckDB oracle); production passes
    :func:`ivf_train_centroids` output, sizing ``n_cells`` so N/cells stays
    bounded (the paper runs ~100k clusters at web scale).

    Scale design: the cell assignment is one codegen projection over a
    persisted (id, vector, cell) frame; the within-cell self-join is an
    equi-join co-partitioned on cell (never a cross product) through the
    shared matcher (dcspark/hotkey.py), whose hot-bucket guard drops cells
    larger than ``max_bucket`` (a cell that big means the quantizer is
    undersized; resize n_cells rather than paying (N/cells)^2). Feed the output to
    :func:`dcspark.cluster.near_dup_clusters` (src='id_a', dst='id_b') for
    the keep-one-per-component drop list.
    """
    cents = centroids if centroids is not None else ivf_centroids(n_cells, dim)
    # id_cast="long" matches the embeddings-table oracle; id_cast=None keeps
    # native string ids (the audio clip_id path) — `id_a < id_b` dedups pairs
    # under either ordering, the comparison only needs to be a total order
    id_expr = F.col(id_col) if id_cast is None else F.col(id_col).cast(id_cast)
    corpus = emb.select(
        id_expr.alias("vec_id"),
        _as_double(F.col(vec_col)).alias("v"),
    )
    keyed = corpus.select(
        "vec_id", "v",
        cell_expr(F.col("v"), cents).alias("cell"),
        norm_expr(F.col("v")).alias("n"),
    )
    joined, _ = hotkey.self_join(keyed, "vec_id", ["cell"], max_bucket)
    raw = joined.select(
        F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"), "cell",
        (dot_expr(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n")))
        .alias("score_raw"),
    )
    out = raw.filter(F.col("score_raw") >= threshold).select(
        "id_a", "id_b", "cell", F.round("score_raw", 4).alias("score")
    )
    # cache handle: dcspark.pipeline_ckpt.release_caches(out) after consuming
    out._dcspark_cached = joined._dcspark_cached
    return out
