"""Similarity search over embedding columns (array<float>).

Exact forms (every emitted score is a true cosine):

* ``cosine_topk`` — fold-expression brute force; deterministic left-fold
  summation the DuckDB oracle reproduces bit-compatibly. The parity
  reference for the fast forms.
* ``cosine_topk_blocked`` — the production brute force: broadcast query
  matrix, corpus streamed through ``mapInPandas`` BLAS matmuls with
  per-batch top-k prefilter. Map-only over the corpus.
* ``cosine_near_pairs`` / ``cosine_near_pairs_blocked`` — all-pairs ≥
  threshold; fold-expression baseline vs blocked-GEMM ``applyInPandas``
  (~27× faster, one shuffle, two blocks of vectors per task).

Approximate forms (candidate pruning; every *emitted* score still exact;
recall is the dial, validated in tests):

* ``random_hyperplane_ann`` / ``hyperplane_near_pairs`` — L tables of k
  seeded sign-bit projections, OR-amplified (recall 1-(1-p^k)^L,
  p = 1-θ/π); numpy-vectorized bucket assignment, bit-identical to the
  expression form. Data-oblivious ⇒ oracle-checkable with the plane
  constants inlined into SQL.
* ``ivf_topk`` — spherical k-means inverted lists (MLlib), probe the
  n_probe nearest lists. Data-adaptive ⇒ recall-tested, not oracled.

None of these collect corpus vectors to the driver; query sets (small by
definition) broadcast.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from whiterrabbit_spark.cache import cache_scope, pin
from whiterrabbit_spark.scale import (
    DRIVER_KMEANS_THRESHOLD,
    LSH_FETCH_JOIN_MAX_BYTES,
    QUANTIZER_TRAIN_PER_LIST,
)


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


# NOTE (r8, measured): do NOT "optimize" _dot/_norm into an unrolled
# ``a[0]*b[0] + a[1]*b[1] + ...`` chain for a known dim. A/B at 3M
# rows × 64 dims: HOF fold 2.7 s vs unrolled 17.0 s — Spark 4's
# aggregate/zip_with evaluator walks the primitive double ArrayData
# directly, while 64 chained GetArrayItem nodes generate per-element
# null/bounds-checked code too large to JIT well. The profitable lever
# is evaluating each fold ONCE PER ROW instead of once per candidate
# pair (norm hoisting below).


def _unit(arr: Column) -> Column:
    """L2-normalized double vector; an all-zero vector stays all-zero
    (guarded denominator) instead of going NaN and poisoning k-means
    fits / cosine sweeps downstream.

    The norm is hoisted through ``zip_with``'s second argument
    (``array_repeat`` evaluates it ONCE when the argument array
    materializes): a scalar expression referenced inside an HOF lambda
    is re-evaluated PER ELEMENT in interpreted higher-order eval, which
    made the old ``transform(v, x -> x / n)`` form O(d²) per row — at
    d=64 that is 64 full norm computations per vector, measured as the
    dominant cost of the corpus-assignment pass in the IVF family."""
    v = _to_double(arr)
    n = F.greatest(_norm(v), F.lit(1e-300))
    return F.zip_with(
        v, F.array_repeat(n, F.size(v)), lambda x, nn: x / nn
    )


def embedding_stats(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector sanity/QA stats for an embedding column: dimension, L2
    norm, component mean/min/max. The zero-norm and wrong-dim rows these
    surface are the standard data bugs ahead of ANN indexing (a zero
    vector makes cosine undefined; mixed dims break GEMM batching).

    All row-wise array expressions (fold / array_min / array_max) — fused
    into the scan, no shuffle. Summation is the same deterministic left
    fold as ``_dot``, so an independent engine (DuckDB ``list_*``) agrees
    bit-for-bit before rounding.
    """
    v = _to_double(F.col(vec_col))
    mean = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x) / F.size(v)
    return df.select(
        F.col(id_col),
        F.size(v).alias("dim"),
        _norm(v).alias("l2_norm"),
        mean.alias("vec_mean"),
        F.array_min(v).alias("vec_min"),
        F.array_max(v).alias("vec_max"),
    )


def label_centroid_dispersion(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int | None = None,
) -> DataFrame:
    """Per-label cluster-quality report: centroid L2 norm, member count,
    and the members' mean/min cosine to their own label centroid — the
    embedding-space health check before using labels for curation or
    semantic dedup (a label whose members barely point at their centroid
    is noise, not a cluster).

    Plan: ONE groupBy(label) of per-dimension ``avg`` (dim partial
    aggregates, map-side combined — the shuffle carries O(labels × dim)
    state, never vectors), broadcast the O(labels) centroid table back,
    and fold cosine per row (zip_with/aggregate — JVM, no Python hop)
    into a second O(labels) aggregation. Deterministic left-fold sums so
    DuckDB list math mirrors bit-for-bit before rounding.
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    v = _to_double(F.col(vec_col))
    cent = df.groupBy(F.col(label_col).alias("label")).agg(
        F.array(
            *[F.avg(F.element_at(v, i + 1)) for i in range(dim)]
        ).alias("centroid"),
        F.count(F.lit(1)).alias("n_members"),
    )
    joined = df.select(
        F.col(label_col).alias("label"), v.alias("__v")
    ).join(F.broadcast(cent), "label")
    cos = _dot(F.col("__v"), F.col("centroid")) / (
        F.greatest(_norm(F.col("__v")), F.lit(1e-300))
        * F.greatest(_norm(F.col("centroid")), F.lit(1e-300))
    )
    return (
        joined.select("label", "n_members", cos.alias("__cos"),
                      _norm(F.col("centroid")).alias("__cnorm"))
        .groupBy("label")
        .agg(
            F.first("n_members").alias("n_members"),
            F.first("__cnorm").alias("centroid_norm"),
            F.avg("__cos").alias("avg_cos_to_centroid"),
            F.min("__cos").alias("min_cos_to_centroid"),
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k, deterministic
    tie-break (cosine DESC, neighbor_id ASC). Self-matches (same id) are
    excluded.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _to_double(F.col(vec_col)).alias("qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _to_double(F.col(vec_col)).alias("cv"),
    )
    joined = c.crossJoin(F.broadcast(q)).where(F.col("neighbor_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def cosine_near_pairs(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: all (id1 < id2) with
    cosine ≥ threshold.

    Exact all-pairs is the correctness baseline — a broadcast self-join, so
    the corpus streams once against an in-memory copy of the projected
    (id, vec) side. Quadratic in rows: fine up to ~1e5 vectors; beyond that
    use ``hyperplane_near_pairs`` (LSH-bucketed candidates, same scoring).
    """
    a = df.select(
        F.col(id_col).alias("id1"), _to_double(F.col(vec_col)).alias("va")
    )
    b = df.select(
        F.col(id_col).alias("id2"), _to_double(F.col(vec_col)).alias("vb")
    )
    pairs = a.crossJoin(F.broadcast(b)).where(F.col("id1") < F.col("id2"))
    return pairs.select(
        "id1",
        "id2",
        (_dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))).alias("cosine"),
    ).where(F.col("cosine") >= threshold)


def cosine_topk_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k via numpy GEMM: the query matrix (small by
    definition) is collected and broadcast; the corpus streams through
    ``mapInPandas`` scoring one BLAS matmul per Arrow batch and emitting
    only each batch's per-query top-k — so the shuffle carries
    ≤ k × n_queries rows per batch, and the global window finishes the
    merge. Map-only over the corpus: the shape that survives a 10⁹-vector
    corpus, unlike per-pair expression scoring. Exact to BLAS-vs-fold
    float noise (~1e-15; rank flips need two cosines equal to that
    precision)."""
    import numpy as np
    import pandas as pd

    qrows = queries.select(query_id_col, vec_col).collect()
    out_schema = "query_id long, neighbor_id long, cosine double, rank int"
    if not qrows:
        return corpus.sparkSession.createDataFrame([], out_schema)
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qm = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    bc = corpus.sparkSession.sparkContext.broadcast((qids, qm))

    def score(batches):
        bqids, bqm = bc.value
        nq = len(bqids)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            sims = m @ bqm.T  # (batch, nq)
            sims[ids[:, None] == bqids[None, :]] = -np.inf  # self-matches
            kk = min(k, len(ids))
            top = np.argpartition(-sims, kk - 1, axis=0)[:kk]  # (kk, nq)
            out_q, out_n, out_c = [], [], []
            for j in range(nq):
                sel = top[:, j]
                out_q.extend([bqids[j]] * len(sel))
                out_n.extend(ids[sel])
                out_c.extend(sims[sel, j])
            df_out = pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            )
            yield df_out[df_out["cosine"] > -np.inf]

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def cosine_near_pairs_blocked(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs via blocked matrix multiply.

    The all-pairs score is a GEMM; per-pair array expressions (fold or
    unrolled) run orders of magnitude slower than BLAS. Rows are bucketed
    by ``id % n_blocks``; every unordered block pair (i ≤ j) becomes one
    ``applyInPandas`` group whose two sides multiply as numpy matrices
    (normalized rows ⇒ cosine = dot), emitting only pairs ≥ threshold.

    Scale shape: one shuffle; each block is replicated to its n_blocks
    partner groups, so memory per task = two blocks of vectors — pick
    ``n_blocks`` so a block fits an executor. Float note: BLAS summation
    order differs from a sequential fold at ~1e-15 relative; results are
    exact to the 6-dp rounding every consumer applies.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    tagged = df.select(
        F.col(id_col).alias("vid"),
        _to_double(F.col(vec_col)).alias("v"),
        # hash the id so patterned key spaces (all-even ids, strided
        # ranges) still spread evenly across blocks
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    pair_keys = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi int, bj int",
    )
    left = tagged.join(F.broadcast(pair_keys), F.col("blk") == F.col("bi")).select(
        "bi", "bj", "vid", "v", F.lit(0).alias("side")
    )
    right = tagged.join(F.broadcast(pair_keys), F.col("blk") == F.col("bj")).select(
        "bi", "bj", "vid", "v", F.lit(1).alias("side")
    )
    both = left.unionByName(right)

    def block_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        a = pdf[pdf["side"] == 0]
        ids_a = a["vid"].to_numpy()
        ma = np.stack(a["v"].to_numpy())
        ma = ma / np.linalg.norm(ma, axis=1, keepdims=True)
        if bi == bj:
            ids_b, mb = ids_a, ma
        else:
            b = pdf[pdf["side"] == 1]
            ids_b = b["vid"].to_numpy()
            mb = np.stack(b["v"].to_numpy())
            mb = mb / np.linalg.norm(mb, axis=1, keepdims=True)
        sims = ma @ mb.T
        ii, jj = np.nonzero(sims >= threshold)
        ia = ids_a[ii]
        ib = ids_b[jj]
        if bi == bj:
            # same set on both sides: each unordered pair appears twice;
            # keep the upper triangle (also drops self-pairs)
            keep = ia < ib
            ia, ib, vals = ia[keep], ib[keep], sims[ii, jj][keep]
        else:
            # disjoint blocks: emit every hit, ordered (id1 < id2)
            vals = sims[ii, jj]
            ia, ib = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id1": ia, "id2": ib, "cosine": vals})

    return both.groupBy("bi", "bj").applyInPandas(
        block_pairs, "id1 long, id2 long, cosine double"
    )


def hyperplane_near_pairs(
    df: DataFrame,
    threshold: float,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int | None = None,
    n_tables: int = 16,
    seed: int = 42,
    max_bucket_size: int | None = None,
    auto_bucket_target: int = 500,
    persist_buckets: bool = False,
    prescreen_bits: int = 0,
    prescreen_margin: float = 3.0,
) -> DataFrame:
    """Scale path for embedding near-dup: candidate pairs are ids sharing a
    random-hyperplane bucket in ANY of the L tables (one narrow shuffle on
    (table, bucket)); candidates are scored exactly and filtered by the
    cosine threshold. Approximate only in recall (a missed bucket collision
    drops a pair); every emitted pair's cosine is exact.

    ``prescreen_bits`` (opt-in RECALL DIAL, default 0 = off, exact
    candidate scoring unchanged): when set, each vector carries that
    many extra sign bits (independent seeded hyperplanes, packed 64 per
    bigint) and a candidate pair is dropped BEFORE the exact dot when
    its sign-bit Hamming distance exceeds the bound implied by the
    cosine threshold plus ``prescreen_margin`` binomial standard
    deviations (see :func:`_prescreen_hmax`). The xor+popcount test is
    ~an order of magnitude cheaper than the dim-wide dot fold, which is
    the wall on hot-region corpora where most bucket-cooccurring pairs
    FAIL the threshold (SCALE r8: 300k-vector hot cluster, skew 2.41).
    This dial trades a bounded per-pair recall loss for that pruning —
    a pair exactly at the threshold survives with probability ≈ the
    one-sided normal tail of ``margin`` (≳99.8% at the default 3σ;
    recall is pinned by test on the planted-dup corpus). Registry
    entries keep it off, so their oracle hashes are unchanged.

    Scale knobs: ``n_planes`` must grow with the corpus (2^planes
    buckets per table; target ~10²-10³ rows per bucket). The default
    ``None`` AUTO-SIZES planes = max(4, ceil(log2(n/500))) from one
    count probe — SCALE_r7 found the old fixed default (4, sized for
    the sf0.1 corpus) quietly degenerates at 250k vectors: 16 buckets
    per table ⇒ ~15k-row buckets ⇒ ~10⁹ candidate pairs and a
    disk-filling spill; the registry entries keep passing an explicit
    4 so their inlined-plane oracles stay byte-stable.
    ``max_bucket_size`` is the giant-bucket guard: identical
    or near-identical vectors collide in EVERY table no matter how
    many planes, so one hyper-duplicated embedding makes a d² bucket;
    buckets above the cap leave candidate generation (collapse exact
    duplicates with a digest pass first — their pairs carry no
    information). Measured: 100k copies of one vector → ~8·10¹⁰
    candidate rows without the cap (PLANS.md round-5 media smoke)."""
    n = df.count()
    if n_planes is None:
        import math

        # candidate volume ~ n x target x n_tables / 2: the 500-row
        # default is recall-lenient for LOOSE thresholds; a 0.9-style
        # dedup threshold tolerates far smaller buckets (near-identical
        # vectors agree on almost every plane sign), so pass ~64 to cut
        # candidates ~8x at the same recall class.
        n_planes = max(
            4, math.ceil(math.log2(max(n, 1) / float(auto_bucket_target)))
        )
    # ADAPTIVE scoring (SCALE_r7 finding + bench follow-up). Two plans,
    # identical pair set and bit-identical cosine arithmetic:
    #
    # * FETCH-JOIN (n × dim × 8 B ≤ LSH_FETCH_JOIN_MAX_BYTES): bare-id
    #   candidates from the (table, bucket) self-join, deduped, then
    #   vectors attached by two EXPLICITLY-BROADCAST id-joins and each
    #   distinct pair scored ONCE. Cheapest while the vector table
    #   broadcasts (the r1-r6 form; 3.3x faster than in-bucket at the
    #   2k-vector bench scale, where per-table re-scoring dominates).
    # * IN-BUCKET (above threshold): vectors ride the bucket shuffle
    #   ONCE, pairs are scored with vectors already co-located, the
    #   threshold prunes in-task, and only survivors reach the pair
    #   dedup. Past broadcast scale the fetch form's second join
    #   SHUFFLES a dim-wide array per candidate row (~260 GB at 500M
    #   candidates x 64 dims; Java-heap OOM at a 250k-vector corpus,
    #   measured) — the per-table re-scoring (≤ n_tables codegen dots
    #   per pair) is CPU noise next to that shuffle.
    #   The gate is ESTIMATED BYTES (n x dim x 8), not rows:
    #   the broadcast cost scales with dim, and a row gate forced
    #   ~600 MB broadcasts for 50k x 1536-dim vectors (ADVICE r7).
    # ``persist_buckets``: the bucket table feeds both self-join sides
    # plus the guard's size count — three subplans with DIFFERENT
    # downstream projections, so no ReusedExchange covers them and the
    # Arrow bucket-assignment UDF re-runs per consumer. Whether to pin
    # it is a measured TRADE (SCALE r8, 1M x 64d): standalone, the UDF
    # recompute is cheap and pipelines with each exchange — persisting
    # the ~4 GB vector-carrying table cost +64% (296 -> 488 s); inside
    # ``embedding_keep_best``, whose checkpoint boundary re-executed
    # the whole pairs plan, pinning it cut the composed op 576 -> 318 s
    # (VERDICT r7 #7). Default False (standalone callers); composed
    # consumers that re-execute the plan pass True.
    h_max = (
        _prescreen_hmax(prescreen_bits, threshold, prescreen_margin)
        if prescreen_bits
        else None
    )
    if n * dim * 8 <= LSH_FETCH_JOIN_MAX_BYTES:
        buckets = hyperplane_buckets_pandas(
            df, dim, "vid", vec_col, id_col, n_planes, n_tables, seed,
            include_vec=False, prescreen_bits=prescreen_bits,
        )
        if persist_buckets:
            buckets = pin(buckets)
        if max_bucket_size is not None:
            buckets = _drop_oversized(buckets, max_bucket_size)
        cand = (
            buckets.alias("a")
            .join(buckets.alias("b"), ["table", "bucket"])
            .where(F.col("a.vid") < F.col("b.vid"))
        )
        if h_max is not None:
            # prune BEFORE the pair dedup: the dropped pairs never pay
            # the distinct shuffle either
            cand = cand.where(
                _psig_hamming(F.col("a.psig"), F.col("b.psig")) <= h_max
            )
        cand = cand.select(
            F.col("a.vid").alias("id1"), F.col("b.vid").alias("id2")
        ).dropDuplicates(["id1", "id2"])
        # Per-VECTOR norm computed once here instead of once per candidate
        # PAIR in the cosine expression (candidates >> vectors), and the
        # dot/norm folds unrolled for codegen — bit-identical values
        # (same left-fold order), ~3x less per-pair array work.
        vecs = df.select(
            F.col(id_col).alias("vid"),
            _to_double(F.col(vec_col)).alias("v"),
        ).select("vid", "v", _norm(F.col("v")).alias("nv"))
        scored = cand.join(
            F.broadcast(
                vecs.select(
                    F.col("vid").alias("id1"),
                    F.col("v").alias("va"),
                    F.col("nv").alias("na"),
                )
            ),
            "id1",
        ).join(
            F.broadcast(
                vecs.select(
                    F.col("vid").alias("id2"),
                    F.col("v").alias("vb"),
                    F.col("nv").alias("nb"),
                )
            ),
            "id2",
        )
        return scored.select(
            "id1",
            "id2",
            (
                _dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb"))
            ).alias("cosine"),
        ).where(F.col("cosine") >= threshold)
    buckets = hyperplane_buckets_pandas(
        df, dim, "vid", vec_col, id_col, n_planes, n_tables, seed,
        include_vec=True, prescreen_bits=prescreen_bits,
    )
    # Per-VECTOR norm computed map-side on the bucket rows (one double
    # per row through the shuffle) instead of once per candidate PAIR —
    # the in-bucket join scores EVERY bucket-cooccurring pair, so
    # per-pair fold work dominates this path at scale (SCALE r8: the
    # skew corpus's 300k-vector hot cluster makes candidate volume, not
    # survivor shuffle, the wall). Cuts the per-pair HOF folds 3 → 1;
    # bit-identical cosine values (same expressions, same inputs).
    buckets = buckets.withColumn("nv", _norm(F.col("v")))
    if persist_buckets:
        buckets = pin(buckets)
    if max_bucket_size is not None:
        buckets = _drop_oversized(buckets, max_bucket_size)
    pre_a = [F.col("psig").alias("pa")] if h_max is not None else []
    pre_b = [F.col("psig").alias("pb")] if h_max is not None else []
    a = buckets.select(
        "table", "bucket",
        F.col("vid").alias("id1"), F.col("v").alias("va"),
        F.col("nv").alias("na"), *pre_a,
    )
    b = buckets.select(
        "table", "bucket",
        F.col("vid").alias("id2"), F.col("v").alias("vb"),
        F.col("nv").alias("nb"), *pre_b,
    )
    pairs = a.join(b, ["table", "bucket"]).where(F.col("id1") < F.col("id2"))
    if h_max is not None:
        # in-task prune before the dim-wide dot fold — the candidate
        # volume from a hot vector-space region is this path's wall
        pairs = pairs.where(
            _psig_hamming(F.col("pa"), F.col("pb")) <= h_max
        )
    return (
        pairs.select(
            "id1",
            "id2",
            (
                _dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb"))
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .dropDuplicates(["id1", "id2"])
    )


def _drop_oversized(buckets: DataFrame, max_bucket_size: int) -> DataFrame:
    """Giant-bucket guard as a broadcast ANTI-join of only the OVERSIZED
    (table, bucket) keys — few by definition; the window-count and
    attach-size-join forms this replaces re-shuffled (and sorted) the
    whole bucket table just to filter (SCALE_r7: +260 s at 2M docs)."""
    big = (
        buckets.groupBy("table", "bucket")
        .agg(F.count(F.lit(1)).alias("__bsz"))
        .where(F.col("__bsz") > max_bucket_size)
        .select("table", "bucket")
    )
    return buckets.join(F.broadcast(big), ["table", "bucket"], "left_anti")


def embedding_keep_best(
    df: DataFrame,
    threshold: float,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int | None = None,
    n_tables: int = 16,
    seed: int = 42,
    max_bucket_size: int | None = None,
    auto_bucket_target: int = 500,
    prescreen_bits: int = 0,
    prescreen_margin: float = 3.0,
) -> DataFrame:
    """Exact-oracle semantic dedup: LSH cosine near-pairs above
    ``threshold`` → connected components → keep the HIGHEST-L2-NORM
    member of each cluster (norm as the information-content proxy; any
    per-vector score frame can be swapped in via
    ``dedup.keep_best_dedup`` directly). The deterministic counterpart
    of :func:`semantic_dedup` — where k-means cluster assignments are
    only rows-checkable, every stage here (seeded hyperplanes, exact
    candidate cosines, min-label clusters, 6-dp argmax) is
    reproducible by an independent engine.

    Scale shape: candidate generation is the bucketed LSH join (bare
    ids, narrow shuffle); clustering is O(diameter) label propagation;
    the argmax window runs per-cluster with singletons split off
    map-only — no quadratic or single-task stage.

    Returns ``(id, cluster_id, score, kept)`` — cluster_id NULL for
    vectors with no near-dup, score = L2 norm rounded to 6 dp.
    """
    from whiterrabbit_spark.extensions import dedup

    pairs = hyperplane_near_pairs(
        df, threshold, dim, vec_col, id_col, n_planes, n_tables, seed,
        max_bucket_size=max_bucket_size,
        auto_bucket_target=auto_bucket_target,
        prescreen_bits=prescreen_bits,
        prescreen_margin=prescreen_margin,
        # the pairs plan re-executes across this op's checkpoint
        # boundary — pinning the bucket assignment cut 576 -> 318 s at
        # 1M vectors (SCALE r8); standalone near-pair calls keep the
        # cheaper pipelined recompute (persist cost +64% there)
        persist_buckets=True,
    )
    scored = df.select(
        F.col(id_col), _norm(_to_double(F.col(vec_col))).alias("score")
    )
    return dedup.keep_best_dedup(scored, pairs, id_col=id_col, score_col="score")


# Seed offset for the prescreen planes — far outside the per-table
# bucket-plane seeds (seed + 1000·t), so the prescreen's sign estimate
# is independent of every bucket's collision structure.
_PRESCREEN_SEED_OFFSET = 999_999_937


def _prescreen_hmax(bits: int, threshold: float, margin: float) -> int:
    """Max sign-bit Hamming distance a pair AT the cosine threshold is
    allowed before the prescreen drops it. E[hamming]/bits = θ/π (the
    random-hyperplane collision law); ``margin`` binomial standard
    deviations of slack bound the per-pair false-drop probability (the
    one-sided normal tail: margin 3 ⇒ ≲0.1% for a pair exactly at the
    threshold; pairs above it have smaller θ and drop even less)."""
    import math as _math

    f = _math.acos(min(max(threshold, -1.0), 1.0)) / _math.pi
    return int(bits * f + margin * _math.sqrt(bits * f * (1.0 - f)))


def _psig_hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two packed sign-bit signatures: one
    xor+popcount per 64-bit word — ~dim/n_words cheaper than the exact
    dot fold it gates."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id from seeded random hyperplanes."""
    bucket = F.lit(0).cast("bigint")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(x) for x in p])
        dot = _dot(_to_double(vec), plane)
        bucket = bucket + F.when(dot >= 0, F.lit(2 ** i).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    return bucket


def _table_buckets(vec: Column, dim: int, n_planes: int, n_tables: int, seed: int) -> Column:
    """Array of (table, bucket) structs — one entry per hash table."""
    entries = []
    for t in range(n_tables):
        planes = hyperplanes(dim, n_planes, seed + 1000 * t)
        entries.append(
            F.struct(
                F.lit(t).alias("table"),
                bucket_expr(vec, planes).alias("bucket"),
            )
        )
    return F.array(*entries)


def hyperplane_buckets_pandas(
    df: DataFrame,
    dim: int,
    out_id: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 4,
    n_tables: int = 16,
    seed: int = 42,
    include_vec: bool = True,
    passthrough: tuple[tuple[str, str], ...] = (),
    prescreen_bits: int = 0,
) -> DataFrame:
    """(id[, vec], table, bucket) rows — one per hash table — with the
    sign bits computed by one numpy matmul per Arrow batch instead of
    per-row interpreted fold expressions (~100× on wide corpora; sign
    agreement with the fold form holds except for |dot| ≲ 1e-15 boundary
    cases, parity-tested). Map-only: bucketing adds no shuffle.

    ``include_vec=False`` omits the vector column from the UDF output:
    Spark cannot prune columns INSIDE a mapInPandas, so a caller that
    only needs (id, table, bucket) — candidate generation in
    ``hyperplane_near_pairs`` — would otherwise pay n_tables Arrow
    copies of every vector just to drop them.

    ``passthrough`` — (column, sql_type) pairs computed on the INPUT
    frame and replicated onto each of the row's n_tables bucket rows.
    Lets callers evaluate a per-vector expression (e.g. the norm fold)
    ONCE per vector before bucketing instead of once per bucket row
    after it (ADVICE r8: the post-bucketing norm ran n_tables× per
    vector).

    ``prescreen_bits > 0`` additionally emits ``psig array<bigint>`` —
    the vector's sign bits against that many EXTRA seeded hyperplanes
    (independent of every table's bucket planes), packed 64 per word.
    One more matmul column block in the same batch pass; consumed by
    the opt-in Hamming prescreen in :func:`hyperplane_near_pairs`."""
    import numpy as np
    import pandas as pd

    all_planes = np.array(
        [hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    )  # (n_tables, n_planes, dim)
    flat = all_planes.reshape(n_tables * n_planes, dim)  # row t*n_planes+i
    weights = (2 ** np.arange(n_planes)).astype(np.int64)
    pre = (
        np.array(
            hyperplanes(dim, prescreen_bits, seed + _PRESCREEN_SEED_OFFSET)
        )
        if prescreen_bits
        else None
    )

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            signs = (m @ flat.T >= 0).reshape(len(pdf), n_tables, n_planes)
            buckets = signs @ weights  # (n, n_tables)
            n = len(pdf)
            out = {out_id: np.repeat(pdf[id_col].to_numpy(), n_tables)}
            if include_vec:
                out["v"] = [v for v in pdf[vec_col] for _ in range(n_tables)]
            out["table"] = np.tile(np.arange(n_tables), n)
            out["bucket"] = buckets.reshape(-1)
            for name, _typ in passthrough:
                out[name] = np.repeat(pdf[name].to_numpy(), n_tables)
            if pre is not None:
                psigns = m @ pre.T >= 0  # (n, bits)
                n_words = (prescreen_bits + 63) // 64
                packed = np.zeros((n, n_words), dtype=np.uint64)
                for wi in range(n_words):
                    chunk = psigns[:, wi * 64 : (wi + 1) * 64]
                    wts = np.uint64(1) << np.arange(
                        chunk.shape[1], dtype=np.uint64
                    )
                    packed[:, wi] = (chunk.astype(np.uint64) * wts).sum(
                        axis=1, dtype=np.uint64
                    )
                rows = packed.view(np.int64).tolist()
                out["psig"] = [r for r in rows for _ in range(n_tables)]
            yield pd.DataFrame(out)

    vec_field = "v array<double>, " if include_vec else ""
    extra_fields = "".join(f", {name} {typ}" for name, typ in passthrough)
    psig_field = ", psig array<bigint>" if prescreen_bits else ""
    return df.select(
        id_col, vec_col, *[name for name, _typ in passthrough]
    ).mapInPandas(
        assign,
        f"{out_id} long, {vec_field}table int, bucket long"
        f"{extra_fields}{psig_field}",
    )


def random_hyperplane_ann(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: a corpus vector is a candidate for a query iff
    they share a bucket in ANY of the L hash tables; candidates are scored
    exactly and ranked. One narrow shuffle on (table, bucket); per-pair
    dedup before scoring."""
    # Corpus-vector norms are computed ON THE CORPUS FRAME — once per
    # vector, before the bucket fan-out — and ride the bucket rows as a
    # passthrough column; query norms ride the broadcast (once per
    # query). The cosine then does ONE fold per candidate instead of
    # three. Bit-identical values: the same ``_norm`` fold over the
    # same doubles (ADVICE r8: computing the norm AFTER
    # hyperplane_buckets_pandas ran the fold n_tables× per vector).
    corpus_n = corpus.withColumn("cn", _norm(_to_double(F.col(vec_col))))
    c = hyperplane_buckets_pandas(
        corpus_n, dim, "neighbor_id", vec_col, id_col, n_planes, n_tables,
        seed, passthrough=(("cn", "double"),),
    ).withColumnRenamed("v", "cv")
    q = hyperplane_buckets_pandas(
        queries, dim, "query_id", vec_col, query_id_col, n_planes, n_tables, seed
    ).withColumnRenamed("v", "qv")
    cand = (
        c.join(F.broadcast(q.drop("qv")), ["table", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "cv", "cn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qv = queries.select(
        F.col(query_id_col).alias("query_id"), _to_double(F.col(vec_col)).alias("qv")
    ).select("query_id", "qv", _norm(F.col("qv")).alias("qn"))
    scored = cand.join(F.broadcast(qv), "query_id").select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _numpy_spherical_kmeans(
    m, k: int, seed: int, max_iter: int
) -> list[list[float]]:
    """Seeded k-means++ / Lloyd on unit vectors, driver-side. Distances
    go through one GEMM per iteration (‖x−c‖² = ‖x‖² + ‖c‖² − 2x·c);
    an emptied cluster reseeds to the point farthest from its
    assignment (deterministic). Same geometry as the MLlib path:
    centers are MEANS of unit vectors, not re-normalized."""
    import numpy as np

    n = m.shape[0]
    k = min(k, n)
    rng = np.random.default_rng(seed)
    centers = np.empty((k, m.shape[1]))
    centers[0] = m[rng.integers(n)]
    d2 = ((m - centers[0]) ** 2).sum(1)
    for j in range(1, k):
        tot = d2.sum()
        p = d2 / tot if tot > 0 else np.full(n, 1.0 / n)
        centers[j] = m[rng.choice(n, p=p)]
        d2 = np.minimum(d2, ((m - centers[j]) ** 2).sum(1))
    assign = None
    # ‖x‖² is only constant across rows when every row is unit; _unit
    # keeps all-zero vectors at zero norm, so the 'farthest point'
    # reseed must use the FULL squared distance or zero vectors bias
    # the pick on corpora that contain them.
    row_n2 = (m**2).sum(1)
    for _ in range(max_iter):
        d = (centers**2).sum(1)[None, :] - 2.0 * (m @ centers.T)
        new_assign = d.argmin(1)
        if assign is not None and (new_assign == assign).all():
            break
        assign = new_assign
        for j in range(k):
            members = m[assign == j]
            if len(members):
                centers[j] = members.mean(0)
            else:
                # farthest point from its nearest center, skipping any
                # point that already coincides with a live center (a
                # duplicate reseed would empty again next iteration).
                full = row_n2 + d.min(1)
                pick = int(full.argmax())
                for cand in np.argsort(-full):
                    cand = int(cand)
                    if not (np.abs(centers - m[cand]) < 1e-12).all(
                        1
                    ).any():
                        pick = cand
                        break
                centers[j] = m[pick]
    return [list(map(float, c)) for c in centers]


def fit_spherical_centers(
    corpus: DataFrame,
    vec_col: str,
    n_lists: int,
    seed: int,
    max_iter: int = 20,
    sample_fraction: float | None = None,
    driver_fit_threshold: int = DRIVER_KMEANS_THRESHOLD,
    auto_train_per_list: int = QUANTIZER_TRAIN_PER_LIST,
) -> list[list[float]]:
    """Seeded spherical k-means coarse quantizer, shared by the
    in-memory IVF search, the tuning curve, and the persistent index
    builder.

    Vectors are L2-normalized first: squared L2 on unit vectors is
    monotone in cosine, so the quantizer partitions by the metric being
    searched. AUTO-SAMPLING (SCALE_r7: the un-sampled default burned
    90+ s of a 99 s tuning-curve run at a 250k corpus): with no
    explicit ``sample_fraction`` the fit trains on at most
    ``max(driver_fit_threshold, auto_train_per_list × n_lists)``
    vectors — a coarse quantizer needs thousands of points per
    centroid, not the corpus (exactly how single-node ANN libraries
    train on a sample); assignment, probing, and scoring still cover
    the FULL corpus downstream. Pass ``sample_fraction`` to override
    the policy in either direction (``1.0`` forces a full-corpus fit).

    Scale-adaptive (the connected-components pattern): at or below
    ``driver_fit_threshold`` training vectors the fit runs DRIVER-SIDE
    in numpy — a distributed MLlib fit costs 20+ scheduler round-trips
    that dwarf the arithmetic at that size (measured 6.5 s MLlib vs
    ~0.2 s numpy on 2k × 64-dim). Above it, the seeded MLlib path runs
    unchanged. Both paths are deterministic per seed; the IVF family's
    oracles pin recall floors and flags, never center values, so the
    paths are interchangeable by contract."""
    train = corpus
    if sample_fraction is not None:
        train = corpus.sample(fraction=sample_fraction, seed=seed)
    n = train.count()
    if sample_fraction is None:
        target = max(driver_fit_threshold, auto_train_per_list * n_lists)
        if n > target:
            train = corpus.sample(fraction=target / n, seed=seed)
            n = train.count()
    if n == 0:
        return []
    if n <= driver_fit_threshold:
        import numpy as np

        rows = train.select(_unit(F.col(vec_col)).alias("v")).collect()
        m = np.array([r["v"] for r in rows], dtype=np.float64)
        return _numpy_spherical_kmeans(m, n_lists, seed, max_iter)

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = train.select(array_to_vector(_unit(F.col(vec_col))).alias("features"))
    # cache the feature frame through the fit: MLlib's internal RDD cache
    # NPEs on uncached DSv2-columnar-backed vector rows (null buffer
    # elided in the batch accessor) — materializing via the SQL cache
    # sidesteps it, and the fit reads the input maxIter times anyway
    with cache_scope():
        km = KMeans(k=n_lists, seed=seed, maxIter=max_iter).fit(pin(feats))
    return [list(map(float, c)) for c in km.clusterCenters()]


def nearest_lists_expr(vec: Column, centers: list[list[float]], n: int) -> Column:
    """Array of the ``n`` nearest list ids by squared L2 of the unit
    vector to each centroid — a pure fold expression (map-side,
    codegen), no UDF."""
    dists = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        _unit(vec),
                        F.array(*[F.lit(x) for x in c]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                F.lit(i).alias("list_id"),
            )
            for i, c in enumerate(centers)
        ]
    )
    return F.slice(F.array_sort(dists), 1, n)["list_id"]


def ivf_build_index(
    corpus: DataFrame,
    out_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int = 16,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> list[list[float]]:
    """Build a PERSISTENT IVF index: build once, query many — the serving
    shape for similarity search over a static corpus.

    Layout (plain parquet, no engine-private format):

    * ``{out_dir}/centroids`` — (list_id, centroid array), ``n_lists``
      rows;
    * ``{out_dir}/lists`` — (id, vector) hive-partitioned BY ``list_id``,
      so a query that probes p lists reads exactly p partitions
      (directory-level pruning: the other ``n_lists − p`` never touch
      IO — the on-disk analog of an inverted list).

    Index build is one MLlib fit (sampled at scale) + ONE map-side
    assignment pass + the partitioned write's shuffle on list_id.
    Returns the centroid list."""
    centers = fit_spherical_centers(
        corpus, vec_col, n_lists, seed, sample_fraction=sample_fraction
    )
    spark = corpus.sparkSession
    cdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centers)], "list_id int, centroid array<double>"
    )
    # repartition(1), not coalesce(1): a coalesced task drains the
    # driver-parallelized slices serially (~5 s for 16 rows at
    # local[32], measured); the one-round shuffle is ~0.7 s
    cdf.repartition(1).write.mode("overwrite").parquet(f"{out_dir}/centroids")
    assigned = corpus.select(
        F.col(id_col).alias("id"),
        _to_double(F.col(vec_col)).alias("v"),
        nearest_lists_expr(F.col(vec_col), centers, 1)[0].alias("list_id"),
    )
    # one file per list: each inverted list reads as one contiguous unit
    assigned.repartition("list_id").write.mode("overwrite").partitionBy(
        "list_id"
    ).parquet(f"{out_dir}/lists")
    return centers


def ivf_query_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Query a persistent IVF index built by ``ivf_build_index``.

    The centroid table (``n_lists`` rows) collects to the driver; each
    query's ``n_probe`` nearest lists come from the same fold expression
    used at build time. The union of probed list ids becomes a LITERAL
    ``isin`` predicate, so the lists scan prunes to those hive partitions
    at the directory level (plan shows ``PartitionFilters``) — IO is
    proportional to probed lists, not corpus size. Candidates join the
    (broadcast) query batch on list_id and are scored exactly; per-query
    top-k via window."""
    centers_rows = sorted(
        spark.read.parquet(f"{index_dir}/centroids").collect(),
        key=lambda r: r["list_id"],
    )
    centers = [list(r["centroid"]) for r in centers_rows]
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _to_double(F.col(vec_col)).alias("qv"),
        F.explode(
            nearest_lists_expr(F.col(vec_col), centers, n_probe)
        ).alias("list_id"),
    ).withColumn("qn", _norm(F.col("qv")))
    # serving batches are small: collecting O(queries × n_probe) list ids
    # is what makes directory-level pruning possible (isin needs literals)
    probed = sorted({r["list_id"] for r in q.select("list_id").distinct().collect()})
    lists = spark.read.parquet(f"{index_dir}/lists").where(
        F.col("list_id").isin(probed)
    )
    # list-vector norm once per scanned row (map-side) — one fold per
    # candidate instead of three; bit-identical cosines
    lists = lists.withColumn("cn", _norm(F.col("v")))
    scored = lists.join(F.broadcast(q), "list_id").where(
        F.col("id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        (
            _dot(F.col("qv"), F.col("v"))
            / (F.col("qn") * F.col("cn"))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF-flat ANN: a seeded k-means coarse quantizer (Spark MLlib)
    partitions the corpus into ``n_lists`` inverted lists; each query
    exactly scores only the ``n_probe`` lists whose centroids are nearest —
    the complementary ANN family to random-hyperplane LSH (data-adaptive
    partitions vs data-oblivious projections; recall degrades for points
    near list boundaries, controlled by n_probe).

    Shapes: one MLlib fit (its own jobs), one map-side list assignment over
    the corpus, a broadcast join on list id, GEMM-free exact scoring on
    candidates. Approximate by design → recall-tested, not oracle-checked.
    """
    centers = fit_spherical_centers(corpus, vec_col, n_lists, seed)

    def nearest_lists(vec: Column, n: int) -> Column:
        return nearest_lists_expr(vec, centers, n)

    # Norms hoisted to once per corpus row / per query (map-side) —
    # one fold per candidate instead of three; bit-identical cosines.
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _to_double(F.col(vec_col)).alias("cv"),
        nearest_lists(F.col(vec_col), 1)[0].alias("list_id"),
    ).withColumn("cn", _norm(F.col("cv")))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _to_double(F.col(vec_col)).alias("qv"),
        F.explode(nearest_lists(F.col(vec_col), n_probe)).alias("list_id"),
    ).withColumn("qn", _norm(F.col("qv")))
    scored = c.join(F.broadcast(q), "list_id").where(
        F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        (
            _dot(F.col("qv"), F.col("cv"))
            / (F.col("qn") * F.col("cn"))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_tuning_curve(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 5,
    n_lists: int = 16,
    probes: tuple[int, ...] = (1, 2, 4, 8, 16),
    seed: int = 42,
) -> DataFrame:
    """Recall@k vs n_probe tuning curve for the IVF quantizer (VERDICT
    r5 #8): the offline evaluation that tells a user WHICH ``n_probe``
    buys production recall before they point the dial at 100 TB. A
    recall floor alone is a regression gate, not an operating guide;
    the curve shows the whole dial, anchored by two provable facts —
    recall is MONOTONE in n_probe (probing p+1 lists scores a superset
    of p's candidates... though displacement means per-query top-k can
    swap members, mean recall vs the exact top-k cannot decrease), and
    ``n_probe = n_lists`` scans every list, so recall == 1.0 exactly.

    Measured on the synthetic embeddings (isotropic — the WORST case
    for a data-adaptive quantizer; eigenvalues all ≈ 0.027): recall@5 =
    0.20–0.35 (p=1), 0.40–0.53 (p=2), 0.61–0.77 (p=4), 0.86–0.92
    (p=8), 1.000 (p=16) across sf0.001/0.01/0.1. Operating point: ≥0.9
    needs p ≥ 8 of 16 lists HERE; real clustered embeddings reach it
    far earlier — re-run this curve on the target corpus.

    Scale shape: one quantizer fit + ONE scoring pass for ALL probe
    levels — each query ranks every list once (``posexplode`` of the
    full nearest-list array gives a probe_rank per list), candidates
    join on list id carrying that rank, the exact cosine is computed
    once per (query, candidate) — and then ONE Window pass computes
    every level's candidate rank at once: level p's rank of a row is
    the running count of ``probe_rank ≤ p`` rows in (cosine DESC, id)
    order, so a row is in level p's top-k iff ``rank_p ≤ k``, and a
    recall hit iff additionally its all-candidate rank
    (= rank at p = n_lists, which scans every list) is ≤ k — a
    row-local predicate, no level union and no exact-vs-level self-join
    (the r7 form built a 6-level union of row_number windows and read
    it twice: 12 window executions + a join, measured ~2/3 of the sf0.1
    operator; r8). The scored frame is eagerly pinned because the
    window pass and the final aggregate read it.

    Returns one row per probe level: ``(n_probe, n_queries, k,
    recall_at_k, monotone_ok)`` ordered by n_probe.
    """
    centers = fit_spherical_centers(corpus, vec_col, n_lists, seed)
    # both legs pre-normalize ONCE (each row touched exactly once), so
    # the |queries| × |corpus| scoring pass is a single dot — the old
    # dot/(|q||c|) form re-derived both norms per candidate pair in
    # interpreted HOF eval, and the unpartitioned broadcast-join output
    # ran it on one task: 22.8 s for a 40k-row checkpoint, measured;
    # now sub-second. repartition spreads the scoring before the pin.
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _unit(F.col(vec_col)).alias("cv"),
        nearest_lists_expr(F.col(vec_col), centers, 1)[0].alias("list_id"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _unit(F.col(vec_col)).alias("qv"),
        F.posexplode(
            nearest_lists_expr(F.col(vec_col), centers, n_lists)
        ).alias("probe_rank0", "list_id"),
    )
    scored = pin(
        c.join(F.broadcast(q), "list_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .repartition(
            corpus.sparkSession.sparkContext.defaultParallelism, "query_id"
        )
        .select(
            "query_id",
            "neighbor_id",
            (F.col("probe_rank0") + 1).alias("probe_rank"),
            _dot(F.col("qv"), F.col("cv")).alias("cosine"),
        ),
        checkpoint=True,
    )
    # ONE window pass for every level: the running count of
    # probe_rank ≤ p rows in (cosine DESC, id ASC) order IS level p's
    # candidate rank for the rows belonging to that level — identical
    # to the per-level filter + row_number by construction (same total
    # order, the indicator skips non-members). All running sums share
    # one Window frame, so Spark sorts each query's candidates once.
    w_run = (
        Window.partitionBy("query_id")
        .orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lvls = sorted(set(int(x) for x in probes) | {int(n_lists)})
    ranked = scored.select(
        "probe_rank",
        *[
            F.sum((F.col("probe_rank") <= p).cast("long"))
            .over(w_run)
            .alias(f"__rk_{p}")
            for p in lvls
        ],
    )
    # hit for level p: in level p's top-k AND in the exact top-k (the
    # p = n_lists rank ranks ALL candidates). Row-local — the level
    # union and the exact self-join of the r7 form are gone. A
    # zero-hit level keeps its row (the sums are over the whole frame),
    # preserving the worst-case curve row the floor gate needs.
    exact_rk = F.col(f"__rk_{int(n_lists)}")
    probes_sorted = sorted(set(int(x) for x in probes))
    hits_row = ranked.agg(
        *[
            F.sum(
                (
                    (F.col("probe_rank") <= p)
                    & (F.col(f"__rk_{p}") <= k)
                    & (exact_rk <= k)
                ).cast("long")
            ).alias(f"__h_{p}")
            for p in probes_sorted
        ]
    )
    n_q = queries.select(F.countDistinct(query_id_col).alias("nq"))
    spark = corpus.sparkSession
    probe_frame = spark.createDataFrame(
        [(int(p),) for p in probes_sorted], "n_probe long"
    )
    n_hits = F.lit(None).cast("long")
    for p in probes_sorted:
        n_hits = F.when(
            F.col("n_probe") == p, F.col(f"__h_{p}")
        ).otherwise(n_hits)
    hits = probe_frame.crossJoin(F.broadcast(hits_row)).select(
        "n_probe", F.coalesce(n_hits, F.lit(0)).alias("n_hits")
    )
    wl = Window.orderBy("n_probe")  # |probes| rows — single-task window
    return (
        hits.crossJoin(F.broadcast(n_q))
        .select(
            "n_probe",
            F.col("nq").alias("n_queries"),
            F.lit(k).cast("long").alias("k"),
            (F.col("n_hits") / (F.col("nq") * k).cast("double")).alias(
                "recall_at_k"
            ),
        )
        .withColumn(
            "monotone_ok",
            F.col("recall_at_k")
            >= F.coalesce(F.lag("recall_at_k").over(wl), F.lit(0.0)),
        )
        .orderBy("n_probe")
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int = 16,
    threshold: float = 0.95,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): spherical k-means partitions the corpus into
    semantic clusters, then WITHIN each cluster a deterministic greedy
    sweep (ascending id) drops every item whose cosine similarity to an
    already-kept item is ≥ ``threshold``. Near-duplicate *meaning* — not
    near-duplicate text — so it removes paraphrases exact/MinHash dedup
    cannot see. Cross-cluster duplicates are missed by design; that
    residual is bounded by the recall tests, like every approximate form
    in this module.

    Returns ``(id_col, cluster_id, keep, max_sim)`` for every input row —
    ``max_sim`` is the similarity to the kept item that caused a drop
    (NaN for kept rows).

    Shapes: one MLlib fit (sampled at real scale — the quantizer needs
    thousands of points per cluster, not the corpus), one map-side cluster
    assignment, ONE shuffle on cluster_id into ``applyInPandas``, greedy
    sweep as numpy GEMV per candidate against the kept block. Cluster size
    is the memory bound: at 100 TB raise ``n_clusters`` so ~|corpus|/k
    vectors fit per task (SemDeDup itself runs k=50 000 on LAION-scale)
    and the per-cluster cost drops quadratically while the shuffle stays
    one pass of (id, vector) pairs.
    """
    import numpy as np
    import pandas as pd
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import types as T

    featurized = df.select(
        F.col(id_col),
        _unit(F.col(vec_col)).alias("_uv"),
        array_to_vector(_unit(F.col(vec_col))).alias("features"),
    )
    # cached through fit+transform (DSv2 NPE, see fit_spherical_centers);
    # the caller's cache_scope frees it
    featurized = pin(featurized)
    km = KMeans(k=n_clusters, seed=seed, maxIter=20).fit(featurized)
    # assignment via the fitted model (JVM-side, O(k·d) per row) — an
    # inlined-centers expression tree would not compile at the 50k
    # clusters the docstring's scale note calls for
    assigned = km.transform(featurized).select(
        F.col(id_col),
        "_uv",
        F.col(km.getPredictionCol()).alias("cluster_id"),
    )
    id_field = assigned.schema[id_col]
    out_schema = T.StructType(
        [
            id_field,
            T.StructField("cluster_id", T.IntegerType()),
            T.StructField("keep", T.BooleanType()),
            T.StructField("max_sim", T.DoubleType()),
        ]
    )

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        mat = np.vstack(pdf["_uv"].to_numpy())
        n = len(pdf)
        keep = np.ones(n, dtype=bool)
        max_sim = np.full(n, np.nan)
        kept_rows: list[int] = [0] if n else []
        for i in range(1, n):
            sims = mat[kept_rows] @ mat[i]
            hi = float(sims.max()) if len(sims) else -1.0
            if hi >= threshold:
                keep[i] = False
                max_sim[i] = hi
            else:
                kept_rows.append(i)
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cluster_id": pdf["cluster_id"].astype("int32"),
                "keep": keep,
                "max_sim": max_sim,
            }
        )

    return assigned.groupBy("cluster_id").applyInPandas(sweep, out_schema)


def quantization_error(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
) -> DataFrame:
    """Scalar (per-dimension min-max) quantization fidelity report: each
    vector is quantized to ``bits``-bit integer codes against the
    corpus-global per-dimension range and immediately dequantized, and
    the row reports how much signal the vector store would lose —
    ``mse``, ``max_abs_err`` and the cosine between the original and
    the reconstruction (``cosine_fidelity``). This is the go/no-go
    check before shipping int8 embeddings to an ANN index at corpus
    scale (4× memory cut, recall impact ≈ 1 − cosine_fidelity).

    Scale shape: one ``posexplode``→``groupBy(pos)`` aggregate computes
    the per-dimension (lo, hi) — |dim| result rows, partial-aggregable
    — which inline into the plan as literal arrays (vectors are ≤ a few
    thousand dims; this is the broadcast-a-tiny-dim-table pattern
    without the join). The quantize→dequantize→error pass is then a
    single map-only projection of JVM higher-order folds: no second
    shuffle, no Python, corpus never leaves the executors.

    Returns ``(id_col, mse, max_abs_err, cosine_fidelity)``.
    """
    levels = float(2**bits - 1)
    stats = (
        df.select(F.posexplode(_to_double(F.col(vec_col))).alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .orderBy("i")
        .collect()
    )
    lo = F.array(*[F.lit(r["lo"]) for r in stats])
    span = F.array(*[F.lit(r["hi"] - r["lo"]) for r in stats])
    v = _to_double(F.col(vec_col))

    def deq(x, i):
        l_ = F.element_at(lo, i + 1)
        s_ = F.element_at(span, i + 1)
        q = F.round((x - l_) / s_ * levels, 0)
        return F.when(s_ > 0, l_ + q * s_ / levels).otherwise(l_)

    recon = F.transform(v, deq)
    err = F.zip_with(v, recon, lambda a, b: a - b)
    dim = F.size(v).cast("double")
    sq = lambda c: c * c  # noqa: E731
    return df.select(
        F.col(id_col),
        (
            F.aggregate(err, F.lit(0.0), lambda acc, e: acc + sq(e)) / dim
        ).alias("mse"),
        F.array_max(F.transform(err, F.abs)).alias("max_abs_err"),
        (
            F.aggregate(
                F.zip_with(v, recon, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / (_norm(v) * _norm(recon))
        ).alias("cosine_fidelity"),
    )


def embedding_pca(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Principal-component spectrum of an embedding corpus: top-``k``
    eigenvalues of the covariance matrix with per-component and
    cumulative variance-explained — the intrinsic-dimensionality /
    anisotropy probe (a corpus whose variance lives in 5 of 64
    dimensions will quantize, index, and cluster very differently from
    an isotropic one).

    Scale shape: the classic distributed Gram trick — each partition
    reduces to ONE (d², d, 1) partial row (Xᵀ X, Σx, n) via an Arrow
    ``mapInPandas`` numpy pass, so the shuffle/collect is
    O(partitions · d²) no matter how many rows the corpus has; the
    d×d eigendecomposition happens once on the driver (d ≤ a few
    thousand — for larger d use randomized sketching, out of scope
    here). No row-sized window, no per-pair work.

    Returns ``(component, eigenvalue, variance_explained,
    cumulative_explained)`` — ``component`` 1-based, largest first.
    """
    import numpy as np

    spark = df.sparkSession

    parts = df.select(vec_col).mapInPandas(
        _gram_partials(vec_col),
        "gram array<double>, sums array<double>, n long, d int",
    ).collect()
    if not parts:
        return spark.createDataFrame(
            [],
            "component int, eigenvalue double, variance_explained double,"
            " cumulative_explained double",
        )
    d = parts[0]["d"]
    gram = sum(np.array(p["gram"]).reshape(d, d) for p in parts)
    s = sum(np.array(p["sums"]) for p in parts)
    n = sum(p["n"] for p in parts)
    mean = s / n
    cov = gram / n - np.outer(mean, mean)
    evals = np.linalg.eigvalsh(cov)[::-1]
    total = float(evals.sum())
    top = evals[: min(k, d)]
    cum = np.cumsum(top) / total if total > 0 else np.zeros_like(top)
    rows = [
        (i + 1, float(top[i]), float(top[i] / total) if total > 0 else 0.0,
         float(cum[i]))
        for i in range(len(top))
    ]
    return spark.createDataFrame(
        rows,
        "component int, eigenvalue double, variance_explained double,"
        " cumulative_explained double",
    )


def whiten_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int | None = None,
    eps: float = 1e-8,
) -> DataFrame:
    """PCA-whitening transform: project each vector onto the top-``k``
    covariance eigenvectors and scale to unit variance per component —
    the standard pre-pass before cosine ANN on anisotropic embeddings
    (dominant directions stop swamping the metric; quantizers get a
    round posterior). ``k`` defaults to the full dimension.

    Scale shape: the covariance comes from the same O(partitions·d²)
    partial-Gram collect as :func:`embedding_pca`; the (k×d) whitening
    matrix broadcasts inside an Arrow ``mapInPandas`` matmul, so the
    transform itself is map-only — the corpus streams through BLAS and
    never shuffles.

    Returns the input frame with ``vec_col`` replaced by the whitened
    ``array<double>`` of length k.
    """
    import numpy as np
    import pandas as pd

    rows = df.select(vec_col).mapInPandas(
        _gram_partials(vec_col), "gram array<double>, sums array<double>,"
        " n long, d int"
    ).collect()
    if not rows:
        return df
    d = rows[0]["d"]
    gram = sum(np.array(p["gram"]).reshape(d, d) for p in rows)
    s = sum(np.array(p["sums"]) for p in rows)
    n = sum(p["n"] for p in rows)
    mean = s / n
    cov = gram / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1]
    kk = k or d
    top_vals = evals[order][:kk]
    top_vecs = evecs[:, order][:, :kk]
    # rows of W: eigenvector scaled by 1/sqrt(lambda)
    w = (top_vecs / np.sqrt(top_vals + eps)).T  # (k, d)
    w_b = df.sparkSession.sparkContext.broadcast((w, mean))

    cols = [f.name for f in df.schema.fields]

    def apply(batches):
        wm, mu = w_b.value
        for pdf in batches:
            m = np.array(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            if m.size:
                out = (m - mu) @ wm.T
                pdf = pdf.copy()
                pdf[vec_col] = [r.tolist() for r in out]
            yield pdf

    schema = ", ".join(
        f"{f.name} array<double>" if f.name == vec_col
        else f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
    )
    return df.select(*cols).mapInPandas(apply, schema)


def _gram_partials(vec_col: str):
    """Per-partition (XᵀX, Σx, n, d) reducer shared by
    :func:`embedding_pca` and :func:`whiten_embeddings`."""
    import numpy as np
    import pandas as pd

    def partial(batches):
        gram = None
        s = None
        n = 0
        for pdf in batches:
            m = np.array(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            if m.size == 0:
                continue
            g = m.T @ m
            gram = g if gram is None else gram + g
            sm = m.sum(axis=0)
            s = sm if s is None else s + sm
            n += m.shape[0]
        if n == 0:
            return
        d = gram.shape[0]
        yield pd.DataFrame(
            {
                "gram": [gram.ravel().tolist()],
                "sums": [s.tolist()],
                "n": [n],
                "d": [d],
            }
        )

    return partial


def token_cosine_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    df_cap: int = 10_000,
    dense_vocab_limit: int = 4096,
    n_blocks: int = 8,
) -> DataFrame:
    """Sparse count-vector cosine near-pairs — the lexical complement of
    the embedding-space forms above: no model, no vectors, just
    whitespace tokens, so it catches paraphrase-free boilerplate that
    MinHash (set semantics) underweights when term FREQUENCY is the
    signal.

    Exactness discipline: weights are raw term counts (integers), so the
    dot product and the squared norms are exact longs, and the threshold
    test runs entirely in integer arithmetic —
    ``dot² · 10⁶ ≥ round(t²·10⁶) · s1 · s2`` — no float accumulates
    before the filter, so the pair set is engine-independent (the emitted
    cosine itself is one double division, after the cut).

    Scale-ADAPTIVE plan (a cheap vocab probe picks it):

    * **Sparse / inverted index** (|pruned vocab| > ``dense_vocab_limit``
      — natural-language corpora): self-join on token, fan-out per token
      is df(token)², bounded by ``df_cap`` (tokens above it leave the
      index AND the norms — the standard stopword-pruning trade; df ≤ 1
      tokens can't pair and are pruned too). At corpus scale feed LSH
      candidates instead of the raw index, same policy as
      ``dedup.containment_pairs``.
    * **Dense / blocked GEMM** (small vocab — templated or synthetic
      corpora where EVERY token is hot and the inverted index degenerates
      to Σ df² ≈ |docs|²·|vocab| shuffled rows): each doc becomes a
      |vocab|-length count vector and pairs come from the
      ``cosine_near_pairs_blocked`` scheme — one shuffle, BLAS dots.
      Integer counts are exact in float64, so the GEMM dot IS the exact
      integer dot regardless of summation order; the float cosine only
      PREFILTERS (with a 1e-6 safety margin) and the same integer test
      makes the final cut. Same pair set as the sparse plan, measured
      ~30× faster on a 31-token corpus at sf0.1 (39 s → GEMM).

    Returns ``(id_1, id_2, dot, cosine)``, cosine rounded to 6 dp.
    """
    from whiterrabbit_spark.extensions.textstats import tokens

    t2_e6 = int(round(threshold * threshold * 1_000_000))
    tf = (
        docs.where(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
        .select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.col(text_col))).alias("tok"),
        )
        .where(F.col("tok") != "")
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df_t"))
    # kept feeds the norms and BOTH sides of the pair stage — persist so
    # the tokenize+tf+df pass runs once (memory-and-disk, spills at
    # scale; LRU-evicted).
    kept = pin(tf.join(
        df_t.where((F.col("df_t") >= 2) & (F.col("df_t") <= df_cap)),
        "tok",
    ))
    norms = kept.groupBy("id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("s")
    )

    # O(|vocab|) probe — the plan pick. distinct over the pruned index.
    vocab = sorted(
        r["tok"]
        for r in kept.select("tok").distinct().limit(
            dense_vocab_limit + 1
        ).collect()
    )
    if len(vocab) <= dense_vocab_limit:
        dots = _dense_token_dots(kept, vocab, threshold, n_blocks)
    else:
        a = kept.select(
            F.col("tok"), F.col("id").alias("id_1"), F.col("tf").alias("tf1")
        )
        b = kept.select(
            F.col("tok"), F.col("id").alias("id_2"), F.col("tf").alias("tf2")
        )
        dots = (
            a.join(b, "tok")
            .where(F.col("id_1") < F.col("id_2"))
            .groupBy("id_1", "id_2")
            .agg(F.sum(F.col("tf1") * F.col("tf2")).alias("dot"))
        )
    n1 = norms.select(F.col("id").alias("id_1"), F.col("s").alias("s1"))
    n2 = norms.select(F.col("id").alias("id_2"), F.col("s").alias("s2"))
    return (
        dots.join(n1, "id_1")
        .join(n2, "id_2")
        .where(
            F.col("dot") * F.col("dot") * 1_000_000
            >= F.lit(t2_e6) * F.col("s1") * F.col("s2")
        )
        .select(
            "id_1",
            "id_2",
            "dot",
            F.round(
                F.col("dot")
                / F.sqrt(F.col("s1").cast("double") * F.col("s2")),
                6,
            ).alias("cosine"),
        )
    )


def _dense_token_dots(
    kept: DataFrame,
    vocab: list[str],
    threshold: float,
    n_blocks: int,
) -> DataFrame:
    """Blocked-GEMM candidate dots for :func:`token_cosine_pairs`'s
    dense mode: docs as |vocab|-length count vectors, block pairs as
    ``applyInPandas`` groups (the ``cosine_near_pairs_blocked`` layout),
    emitting EXACT integer dots for pairs whose float cosine clears
    ``threshold − 1e-6`` (the margin covers the ~1e-15 norm error; the
    exact integer test outside makes the real cut)."""
    import numpy as np
    import pandas as pd

    spark = kept.sparkSession
    idx = F.broadcast(
        spark.createDataFrame(
            [(t, i) for i, t in enumerate(vocab)], "tok string, vidx int"
        )
    )
    v_len = len(vocab)
    m = F.map_from_entries(
        F.collect_list(F.struct(F.col("vidx"), F.col("tf")))
    )
    # map access is keyed (keys are vidx), so look up i (0-based)
    # directly; absent key -> 0 count
    vecs = (
        kept.join(idx, "tok")
        .groupBy("id")
        .agg(m.alias("m"))
        .select(
            "id",
            F.transform(
                F.sequence(F.lit(0), F.lit(v_len - 1)),
                lambda i: F.coalesce(F.col("m")[i], F.lit(0)).cast("double"),
            ).alias("v"),
        )
    )
    tagged = vecs.select(
        F.col("id").alias("vid"),
        "v",
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    pair_keys = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi int, bj int",
    )
    left = tagged.join(F.broadcast(pair_keys), F.col("blk") == F.col("bi")).select(
        "bi", "bj", "vid", "v", F.lit(0).alias("side")
    )
    right = tagged.join(F.broadcast(pair_keys), F.col("blk") == F.col("bj")).select(
        "bi", "bj", "vid", "v", F.lit(1).alias("side")
    )
    both = left.unionByName(right)
    pre = threshold - 1e-6

    empty = pd.DataFrame(
        {
            "id_1": pd.Series(dtype="int64"),
            "id_2": pd.Series(dtype="int64"),
            "dot": pd.Series(dtype="int64"),
        }
    )

    def block_dots(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        a = pdf[pdf["side"] == 0]
        if a.empty:
            return empty
        ids_a = a["vid"].to_numpy()
        ma = np.stack(a["v"].to_numpy())
        na = ma / np.linalg.norm(ma, axis=1, keepdims=True)
        if bi == bj:
            ids_b, mb, nb = ids_a, ma, na
        else:
            b = pdf[pdf["side"] == 1]
            if b.empty:
                return empty
            ids_b = b["vid"].to_numpy()
            mb = np.stack(b["v"].to_numpy())
            nb = mb / np.linalg.norm(mb, axis=1, keepdims=True)
        sims = na @ nb.T
        ii, jj = np.nonzero(sims >= pre)
        dots = (ma[ii] * mb[jj]).sum(axis=1)
        ia, ib = ids_a[ii], ids_b[jj]
        if bi == bj:
            keepm = ia < ib
            ia, ib, dots = ia[keepm], ib[keepm], dots[keepm]
        else:
            lo = np.minimum(ia, ib)
            hi = np.maximum(ia, ib)
            ia, ib = lo, hi
        return pd.DataFrame(
            {"id_1": ia, "id_2": ib, "dot": np.rint(dots).astype(np.int64)}
        )

    return both.groupBy("bi", "bj").applyInPandas(
        block_dots, "id_1 long, id_2 long, dot long"
    )


def embedding_drift(
    df: DataFrame,
    split_expr,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-refresh drift check: split the corpus into an A/B pair
    (old vs new snapshot, or any deterministic halves) and report, per
    label, the euclidean distance between half-centroids and the
    per-dimension variance ratio — the two numbers that catch a
    re-embedding run that silently moved or collapsed the space before
    any downstream ANN index is rebuilt against it.

    Centroids are rounded to 9 dp before the distance (the
    nearest-centroid discipline) so the report is engine-deterministic.
    One posexploded groupBy((label, half, dim)); everything after runs
    on |labels|·dims aggregate rows.

    Returns ``(label, n_a, n_b, centroid_shift, var_ratio)``.
    """
    half = F.when(split_expr, F.lit("a")).otherwise(F.lit("b"))
    base = df.where(
        F.col(label_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(
        F.col(label_col).alias("lab"),
        half.alias("h"),
        F.col(vec_col).alias("v"),
    )
    dims = base.select(
        "lab", "h", F.posexplode(F.col("v")).alias("i", "x")
    )
    stats = dims.groupBy("lab", "h", "i").agg(
        F.round(F.avg(F.col("x").cast("double")), 9).alias("c"),
        F.coalesce(F.var_samp(F.col("x").cast("double")), F.lit(0.0)).alias(
            "vv"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    a = stats.where(F.col("h") == "a").select(
        "lab", "i",
        F.col("c").alias("ca"), F.col("vv").alias("va"),
        F.col("n").alias("na"),
    )
    b = stats.where(F.col("h") == "b").select(
        "lab", "i",
        F.col("c").alias("cb"), F.col("vv").alias("vb"),
        F.col("n").alias("nb"),
    )
    joined = a.join(b, ["lab", "i"])
    return joined.groupBy(F.col("lab").alias("label")).agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        F.round(
            F.sqrt(F.sum((F.col("ca") - F.col("cb")) ** 2)), 6
        ).alias("centroid_shift"),
        F.round(F.sum("va") / F.sum("vb"), 6).alias("var_ratio"),
    )


def hard_negative_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    floor: float = 0.3,
    top_k: int = 20,
    n_blocks: int = 8,
) -> DataFrame:
    """Hard-negative mining for contrastive/metric training: the
    cross-label pairs with the HIGHEST cosine — the confusable examples
    a triplet/InfoNCE sampler should feed instead of random negatives.
    Candidate generation is the blocked-GEMM scorer with ``floor`` as
    the margin cutoff (nothing below the floor can be a hard negative
    by definition, and the floor is what bounds emission at corpus
    scale — swap in the hyperplane-LSH candidates above ~1e5 vectors,
    same as the near-dup family). Labels join back on id; the top-k
    orders on the 6-dp-rounded cosine (ties by ids) so BLAS-vs-fold
    float noise cannot reorder the cut.

    Returns ``(id1, id2, label1, label2, cosine)``.
    """
    pairs = cosine_near_pairs_blocked(
        df, floor, vec_col=vec_col, id_col=id_col, n_blocks=n_blocks
    )
    labels = df.select(
        F.col(id_col).alias("__lid"),
        F.col(label_col).cast("long").alias("__lbl"),
    )
    l1 = labels.select(
        F.col("__lid").alias("id1"), F.col("__lbl").alias("label1")
    )
    l2 = labels.select(
        F.col("__lid").alias("id2"), F.col("__lbl").alias("label2")
    )
    return (
        pairs.join(l1, "id1")
        .join(l2, "id2")
        .where(F.col("label1") != F.col("label2"))
        .select(
            "id1", "id2", "label1", "label2",
            F.round("cosine", 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "id1", "id2")
        .limit(top_k)
    )


def embedding_query_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cosine top-k against ONE query vector: the query broadcasts as a
    literal array, the dot product folds map-side (zip_with +
    aggregate), and the top-k is a TakeOrderedAndProject on the
    6-dp-rounded score — a one-scan, shuffle-free-until-the-heap scoring
    pass. The single-query sibling of :func:`cosine_topk`.

    Returns ``(id, cosine)`` ordered score DESC, id ASC.
    """
    import math as _math

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    # the query norm is a compile-time constant Catalyst does not fold
    # out of the per-row fold — compute it once here (sequential sum,
    # the same left-fold order as _norm, so the double is identical)
    _acc = 0.0
    for _x in query_vec:  # plain left fold — same adds as the SQL side
        _acc += float(_x) * float(_x)
    q_norm = _math.sqrt(_acc)
    v = _to_double(F.col(vec_col))
    cos = _dot(v, q) / (_norm(v) * F.lit(q_norm))
    return (
        df.where(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.round(cos, 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "id")
        .limit(k)
    )


def centroid_similarity_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Label-centroid cosine matrix — the class-confusability report:
    which labels' embedding mass points the same way (candidates for
    merging, relabeling, or hard-negative mining between them). One
    row per unordered label pair with the cosine of their mean
    vectors plus both class sizes.

    Plan: posexplode to (label, dim, value) — the ONLY pass over the
    vector volume — then a partial-aggregable groupBy(label, dim) mean,
    and all pairwise arithmetic happens on the |labels|·d centroid
    frame (tiny; the pair join is broadcast). No collect, no UDF, no
    |rows|² anything.
    """
    exploded = (
        df.where(F.col(vec_col).isNotNull() & F.col(label_col).isNotNull())
        .select(
            F.col(label_col).alias("lbl"),
            F.posexplode(F.col(vec_col)).alias("dim", "v"),
        )
    )
    cent = exploded.groupBy("lbl", "dim").agg(F.avg("v").alias("c"))
    cent = pin(cent)
    norms = cent.groupBy("lbl").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")
    )
    sizes = (
        df.where(F.col(vec_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(F.col(label_col).alias("lbl"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = cent.select(F.col("lbl").alias("label_a"), "dim", F.col("c").alias("ca"))
    b = cent.select(F.col("lbl").alias("label_b"), "dim", F.col("c").alias("cb"))
    dots = (
        a.join(F.broadcast(b), "dim")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = norms.select(F.col("lbl").alias("label_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("lbl").alias("label_b"), F.col("nrm").alias("nb"))
    sa = sizes.select(F.col("lbl").alias("label_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("lbl").alias("label_b"), F.col("n").alias("n_b"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .join(F.broadcast(sa), "label_a")
        .join(F.broadcast(sb), "label_b")
        .select(
            "label_a", "label_b", "n_a", "n_b",
            F.round(
                F.col("dot") / (F.col("na") * F.col("nb")), 6
            ).alias("centroid_cosine"),
        )
        .orderBy("label_a", "label_b")
    )
