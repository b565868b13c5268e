"""Dataset splitting / sampling / packing for training pipelines.

* ``hash_split`` — deterministic train/val/test assignment from a stable
  hash of the row key: reproducible across runs, clusters, and engines
  (no RNG state), stable under data re-partitioning, and any row's split
  is computable in isolation — the properties a 100 TB training pipeline
  needs from a split. Pure map-side expression, no shuffle.
* ``stratified_sample`` — per-stratum Bernoulli sampling via
  ``DataFrame.sampleBy`` (seeded); ``hash_stratified_sample`` — the
  deterministic hash-threshold form with nested subsamples.
* ``pack_shards`` — contiguous token-budget sharding via a DISTRIBUTED
  prefix sum (range partition → local cumsum → driver offsets), never a
  single-partition global window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from whiterrabbit_spark.cache import pin

SPLIT_BUCKETS = 10_000


def hash_bucket_expr(key: Column, salt: str = "", buckets: int = SPLIT_BUCKETS) -> Column:
    """Stable bucket in [0, buckets) from md5 of the stringified key
    (+salt). 15 hex chars = 60 bits, bias < 2^-46 for bucket counts this
    small; md5 is reproduced bit-identically by the DuckDB oracle."""
    h = F.md5(F.concat(key.cast("string"), F.lit(salt)))
    return (F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint") % buckets).cast("int")


def hash_split_expr(
    key: Column, weights: dict[str, float], salt: str = "", buckets: int = SPLIT_BUCKETS
) -> Column:
    """Split-name column from cumulative weight thresholds over the hash
    bucket. Weights must sum to ~1; the last split absorbs rounding."""
    bucket = hash_bucket_expr(key, salt, buckets)
    names = list(weights)
    cum = 0.0
    expr = None
    for name in names[:-1]:
        cum += weights[name]
        cond = bucket < int(round(cum * buckets))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    return last if expr is None else expr.otherwise(last)


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float] | None = None,
    salt: str = "",
    buckets: int = SPLIT_BUCKETS,
) -> DataFrame:
    """Attach a deterministic ``split`` column (default 80/10/10)."""
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    return df.withColumn(
        "split", hash_split_expr(F.col(id_col), weights, salt, buckets)
    )


def cluster_safe_split(
    df: DataFrame,
    id_col: str,
    labels: DataFrame,
    weights: dict[str, float] | None = None,
    salt: str = "",
    buckets: int = SPLIT_BUCKETS,
) -> DataFrame:
    """Leakage-safe split: every member of a near-dup cluster lands in the
    SAME split, so train/test contamination through rewrites or mirrors is
    impossible by construction. ``labels`` is (node, cluster_id) from
    ``dedup.connected_components``; rows absent from it are singletons and
    split by their own id.

    The split key is ``coalesce(cluster_id, id)`` fed through the same
    md5-bucket expression as ``hash_split`` — deterministic, engine-portable,
    and computable per-row once the label join lands. The label table only
    contains docs that appear in a near-dup pair, a tiny fraction of the
    corpus, so it is broadcast — the 100 TB corpus never shuffles. (If the
    dup graph ever outgrew broadcast range, drop the hint and this becomes
    a plain equi-join on the already-bucketable id column.)
    """
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    lab = labels.select(F.col("node").alias(id_col), "cluster_id")
    joined = df.join(F.broadcast(lab), id_col, "left")
    key = F.coalesce(F.col("cluster_id"), F.col(id_col))
    return joined.withColumn("group_key", key).withColumn(
        "split", hash_split_expr(F.col("group_key"), weights, salt, buckets)
    )


def stratified_sample(
    df: DataFrame, strata_col: str, fractions: dict, seed: int = 42
) -> DataFrame:
    """Seeded per-stratum sample (Bernoulli per row — approximate counts,
    exact-in-expectation; deterministic for a fixed seed + partitioning)."""
    return df.sampleBy(strata_col, fractions, seed)


def pack_shards(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    budget: float,
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign rows, in ``id_col`` order, to contiguous shards of ~``budget``
    total weight: ``shard_id = floor(running_total_before_row / budget)`` —
    the deterministic sharding step that turns a curated corpus into
    ~equal-token training shards (a row straddling a boundary belongs to
    the shard where it starts).

    The running total is a **distributed prefix sum** — the naive form
    (``sum().over(Window.orderBy(id))``) funnels the whole table through
    ONE partition (Spark warns: "No Partition Defined for Window") and is
    exactly what must not happen at 100 TB. Instead:

    1. ``repartitionByRange(id)`` — contiguous, ordered key ranges (one
       shuffle, the only one);
    2. per-partition local prefix sums (window partitioned by
       ``spark_partition_id`` — parallel, partition-local);
    3. per-partition totals → driver (one row per partition, KB) →
       exclusive prefix offsets joined back as a broadcast map.

    Global running total = partition offset + local prefix sum. Output:
    input columns + ``shard_id``.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, F.col(id_col)).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # localCheckpoint pins the computed partitions: the totals job below
    # and the returned frame MUST see identical partition ids, but a
    # recomputed plan may not reproduce them — AQE is free to coalesce the
    # range shuffle differently per execution (observed at sf0.1: offsets
    # keyed to one run's __pid applied to another run's partitions). Also
    # saves the second computation of the shuffle + window.
    local = pin(ranged.withColumn(
        "__local_cum", F.sum(F.col(weight_col).cast("double")).over(w)
    ), checkpoint=True)
    # Range partitions are index-ordered by key range, so the exclusive
    # prefix over partition totals (driver-side, one row per partition)
    # is the partition's global offset.
    totals = {
        r["__pid"]: r["t"]
        for r in local.groupBy("__pid").agg(F.max("__local_cum").alias("t")).collect()
    }
    offsets, acc = {}, 0.0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    offset_expr = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
        ),
        F.col("__pid"),
    )
    start = offset_expr + F.col("__local_cum") - F.col(weight_col).cast("double")
    return local.withColumn(
        "shard_id", F.floor(start / F.lit(float(budget))).cast("int")
    ).drop("__pid", "__local_cum")


WEIGHTED_U_BUCKETS = 1 << 20


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n: int,
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement of ``n`` rows,
    P(row) ∝ weight — Efraimidis–Spirakis A-ES: each row gets key
    ``u^(1/w)`` for uniform u, and the global top-n keys are the sample.
    Equivalently (and numerically safer) rank by ``ln(u)/w`` descending.

    u comes from the engine's md5 machinery instead of an RNG, so the
    selected set is a pure function of (id, salt): re-runs, engines, and
    partitionings agree row-for-row — same contract as
    ``hash_stratified_sample``, with weights. Rows with weight ≤ 0 or
    NULL are excluded (zero inclusion probability).

    Plan shape: map-side key computation + global top-n, which compiles
    to ``TakeOrderedAndProject`` — per-partition heaps of n rows merged
    on the driver, never a global sort. Ties (measure-zero on continuous
    keys) break by id for cross-engine determinism.
    """
    u = (
        hash_bucket_expr(F.col(id_col), salt, WEIGHTED_U_BUCKETS)
        .cast("double") + 0.5
    ) / WEIGHTED_U_BUCKETS
    w = F.col(weight_col).cast("double")
    key = F.log(u) / w
    return (
        df.where(w.isNotNull() & (w > 0))
        .withColumn("__es_key", key)
        .orderBy(F.desc("__es_key"), F.asc(id_col))
        .limit(n)
        .drop("__es_key")
    )


def top_k_per_group(
    df: DataFrame, group_col: str, order_cols: list[Column], k: int
) -> DataFrame:
    """Keep the top-``k`` rows of each group under a total order — the
    per-domain selection step of a curation pipeline (e.g. best-scoring
    documents per language/source under a per-domain budget).

    ``order_cols`` must be a TOTAL order (append a unique id as the final
    tie-break) or the kept set is nondeterministic.

    Compiles to one shuffle on ``group_col`` with Spark's
    ``WindowGroupLimit`` pushdown: each map task pre-prunes its partition
    to k rows per group BEFORE the exchange, so the shuffle carries
    O(groups·k) rows per task, not the full table — the property that
    makes per-group selection viable at 100 TB (plan-pinned in tests).
    """
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def temperature_mixture(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    alpha: float = 0.5,
    salt: str = "",
    buckets: int = SPLIT_BUCKETS,
) -> DataFrame:
    """Temperature-flattened domain mixture: downsample each domain so the
    kept counts follow ``m_d ∝ n_d^alpha`` (alpha = 1/τ < 1 flattens the
    head — the multilingual/multi-source rebalancing step of training-data
    pipelines), keeping as much data as possible under rates ≤ 1: the
    smallest domain keeps everything, a domain k× larger keeps rate
    ``(n_min/n_d)^(1-alpha)``.

    Membership is a deterministic hash threshold (same md5 machinery as
    ``hash_stratified_sample``): re-runs and engines agree row-for-row,
    and raising alpha only adds rows per domain (nested subsamples).

    Default alpha=0.5 is chosen deliberately: the rate is then
    ``sqrt(n_min/n_d)``, and IEEE-754 division and sqrt are both
    correctly-rounded, so any engine (Spark, DuckDB, numpy) computes the
    bit-identical threshold — arbitrary ``pow`` is only faithfully
    rounded and may differ in the last ulp across libms. Non-default
    alphas are supported but cross-engine exactness is then ~1 ulp.

    Plan shape: ONE O(domains)-row count agg (a single-column scan),
    rates computed driver-side from the exact integer counts (Python
    sqrt/division are the same correctly-rounded IEEE ops the engines
    use), thresholds inlined as a literal map — the main pass is a pure
    map-side filter: no join, no broadcast table, no second scan of the
    corpus. (The previous join-back form cost two extra column scans and
    a broadcast join for information that is O(domains) integers.)
    """
    counts = {
        r["d"]: r["n"]
        for r in df.groupBy(F.col(domain_col).alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if not counts:
        return df.where(F.lit(False))
    n_min = min(counts.values())
    import math

    thresholds = {
        # math.sqrt is correctly-rounded IEEE (matches SQL sqrt exactly);
        # `** 0.5` would go through libm pow, which is only faithfully
        # rounded — the same reason alpha=0.5 is the bit-exact default.
        d: int(math.sqrt(n_min / n) * buckets) if alpha == 0.5
        else int((n_min / n) ** (1.0 - alpha) * buckets)
        for d, n in counts.items()
    }
    keep_below = F.element_at(
        F.create_map(*[F.lit(x) for kv in sorted(thresholds.items()) for x in kv]),
        F.col(domain_col),
    )
    bucket = hash_bucket_expr(F.col(id_col), salt, buckets)
    return df.where(bucket < keep_below)


def hash_stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    fractions: dict[str, float],
    salt: str = "",
    buckets: int = SPLIT_BUCKETS,
) -> DataFrame:
    """Per-stratum sampling by stable hash threshold instead of RNG:
    a row is kept iff ``hash_bucket(id) < fraction[stratum]·buckets``.

    Unlike ``stratified_sample`` (Bernoulli RNG — resample changes rows),
    the kept set is a pure function of the row key: re-runs, engines, and
    repartitionings agree row-for-row, membership is computable per row in
    isolation, and supersampling is monotone (raising a fraction only adds
    rows — the property training-data ablations need so smaller samples
    nest inside bigger ones). Map-side expression, no shuffle.

    Strata missing from ``fractions`` are dropped (sampleBy semantics).
    """
    bucket = hash_bucket_expr(F.col(id_col), salt, buckets)
    expr = None
    for stratum, frac in fractions.items():
        cond = (F.col(strata_col) == stratum) & (bucket < int(round(frac * buckets)))
        expr = cond if expr is None else expr | cond
    return df.where(expr if expr is not None else F.lit(False))


def cap_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    cap: int,
    salt: str = "",
) -> DataFrame:
    """Cap each group at ``cap`` rows, chosen by a deterministic pseudo-
    random order — the per-domain document cap of web-corpus curation
    (e.g. "at most N pages per host", C4/RefinedWeb-style), where the
    kept subset must be reproducible across runs and engines.

    Selection order is ``md5(id + salt)`` (ties broken by id), so the
    kept set is a uniform-without-replacement sample of each group that
    any engine reproduces bit-identically — no RNG state, no dependence
    on partitioning. Same single-shuffle ``WindowGroupLimit`` shape as
    ``top_k_per_group``: map tasks pre-prune to ``cap`` rows per group
    before the exchange, so a pathologically hot group (one host = half
    the corpus) contributes O(cap) rows per map task to the shuffle, not
    its full mass.
    """
    order_key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    return top_k_per_group(
        df, group_col, [order_key.asc(), F.col(id_col).asc()], cap
    )


def temporal_split(
    df: DataFrame,
    ts_col: str,
    cutoff: str,
    embargo: str = "0 hours",
) -> DataFrame:
    """Time-based train/eval split with an embargo gap: rows strictly
    before ``cutoff`` train; rows at/after ``cutoff + embargo`` evaluate;
    rows inside the gap are DROPPED (split = NULL → filtered). The
    temporal-leakage-safe alternative to hash splits for forecasting-
    style evaluation — near-boundary rows leak label information across
    the cut (sessions and documents straddle timestamps), and the
    embargo is the standard fix.

    Map-only: one comparison per row fused into the scan; no shuffle,
    composes with any downstream stage. Rows with NULL ``ts`` are
    dropped (no defensible side); a malformed ``cutoff`` raises
    immediately rather than silently dropping every row.
    """
    import datetime as _dt

    # fail fast on a malformed cutoff: a bad literal would cast to NULL
    # and silently drop EVERY row into the embargo branch
    _dt.datetime.fromisoformat(cutoff)
    t = F.col(ts_col)
    cut = F.lit(cutoff).cast("timestamp")
    eval_start = F.lit(cutoff).cast("timestamp") + F.expr(f"INTERVAL {embargo}")
    split = (
        F.when(t < cut, "train")
        .when(t >= eval_start, "eval")
        .otherwise(F.lit(None))
    )
    return (
        df.where(t.isNotNull())
        .withColumn("split", split)
        .where(F.col("split").isNotNull())
    )


def kfold_split(
    df: DataFrame,
    id_col: str,
    k: int = 5,
    salt: str = "",
) -> DataFrame:
    """Deterministic k-fold assignment for cross-validation: fold =
    md5(salt ⊕ id) mod k — the same engine-portable digest bucketing as
    ``hash_split``, so folds are reproducible across runs, partitionings
    and engines, and a different ``salt`` re-deals them. Map-only.

    Use ``df.where(col("fold") != i)`` / ``== i`` for the train/eval
    pair of round i; folds are disjoint and exhaustive by construction.
    """
    if k < 2:
        raise ValueError(f"kfold_split needs k >= 2, got {k}")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 15),
        16, 10,
    ).cast("bigint")
    return df.withColumn("fold", (h % k).cast("int"))


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    budget: int,
) -> DataFrame:
    """Optimal (Neyman) sample-size allocation across strata for
    estimating the mean of ``value_col``: n_h ∝ N_h·σ_h, the allocation
    that minimizes estimator variance under a fixed total ``budget`` —
    the principled answer to "how many rows should each segment
    contribute to the audit sample?", replacing proportional allocation
    whenever segment variances differ. Allocations are rounded
    largest-remainder so they sum EXACTLY to the budget (and never
    exceed a stratum's population).

    One groupBy computes every per-stratum moment; the allocation
    arithmetic runs on the |strata|-row frame. Deterministic
    tie-breaks: remainder DESC, stratum ASC.

    Returns ``(stratum, n_rows, stddev, alloc_raw, n_alloc)``.
    """
    v = F.col(value_col).cast("double")
    stats = (
        df.where(v.isNotNull() & F.col(stratum_col).isNotNull())
        .groupBy(F.col(stratum_col).alias("stratum"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.coalesce(F.stddev_samp(v), F.lit(0.0)).alias("stddev"),
        )
    )
    w_all = Window.partitionBy()
    weight = F.col("n_rows") * F.col("stddev")
    raw = budget * weight / F.sum(weight).over(w_all)
    # largest-remainder rounding to hit the budget exactly
    floor_ = F.floor(raw).cast("long")
    rem = raw - floor_
    short = (F.lit(budget) - F.sum(floor_).over(w_all)).cast("long")
    rank = F.row_number().over(
        Window.orderBy(rem.desc(), F.col("stratum"))
    )
    alloc = floor_ + F.when(rank <= short, 1).otherwise(0)
    return stats.select(
        "stratum",
        "n_rows",
        "stddev",
        raw.alias("alloc_raw"),
        F.least(alloc, F.col("n_rows")).alias("n_alloc"),
    )


def negative_sampling(
    df: DataFrame,
    id_col: str,
    k: int = 3,
    salt: str = "neg",
) -> DataFrame:
    """Deterministic uniform negative sampling: for every anchor id, k
    pseudo-random partner ids — the contrastive-training counterpart of
    :func:`hash_split` (same properties: no RNG state, engine-portable,
    reproducible under repartitioning).

    Construction: ids are placed on a ring ordered by a 60-bit md5 hash
    (uniform shuffle); partner m of the anchor at ring position p is the
    id at position (p + ⌊N·m/(k+1)⌋) mod N — k evenly spread, hash-
    randomized partners, never the anchor itself (offsets are in
    [1, N)), each id serving as partner exactly k times (balanced
    in-degree, which rejection sampling does not give).

    Scale shape: ring positions come from the bucketed distributed
    prefix sum over the (unique) hash values — md5 is uniform, so the
    equi-width buckets are balanced and NO global-order window runs;
    the partner lookup is a k-way self-join on exact ring positions.
    60-bit hash collisions (which would merge two ring slots) are
    ~N²/2⁶¹ — negligible below a billion ids per call; salt-bump if a
    degenerate corpus ever trips it.

    Returns ``(anchor_id, partner_id, pair_rank)`` with pair_rank in
    [1, k].
    """
    from whiterrabbit_spark.profile import _hist_exclusive_prefix

    spark = df.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("id").cast("string"), F.lit(salt))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    ids = (
        df.select(F.col(id_col).alias("id"))
        .where(F.col("id").isNotNull())
        .distinct()
        .withColumn("h", h)
        .withColumn("cnt", F.lit(1))
    )
    # pos feeds the anchor fan-out AND the partner lookup (and total);
    # persist so the distinct+prefix pass runs once, not four times.
    pos = pin(_hist_exclusive_prefix(
        ids, "h", "cnt", n_parts, out_col="pos"
    ))
    total = pos.agg(F.count(F.lit(1)).alias("n"))
    anchors = pos.crossJoin(F.broadcast(total)).select(
        F.col("id").alias("anchor_id"),
        F.explode(F.sequence(F.lit(1), F.lit(k))).alias("pair_rank"),
        "pos",
        "n",
    )
    # greatest(1, …) keeps the offset nonzero when N ≤ k (degenerate
    # corpora) so a partner is never the anchor for any N ≥ 2.
    target = (
        F.col("pos")
        + F.greatest(
            F.lit(1), F.floor(F.col("n") * F.col("pair_rank") / (k + 1))
        )
    ) % F.col("n")
    lookup = pos.select(
        F.col("pos").alias("tpos"), F.col("id").alias("partner_id")
    )
    return (
        anchors.withColumn("tpos", target)
        .join(lookup, "tpos")
        .select("anchor_id", "partner_id", "pair_rank")
    )


# 99.9% chi-square critical values for df 1..10 — the SRM alarm should
# only fire on real assignment corruption, not daily noise (the industry
# convention for sample-ratio-mismatch monitors).
_CHI2_CRIT_999 = [
    10.828, 13.816, 16.266, 18.467, 20.515,
    22.458, 24.322, 26.125, 27.877, 29.588,
]


def srm_check(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Sample-ratio-mismatch audit for :func:`hash_split` assignments:
    chi-square of observed split sizes against the declared weights —
    the integrity gate every experiment/split pipeline runs before
    trusting downstream metrics (a biased assignment invalidates
    everything built on it).

    One groupBy(split) over the assignment expression (map-side
    partials, |splits| rows), then driver-free arithmetic on that tiny
    frame. The detected flag compares against the pinned 99.9% critical
    value for df = |splits|−1, so both engines derive the identical
    boolean from identical integer counts.

    Returns one row per split: ``(split, n_obs, n_expected, chi2,
    srm_detected)`` — chi2 and the flag are totals, repeated per row.
    """
    if not 1 <= len(weights) - 1 <= len(_CHI2_CRIT_999):
        raise ValueError("srm_check supports 2..11 splits")
    crit = _CHI2_CRIT_999[len(weights) - 2]
    assigned = df.where(F.col(key_col).isNotNull()).select(
        hash_split_expr(F.col(key_col), weights, salt).alias("split")
    )
    # |splits| rows feeding the total, the expectations, and the chi2
    # fold — persist so the corpus groupBy runs once.
    obs = pin(
        assigned.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    tot = obs.agg(F.sum("n_obs").alias("n_total"))
    w_expr = F.create_map(
        *[x for name, w in weights.items() for x in (F.lit(name), F.lit(w))]
    )
    per = obs.crossJoin(F.broadcast(tot)).select(
        "split",
        "n_obs",
        (F.col("n_total") * w_expr[F.col("split")]).alias("n_expected"),
    )
    contrib = (F.col("n_obs") - F.col("n_expected")) ** 2 / F.col(
        "n_expected"
    )
    chi2 = per.agg(F.sum(contrib).alias("chi2"))
    return per.crossJoin(F.broadcast(chi2)).select(
        "split",
        "n_obs",
        F.round("n_expected", 6).alias("n_expected"),
        F.round("chi2", 6).alias("chi2"),
        (F.col("chi2") > crit).alias("srm_detected"),
    )


def balanced_sample(
    df: DataFrame,
    class_col: str,
    k: int,
    salt: str = "bal",
    slack: float = 0.5,
) -> DataFrame:
    """Deterministic balanced downsample: exactly ``min(k, |class|)``
    rows per class, chosen by md5 rank — the class-rebalancing step
    before training on skewed labels, with :func:`hash_split`'s
    reproducibility properties (no RNG state, engine-portable, stable
    under repartitioning).

    Scale shape — the naive plan (row_number per class over the full
    table) funnels the HOTTEST class through one window partition, which
    is exactly what breaks at 100 TB. Two phases instead:

    1. map-side hash-threshold prefilter: keep rows whose 60-bit md5
       rank falls below (k / |class|)·(1 + ``slack``) of the hash space
       (per-class counts broadcast) — survivors ≈ k·(1+slack) per class;
    2. exact trim: per-class ``row_number`` over the SURVIVORS only —
       the window partition is bounded by k·(1+slack) + binomial noise,
       independent of class size.

    The result equals the single-window plan (same md5 total order) as
    long as phase 1 keeps ≥ k rows per class; a Chernoff bound puts the
    default 50% slack at ~10⁻¹⁵ failure odds for k ≥ 500 — and classes
    at or below k skip the prefilter entirely (threshold ≥ 1), so small
    classes are never clipped. Ties are impossible (60-bit hash over
    distinct rows' md5 of row content + class); identical full rows ARE
    interchangeable, so rank carries a unique row hash built from all
    columns.

    Returns the sampled rows with a ``sample_rank`` column (1..k per
    class).
    """
    spark = df.sparkSession
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "\x1f",
                    F.lit(salt),
                    *[F.col(c).cast("string") for c in df.columns],
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    space = float(1 << 60)
    counts = (
        df.where(F.col(class_col).isNotNull())
        .groupBy(class_col)
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    tagged = (
        df.where(F.col(class_col).isNotNull())
        .withColumn("__h", h)
        .join(F.broadcast(counts), class_col)
    )
    thresh = F.least(
        F.lit(space),
        F.lit(space) * F.lit(float(k) * (1.0 + slack)) / F.col("__n"),
    )
    survivors = tagged.where(F.col("__h") < thresh)
    w = Window.partitionBy(class_col).orderBy("__h")
    return (
        survivors.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
        .drop("__h", "__n")
    )


def allocated_sample(
    df: DataFrame,
    stratum_col: str,
    alloc: DataFrame,
    salt: str = "alloc",
    slack: float = 0.5,
) -> DataFrame:
    """EXECUTE a per-stratum allocation (e.g. :func:`neyman_allocation`
    output): draw exactly ``n_alloc`` md5-ranked rows from each stratum
    — allocation design and sample draw as one composable pair. Same
    two-phase scale shape as :func:`balanced_sample` (hash-threshold
    prefilter sized per stratum from the broadcast allocation, then a
    window bounded by n_alloc·(1+slack)), with per-stratum k instead of
    a constant.

    ``alloc`` needs columns ``stratum`` and ``n_alloc``; strata absent
    from it contribute nothing.

    Returns sampled rows + ``sample_rank`` (1..n_alloc per stratum).
    """
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "\x1f",
                    F.lit(salt),
                    *[F.col(c).cast("string") for c in df.columns],
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    space = float(1 << 60)
    a = alloc.select(
        F.col("stratum").alias("__s"),
        F.col("n_alloc").cast("long").alias("__k"),
        F.col("n_rows").cast("long").alias("__n"),
    )
    tagged = (
        df.where(F.col(stratum_col).isNotNull())
        .withColumn("__h", h)
        .join(F.broadcast(a), F.col(stratum_col) == F.col("__s"))
    )
    thresh = F.least(
        F.lit(space),
        F.lit(space) * (F.col("__k") * (1.0 + slack)) / F.col("__n"),
    )
    survivors = tagged.where(F.col("__h") < thresh)
    w = Window.partitionBy(stratum_col).orderBy("__h")
    return (
        survivors.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= F.col("__k"))
        .drop("__h", "__s", "__k", "__n")
    )


def shuffle_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic global training-order shuffle: a 60-bit
    pseudorandom order key from ``md5(id + salt)`` assigns every row a
    shard (``key % n_shards``) and a within-shard order (ascending
    key) — the "shuffle the corpus before training" step, without RNG
    state. Properties a 100 TB pipeline needs: reproducible across
    engines/partitionings (pure function of the id, like
    :func:`hash_split`), any row's placement computable in isolation,
    and every shard an unbiased interleave of all sources (md5 is
    uniform, so per-shard source mix converges to the corpus mix).

    Pure map-side expression — zero shuffle to ASSIGN; materializing
    training shards is ``.repartition(n_shards, "shard_id")`` +
    ``sortWithinPartitions("shuffle_key")`` (one exchange, local sort),
    never a global sort.

    Extension beyond the reference surface (whiteRRabbit.R profiles
    in place; it has no dataset-reordering operators).

    Returns the input plus ``shuffle_key`` (long) and ``shard_id``
    (int).
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))),
            1, 15,
        ),
        16, 10,
    ).cast("bigint")
    return df.withColumn("shuffle_key", h).withColumn(
        "shard_id", (F.col("shuffle_key") % n_shards).cast("int")
    )


def epoch_upsample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    weights: dict[str, float],
    salt: str = "epoch",
    buckets: int = SPLIT_BUCKETS,
) -> DataFrame:
    """Weighted multi-epoch repetition — the mixture knob that says
    "this source is seen w times per training pass" (w may be
    fractional; Llama-style data recipes): every row of group g emits
    ``floor(w_g)`` copies, plus one more for the deterministic
    hash-fraction ``frac(w_g)`` of its rows — so realized tokens/group
    converge to ``w_g × group size`` with zero RNG state, and a row's
    copy count is computable in isolation. Groups absent from
    ``weights`` default to w = 1.0.

    Plan shape: broadcast-free map-side expression (the weight table
    folds into a CASE over ``group_col``) + ``explode(sequence(...))``
    whose fan-out per row is bounded by ``ceil(max w)`` — no shuffle,
    no skew hazard beyond the chosen weights themselves.

    Returns the input plus ``n_copies`` (int) and ``epoch_idx``
    (1-based int), rows with 0 copies dropped.
    """
    bucket = hash_bucket_expr(F.col(id_col), salt, buckets)
    w_expr = None
    for g, w in weights.items():
        cond = F.col(group_col) == g
        w_expr = (
            F.when(cond, F.lit(float(w)))
            if w_expr is None
            else w_expr.when(cond, F.lit(float(w)))
        )
    w_expr = F.lit(1.0) if w_expr is None else w_expr.otherwise(F.lit(1.0))
    base = F.floor(w_expr).cast("int")
    extra = (
        bucket < F.round((w_expr - F.floor(w_expr)) * buckets).cast("int")
    ).cast("int")
    n = (base + extra).alias("n_copies")
    return (
        df.withColumn("n_copies", n)
        .where(F.col("n_copies") > 0)
        .withColumn(
            "epoch_idx",
            F.explode(F.sequence(F.lit(1), F.col("n_copies"))),
        )
    )


def padding_efficiency(
    df: DataFrame,
    len_col,
    bucket_edges: list[int],
) -> DataFrame:
    """Length-bucketed batching report: how many pad tokens does
    bucketing save? Sequence batches pad every row to the longest row
    in the batch; bucketing by length bounds that waste. Each row lands
    in the bucket of the smallest edge ≥ its length (rows longer than
    the last edge go to an overflow bucket padded to the observed max).
    Per bucket: rows, real tokens, the bucket's pad target (its edge —
    static, so the number is composition-independent and deterministic),
    padded totals and waste fraction; plus the single-bucket baseline
    waste (pad everything to the global max) for the comparison the
    report exists to make.

    One groupBy over a map-side bucket assignment + one broadcast of
    the O(1) global-max row — scale-independent of row count.

    Returns one row per non-empty bucket:
    ``(bucket_edge, n_rows, real_tokens, padded_tokens, waste_frac,
    baseline_waste_frac)``.
    """
    lc = (len_col if isinstance(len_col, Column) else F.col(len_col)).cast(
        "long"
    )
    edges = sorted(int(e) for e in bucket_edges)
    edge_expr = None
    for e in edges:
        cond = lc <= e
        edge_expr = (
            F.when(cond, F.lit(e)) if edge_expr is None
            else edge_expr.when(cond, F.lit(e))
        )
    edge_expr = edge_expr.otherwise(F.lit(None).cast("long"))
    base = df.select(lc.alias("__len"), edge_expr.alias("__edge")).where(
        F.col("__len").isNotNull()
    )
    glob = base.agg(
        F.max("__len").alias("__gmax"),
        F.sum("__len").alias("__gsum"),
        F.count(F.lit(1)).alias("__gn"),
    )
    per = base.groupBy("__edge").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("__len").alias("real_tokens"),
        F.max("__len").alias("__bmax"),
    )
    pad_target = F.coalesce(F.col("__edge"), F.col("__bmax"))
    return (
        per.join(F.broadcast(glob))
        .select(
            pad_target.alias("bucket_edge"),
            "n_rows",
            "real_tokens",
            (F.col("n_rows") * pad_target).alias("padded_tokens"),
            F.round(
                (F.col("n_rows") * pad_target - F.col("real_tokens"))
                / (F.col("n_rows") * pad_target).cast("double"),
                6,
            ).alias("waste_frac"),
            F.round(
                (F.col("__gn") * F.col("__gmax") - F.col("__gsum"))
                / (F.col("__gn") * F.col("__gmax")).cast("double"),
                6,
            ).alias("baseline_waste_frac"),
        )
    )


def curriculum_stages(
    df: DataFrame,
    score_col: str,
    id_col: str,
    n_stages: int = 4,
    round_dp: int = 6,
) -> DataFrame:
    """Curriculum staging: assign every row to one of ``n_stages``
    difficulty stages by exact score quantile — the easy-first (or
    hard-first) training-order knob, feeding :func:`shuffle_shards`
    for the within-stage interleave. Stage 1 holds the lowest scores;
    stage ``i`` is the (i-1)/n..i/n quantile band.

    Scale shape (no global sort, no window): scores are rounded to
    ``round_dp`` first, which caps the exact ``percentile`` aggregate's
    state at 10^round_dp + 1 distinct values REGARDLESS of row count —
    partial maps merge map-side; the n_stages−1 thresholds come back as
    ONE broadcast row; assignment is a map-side comparison chain.
    Thresholds are re-rounded to ``round_dp`` so both engines compare
    the same decimals (the derive-from-agreed-rounded-stats
    discipline), making every row's stage engine-reproducible.
    NULL scores get a NULL stage (they are excluded from the
    percentile state, so silently bucketing them — every comparison
    is NULL → "not greater" → stage 1 — would pollute the easiest
    stage with unscoreable rows).

    Extension beyond the reference surface (whiteRRabbit.R:265-303
    profiles quantiles; it never orders a corpus by them).

    Returns the input plus ``stage`` (int, 1-based).
    """
    sc = F.round(F.col(score_col).cast("double"), round_dp)
    probs = [i / n_stages for i in range(1, n_stages)]
    th = df.agg(
        F.percentile(
            F.round(F.col(score_col).cast("double"), round_dp),
            F.array(*[F.lit(p) for p in probs]),
        ).alias("__th")
    )
    stage = F.lit(1)
    for i in range(n_stages - 1):
        stage = stage + F.when(
            sc > F.round(F.col("__th")[i], round_dp), 1
        ).otherwise(0)
    return (
        df.join(F.broadcast(th))
        .withColumn(
            "stage", F.when(sc.isNotNull(), stage.cast("int"))
        )
        .drop("__th")
    )
