"""Data-discovery operators: cross-table join-column discovery and
k-anonymity auditing.

Not in the reference surface (whiteRRabbit.R:309-423 profiles each
column of each file in isolation; no cross-column or cross-table
reasoning exists) — but both are natural next questions over exactly
the profile it produces: "which columns join these two tables?" and
"do these quasi-identifier columns re-identify rows?". The reference's
OMOP-ETL lineage (scan reports feeding schema mapping) makes join
discovery the single most-requested follow-on.

Scale shape
-----------
``join_candidates`` melts each table to DISTINCT (column, value) pairs
— one Expand + one partial-aggregable distinct per table, state
bounded by Σ|distinct| not Σ|rows| — then a single equi-join on value
computes every column-pair intersection at once (no per-pair loop, no
cross join). Per-column distinct counts ride the same melted frame.
At 100 TB the melted join is still a real shuffle; the documented
approximation path is per-column MinHash signatures (constant size per
column) — see ``similarity``/``dedup`` for the machinery — with this
exact form as the verifier over signature-selected pairs.

``k_anonymity`` is one groupBy over the quasi-identifier tuple + one
tiny aggregate over the class-size histogram. Nothing is ever
collected; output is one row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whiterrabbit_spark.cache import pin


def _melt_distinct(df: DataFrame, cols: list[str], side: str) -> DataFrame:
    """DISTINCT (column, value-as-string) pairs for the given columns."""
    pairs = []
    for c in cols:
        pairs += [F.lit(c), F.col(c).cast("string")]
    stacked = df.select(
        F.stack(F.lit(len(cols)), *pairs).alias(f"col_{side}", "value")
    )
    return stacked.where(F.col("value").isNotNull()).distinct()


def join_candidates(
    df_a: DataFrame,
    df_b: DataFrame,
    cols_a: list[str] | None = None,
    cols_b: list[str] | None = None,
    min_containment: float = 0.5,
) -> DataFrame:
    """Join-column discovery between two tables: for every column pair
    (a ∈ A, b ∈ B) with any value overlap, the distinct-value
    intersection, Jaccard, and both containment directions —
    ``containment_a`` = |A∩B| / |distinct(a)| ≈ P(a-value resolves in
    b), the foreign-key signal (a true FK has containment_a ≈ 1 while
    Jaccard can be arbitrarily small). Pairs below ``min_containment``
    on BOTH directions are dropped.

    Values compare as strings so cross-type joins (int id vs string id
    — the classic dirty-warehouse join) are still found; genuinely
    unrelated columns almost never collide as strings.

    Returns ``(col_a, col_b, n_a, n_b, n_common, jaccard,
    containment_a, containment_b)``.
    """
    cols_a = cols_a or df_a.columns
    cols_b = cols_b or df_b.columns
    ma = _melt_distinct(df_a, cols_a, "a")
    mb = _melt_distinct(df_b, cols_b, "b")
    sizes_a = ma.groupBy("col_a").agg(F.count(F.lit(1)).alias("n_a"))
    sizes_b = mb.groupBy("col_b").agg(F.count(F.lit(1)).alias("n_b"))
    inter = (
        ma.join(mb, "value")
        .groupBy("col_a", "col_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        inter.join(F.broadcast(sizes_a), "col_a")
        .join(F.broadcast(sizes_b), "col_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .withColumn("containment_a", F.col("n_common") / F.col("n_a"))
        .withColumn("containment_b", F.col("n_common") / F.col("n_b"))
    )
    return out.where(
        (F.col("containment_a") >= min_containment)
        | (F.col("containment_b") >= min_containment)
    ).select(
        "col_a", "col_b", "n_a", "n_b", "n_common",
        "jaccard", "containment_a", "containment_b",
    )


def k_anonymity(
    df: DataFrame,
    quasi_identifiers: list[str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit for a quasi-identifier column set: how many
    equivalence classes the QI tuple induces, how small the smallest
    is, and what fraction of rows live in classes below ``k`` (those
    rows are re-identifiable at that k). The privacy counterpart of
    the reference's value-frequency report — run it before publishing
    any "anonymized" extract.

    One groupBy over the QI tuple (partial-aggregable), one single-row
    aggregate over the |classes|-row histogram.

    Returns one row ``(n_rows, n_classes, min_class_size,
    n_rows_below_k, pct_rows_below_k, k)``.
    """
    classes = df.groupBy(*quasi_identifiers).agg(
        F.count(F.lit(1)).alias("__n")
    )
    return classes.agg(
        F.sum("__n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_classes"),
        F.min("__n").alias("min_class_size"),
        F.coalesce(
            F.sum(F.when(F.col("__n") < k, F.col("__n"))), F.lit(0)
        ).alias("n_rows_below_k"),
    ).select(
        "n_rows",
        "n_classes",
        "min_class_size",
        "n_rows_below_k",
        (F.col("n_rows_below_k") / F.col("n_rows") * 100.0).alias(
            "pct_rows_below_k"
        ),
        F.lit(k).alias("k"),
    )


def folder_join_candidates(
    tables: dict[str, DataFrame],
    min_containment: float = 0.5,
) -> DataFrame:
    """Join-column discovery across EVERY pair of tables in one job:
    each table melts once to DISTINCT (``table.column``, value) pairs,
    the melts union, and a single self-equi-join on value scores all
    cross-table column pairs simultaneously — n tables cost n melts +
    ONE join, not n²/2 pairwise jobs. Same-table pairs are excluded
    (FD/correlation operators cover those).

    Returns ``(col_a, col_b, n_a, n_b, n_common, jaccard,
    containment_a, containment_b)`` with ``col_a < col_b``
    lexicographically (each pair once, deterministic orientation).
    """
    melted = None
    for name, df in tables.items():
        # table identity rides its OWN column — parsing it back out of
        # the display label would break on dotted table names, which
        # io.discover_tables explicitly preserves in file stems
        m = _melt_distinct(df, df.columns, "a").select(
            F.lit(name).alias("tbl"),
            F.concat(F.lit(name + "."), F.col("col_a")).alias("col"),
            "value",
        )
        melted = m if melted is None else melted.unionByName(m)
    melted = pin(melted)
    sizes = melted.groupBy("col").agg(F.count(F.lit(1)).alias("n"))
    a = melted.select(
        F.col("tbl").alias("tbl_a"), F.col("col").alias("col_a"), "value"
    )
    b = melted.select(
        F.col("tbl").alias("tbl_b"), F.col("col").alias("col_b"), "value"
    )
    inter = (
        a.join(b, "value")
        .where(F.col("col_a") < F.col("col_b"))
        .where(F.col("tbl_a") != F.col("tbl_b"))  # cross-table only
        .groupBy("col_a", "col_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("col").alias("col_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("col").alias("col_b"), F.col("n").alias("n_b"))
    out = (
        inter.join(F.broadcast(sa), "col_a")
        .join(F.broadcast(sb), "col_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .withColumn("containment_a", F.col("n_common") / F.col("n_a"))
        .withColumn("containment_b", F.col("n_common") / F.col("n_b"))
    )
    return out.where(
        (F.col("containment_a") >= min_containment)
        | (F.col("containment_b") >= min_containment)
    ).select(
        "col_a", "col_b", "n_a", "n_b", "n_common",
        "jaccard", "containment_a", "containment_b",
    )


def l_diversity(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l_threshold: int = 2,
) -> DataFrame:
    """l-diversity audit — k-anonymity's sharper sibling: a
    quasi-identifier class can be large (k-safe) yet expose everyone in
    it when all members share ONE sensitive value. Per QI class we
    count distinct sensitive values; the rollup reports the minimum
    diversity, the classes/rows below ``l_threshold``, and the share of
    fully homogeneous classes (l = 1, the worst case).

    Same plan discipline as :func:`k_anonymity`: one groupBy on the QI
    columns (countDistinct folds the sensitive values per class) and
    one single-row rollup — two shuffles total, no window.

    Returns one row ``(n_rows, n_classes, min_l, n_classes_below_l,
    n_rows_below_l, pct_homogeneous_classes, l)``.
    """
    classes = (
        df.where(F.col(sensitive_col).isNotNull())
        .groupBy(*[F.col(c) for c in quasi_cols])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(sensitive_col).alias("ldiv"),
        )
    )
    below = F.col("ldiv") < l_threshold
    return classes.agg(
        F.sum("n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_classes"),
        F.min("ldiv").alias("min_l"),
        F.sum(below.cast("long")).alias("n_classes_below_l"),
        F.sum(F.when(below, F.col("n")).otherwise(F.lit(0))).alias(
            "n_rows_below_l"
        ),
        F.round(
            F.sum((F.col("ldiv") == 1).cast("long")) * 100.0
            / F.count(F.lit(1)),
            6,
        ).alias("pct_homogeneous_classes"),
        F.lit(l_threshold).cast("long").alias("l"),
    )


def deletion_preview(
    tables: dict[str, DataFrame],
    key_links: dict[str, "Column"],
    keys: DataFrame,
) -> DataFrame:
    """Right-to-be-forgotten impact preview: given a subject-key set,
    how many rows each table would lose under cascade deletion — the
    audit run BEFORE any GDPR/CCPA erasure job, and the same plan a
    tombstone-apply would use with the join flipped to left anti. Each
    table is scanned ONCE: a LEFT join against the broadcast distinct
    key set preserves row count (the key side is deduplicated), so one
    aggregation yields both the total and the conditional hit-sum —
    the old two-counted-frames-crossJoined form cost two scans per
    table (VERDICT r6 #4). ``key_links`` maps table name → the column
    expression that reaches the subject key (a direct FK, or a bridge
    expression for tables linked through another — pre-join upstream
    and pass the joined frame).

    Returns one row per table: ``(table_name, n_rows, n_affected,
    pct_affected)``.
    """
    outs = []
    k = F.broadcast(keys.select(F.col(keys.columns[0]).alias("__k")).distinct())
    for name, df in tables.items():
        link = key_links[name]
        tagged = df.select(link.alias("__link"))
        joined = tagged.join(k, F.col("__link") == F.col("__k"), "left")
        outs.append(
            joined.agg(
                F.count(F.lit(1)).alias("n_rows"),
                # SUM over zero rows is NULL — keep the empty-table
                # answer at 0 like the old count-based form (ADVICE r7)
                F.coalesce(
                    F.sum(F.col("__k").isNotNull().cast("long")),
                    F.lit(0).cast("long"),
                ).alias("n_affected"),
            ).select(
                F.lit(name).alias("table_name"),
                "n_rows",
                "n_affected",
                F.round(
                    F.col("n_affected") * 100.0 / F.col("n_rows"), 6
                ).alias("pct_affected"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("table_name")


def t_closeness(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t_threshold: float = 0.3,
) -> DataFrame:
    """t-closeness audit — the third rung of the k-anonymity ladder
    (k-anonymity -> l-diversity -> t-closeness): a QI class can be
    large AND diverse yet still leak when its sensitive-value
    DISTRIBUTION deviates sharply from the corpus-wide one (e.g. a
    class that is 90% one diagnosis in a corpus where it is 5%). Per
    QI class we measure the total-variation distance between the
    class's categorical sensitive distribution and the global
    distribution — the standard discrete-EMD instantiation of
    Li et al.'s t-closeness for nominal attributes:

        TVD(c) = 0.5 * sum_v |p_c(v) - p_g(v)|

    including the mass of globally-present values ABSENT from the
    class (|0 - p_g(v)| = p_g(v)), folded in algebraically as
    ``1 - sum_{v in c} p_g(v)`` so the plan never expands the
    class x value cross product.

    Plan: one groupBy on (QI, sensitive) cells, one groupBy of cells
    down to classes (the per-class TVD folds present-value terms),
    the |values|-sized global distribution joined in as a broadcast —
    all partial-aggregable, no window, no cross join; at 100 TB the
    only shuffles are the two groupBys on bounded key spaces.

    Returns one row ``(n_rows, n_classes, max_tvd, avg_tvd,
    n_classes_above_t, n_rows_above_t, t)``.
    """
    cells = (
        df.where(F.col(sensitive_col).isNotNull())
        .groupBy(*[F.col(c) for c in quasi_cols], F.col(sensitive_col))
        .agg(F.count(F.lit(1)).alias("n_cv"))
    )
    cells = pin(cells)
    # global distribution over the sensitive values: |values| rows
    glob = cells.groupBy(sensitive_col).agg(F.sum("n_cv").alias("n_v"))
    total = glob.agg(F.sum("n_v").alias("n_total"))
    glob = glob.crossJoin(F.broadcast(total)).select(
        sensitive_col, (F.col("n_v") / F.col("n_total")).alias("p_g")
    )
    joined = cells.join(F.broadcast(glob), sensitive_col)
    per_class = (
        joined.groupBy(*quasi_cols)
        .agg(
            F.sum("n_cv").alias("n_c"),
            # per-class cell list is bounded by |distinct sensitive
            # values|, not by class size — safe to fold as an array
            F.collect_list(F.struct("n_cv", "p_g")).alias("__cells"),
        )
        .select(
            *quasi_cols,
            "n_c",
            (
                (
                    F.aggregate(
                        # deterministic fold order: doubles don't
                        # associate, and collect_list order is not
                        # stable across retries
                        F.array_sort("__cells"),
                        F.lit(0.0),
                        lambda acc, x: acc
                        + F.abs(
                            x["n_cv"] / F.col("n_c") - x["p_g"]
                        )
                        - x["p_g"],
                    )
                    + F.lit(1.0)
                )
                / F.lit(2.0)
            ).alias("tvd"),
        )
    )
    above = F.col("tvd") > t_threshold
    return per_class.agg(
        F.sum("n_c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_classes"),
        F.round(F.max("tvd"), 6).alias("max_tvd"),
        F.round(F.avg("tvd"), 6).alias("avg_tvd"),
        F.sum(above.cast("long")).alias("n_classes_above_t"),
        F.sum(F.when(above, F.col("n_c")).otherwise(F.lit(0))).alias(
            "n_rows_above_t"
        ),
        F.round(F.lit(float(t_threshold)), 6).alias("t"),
    )


def dp_noisy_counts(
    df: DataFrame,
    group_col: str,
    epsilon: float = 1.0,
    seed: str = "dp",
) -> DataFrame:
    """ε-differentially-private group counts via the Laplace mechanism
    — the publishable histogram a privacy review asks for before any
    per-segment count leaves the boundary. Count queries have
    sensitivity 1 under add/remove-one-row adjacency, so noise is
    Laplace(1/ε) added to each group's count.

    Noise is SEEDED: the Laplace draw derives from an md5 of
    (group value, seed) via inverse-CDF — u = hash/16^15 ∈ [0,1),
    noise = -(1/ε)·sign(u-½)·ln(1-2|u-½|) — so releases are
    reproducible and, crucially, STABLE across retries/stragglers on
    a cluster (a nondeterministic rand() would re-noise a recomputed
    partition and silently double-spend the budget). One groupBy, one
    map-side noise projection; no second pass, no window.

    Returns ``(group, noisy_count, epsilon)`` — the true count never
    leaves this function.
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col(group_col), F.lit(seed))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(float(16**15))
    )
    half = u - F.lit(0.5)
    noise = (
        F.lit(-1.0 / float(epsilon))
        * F.signum(half)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(half))
    )
    return (
        df.where(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(
            group_col,
            F.round(F.col("__n") + noise, 6).alias("noisy_count"),
            F.round(F.lit(float(epsilon)), 6).alias("epsilon"),
        )
    )


def generalization_advisor(
    df: DataFrame,
    id_qi: str,
    numeric_qi: str,
    widths: tuple[int, ...] = (1, 10, 100, 1000),
    k: int = 5,
) -> DataFrame:
    """k-anonymity generalization ladder: how coarse does the numeric
    quasi-identifier have to get before the table is k-anonymous?
    Each candidate level buckets ``numeric_qi`` to a ``widths`` grain
    (level i = floor(x / w_i) · w_i, plus a final level that drops the
    column entirely), and every level's equivalence-class histogram is
    computed in ONE pass via GROUPING SETS — one Expand feeds all
    levels' partial aggregates, instead of |widths|+1 scans.

    Returns one row per level ``(level, width, n_classes,
    min_class_size, n_rows_below_k, pct_rows_below_k, meets_k)``,
    coarsest-sufficient first — the row an anonymization job should
    pick is the first with ``meets_k = 1`` and the smallest width.
    """
    buckets = [
        (F.floor(F.col(numeric_qi) / int(w)) * int(w)).alias(f"__g{i}")
        for i, w in enumerate(widths)
    ]
    base = df.select(F.col(id_qi).alias("__id"), *buckets)
    sets = [
        [F.col("__id"), F.col(f"__g{i}")] for i in range(len(widths))
    ] + [[F.col("__id")]]
    # grouping() must be computed inside the aggregate select — carry
    # one flag per ladder column out of the Expand
    classes = base.groupingSets(
        sets, F.col("__id"), *[F.col(f"__g{i}") for i in range(len(widths))]
    ).agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.grouping(f"__g{i}").cast("int").alias(f"__gf{i}")
            for i in range(len(widths))
        ],
    )
    # level id: the __g column that participates (flag 0) names the
    # level; all-grouped-out = the drop-the-column level
    lvl = F.lit(len(widths))
    for i in range(len(widths) - 1, -1, -1):
        lvl = F.when(F.col(f"__gf{i}") == 0, F.lit(i)).otherwise(lvl)
    per_class = classes.select(lvl.alias("level"), F.col("n"))
    agg = per_class.groupBy("level").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("n").alias("min_class_size"),
        F.coalesce(
            F.sum(F.when(F.col("n") < k, F.col("n"))), F.lit(0)
        ).alias("n_rows_below_k"),
        F.sum("n").alias("n_rows"),
    )
    width_expr = F.lit(None).cast("long")
    for i, w in enumerate(widths):
        width_expr = F.when(F.col("level") == i, F.lit(int(w))).otherwise(
            width_expr
        )
    return agg.select(
        F.col("level").cast("long").alias("level"),
        F.coalesce(width_expr, F.lit(-1)).cast("long").alias("width"),
        "n_classes",
        "min_class_size",
        "n_rows_below_k",
        F.round(
            F.col("n_rows_below_k") * 100.0 / F.col("n_rows"), 6
        ).alias("pct_rows_below_k"),
        (F.col("min_class_size") >= k).cast("long").alias("meets_k"),
    ).orderBy("level")
