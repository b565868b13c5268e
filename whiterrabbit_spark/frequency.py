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

Scale shape: the counts come from ``value_histogram``, the one grouping
of a column's values that the profile's distinct counts and quartiles
read too; ``value_frequencies`` adds only the F1 finish. The histogram
is one position-keyed melt, one shuffle for any column count, where a
per-column ``groupBy`` branch costs a stage per column (histogram only,
4-core host, median of 5 alternating runs: 600k rows x 11 columns,
branches 5.60 s, melt 5.03 s; 40 rows x 48 columns, 8.80 s and
0.84 s). The top-K is one rank window, planned with a partial
``WindowGroupLimit`` below its exchange (per-partition top-K, no global
sort) while ``max_distinct_values`` is at most
``spark.sql.optimizer.windowGroupLimitThreshold`` (both 1000 by
default). The rank window's reduce side, the displayed-denominator
percentage and the final sort run in one task: with the partial limit
it reads at most K rows per column from each map partition, and it
needs no range exchange (nor its sampling job) for the sort.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from whiterrabbit_spark.config import ScanConfig
from whiterrabbit_spark.session import local_frame

HISTOGRAM_SCHEMA = T.StructType(
    [
        T.StructField("column_name", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
        T.StructField("num", T.DoubleType(), True),
        T.StructField("count", T.LongType(), True),
    ]
)
FREQUENCY_SCHEMA = T.StructType(
    [
        T.StructField("column_name", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
        T.StructField("count", T.LongType(), True),
        T.StructField("percentage", T.DoubleType(), True),
    ]
)


def eligible(dt: T.DataType) -> bool:
    # W:331: skip Date/POSIXt columns.
    return not isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType))


def fold_signed_zero(c: Column, dt: T.DataType) -> Column:
    """``c`` with float ``-0.0`` folded into ``0.0``: the reference's R
    ``table`` counts one zero (a groupBy on the string would count two)."""
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return c + F.lit(0).cast(dt)  # IEEE 754: -0.0 + 0.0 == +0.0
    return c


def _cells(c: str, dt: T.DataType) -> tuple[Column, Column]:
    """A column's histogram value (folded, stringified) and its quartile
    key: the double value, epoch seconds for a date, NULL otherwise."""
    v = fold_signed_zero(F.col(c), dt)
    if isinstance(dt, T.NumericType):
        num = v.cast("double")
    elif not eligible(dt):
        num = v.cast("timestamp").cast("double")
    else:
        num = F.lit(None).cast("double")
    return v.cast("string"), num


def _count(cells: DataFrame, *keys: str) -> DataFrame:
    # stringified values are canonical: distinct strings == distinct values
    return (
        cells.where(F.col("value").isNotNull() & (F.col("value") != ""))
        .groupBy(*keys, "value")
        .agg(F.first("num").alias("num"), F.count(F.lit(1)).alias("count"))
    )


def value_histogram(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """One row per (column, non-empty value): ``column_name``, ``value``,
    ``num`` (the quartile key, see ``_cells``) and ``count``.

    One melt: a ``posexplode`` of one (value, num) struct per column,
    one ``groupBy(position, value)`` shuffle, then the name looked up by
    position (an int key groups faster than the name string).
    """
    columns = df.columns if columns is None else columns
    if not columns:
        return local_frame(df.sparkSession, [], HISTOGRAM_SCHEMA)
    cells = []
    for c in columns:
        v, num = _cells(c, df.schema[c].dataType)
        cells.append(F.struct(v.alias("value"), num.alias("num")))
    if len(columns) == 1:
        # filtered before the explode so that the source skips empty
        # rows (a parquet scan takes the null filter). No OR over several
        # columns: pushed through the projections below, Catalyst's
        # constraint propagation on it grows as 2^columns (12 inferred
        # columns took 2.3 s to optimize; 40 ran for minutes).
        df = df.where(v.isNotNull() & (v != ""))
    melted = df.select(F.posexplode(F.array(*cells)).alias("pos", "kv"))
    names = F.array(*[F.lit(c) for c in columns])
    return _count(melted.select("pos", "kv.*"), "pos").select(
        F.element_at(names, F.col("pos") + 1).alias("column_name"),
        "value", "num", "count",
    )


def value_frequencies(
    df: DataFrame,
    columns: list[str] | None = None,
    cfg: ScanConfig | None = None,
    histogram: DataFrame | None = None,
) -> DataFrame:
    """Frequency frame: (column_name, value, count, percentage).

    ``columns`` defaults to every frequency-eligible (non-date) column.
    ``histogram`` is a ``value_histogram`` covering at least those
    columns; one is built when it is not given.
    """
    cfg = cfg or ScanConfig()
    types = {f.name: f.dataType for f in df.schema.fields}
    columns = df.columns if columns is None else columns
    columns = [c for c in columns if eligible(types[c])]
    if not columns:
        return local_frame(df.sparkSession, [], FREQUENCY_SCHEMA)

    order = [F.col("count").desc(), F.col("value").asc()]
    hist = histogram if histogram is not None else value_histogram(df, columns)
    w_rank = Window.partitionBy("column_name").orderBy(*order)
    retained = (
        hist.select("column_name", "value", "count")
        .where(
            F.col("column_name").isin(columns)
            & (F.col("count") >= cfg.min_cell_count)
        )
        .withColumn("__rn", F.row_number().over(w_rank))
        .where(F.col("__rn") <= cfg.max_distinct_values)
        .drop("__rn")
    )

    # One sorted partition, not orderBy's range exchange (which samples
    # in a job of its own): the partial WindowGroupLimit below the rank
    # window's exchange already cut each map partition to K per column.
    w_all = Window.partitionBy("column_name")
    return (
        retained.withColumn(
            "percentage", F.col("count") / F.sum("count").over(w_all)
        )
        .coalesce(1)
        .sortWithinPartitions("column_name", *order)
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

    Same result as ``groupBy(value).count()`` — parity-tested. It stops
    at the counts: the F1 finish (HAVING, top-K, displayed-denominator
    percentage) lives in ``value_frequencies``.
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
        return local_frame(df.sparkSession, [], "value string, count long")
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
            if f.name != group_col and eligible(f.dataType)
        ]
    if not columns:
        return local_frame(
            df.sparkSession, [],
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
                        fold_signed_zero(F.col(c), df.schema[c].dataType)
                        .cast("string").alias("value"),
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
    rows) inside whole-stage codegen, one ``groupBy(mask)`` branch per
    column unioned (the registry profiles one column per call, so that
    is one aggregate; the shuffle carries per-mask partial counts, far
    smaller than a value shuffle since masks collapse cardinality);
    ranking windows run over the aggregated O(masks) frame and ``share``
    uses the column's full non-empty count, not the displayed subset.
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
