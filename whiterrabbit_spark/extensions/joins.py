"""Temporal join operators for event-shaped data.

The reference has no joins at all (SURVEY §2 "not present" — files are
profiled independently, whiteRRabbit.R:450-464); an as-of join is the
canonical temporal operator a training-data/event pipeline needs that
Spark also lacks as a built-in. Implemented Spark-first as the
union + partitioned running-state form:

    tag left/right rows → union → one shuffle on the equality keys →
    running ``last(right payload, ignorenulls)`` ordered by event time →
    keep left rows.

This is the scalable shape for 100 TB: exactly ONE shuffle on the `by`
keys (AQE handles skewed keys), no range-explosion join, no per-key
driver loop, and the window's running state is O(1) per row (Spark's
``last`` over ``rowsBetween(unboundedPreceding, currentRow)`` is a
streaming accumulator, not a buffered frame). The naive alternative —
``left JOIN right ON by AND r.ts <= l.ts`` + ``row_number`` — explodes to
|left| × |right-per-key| intermediate rows; at 2k events/user/day that is
4M rows per user-day before the rank filter. Avoided by construction.

DuckDB's native ``ASOF JOIN`` recomputes the same semantics first-
principles in the oracle (queries.py), so the window construction is
cross-checked against an independent engine's dedicated operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from whiterrabbit_spark.cache import pin

_SIDE = "__wrs_is_left"


def _asof_nearest(
    left: DataFrame,
    right: DataFrame,
    *,
    time_col: str,
    by: list[str] | str,
    tolerance_s: int | None,
    right_prefix: str,
) -> DataFrame:
    """Nearest-direction as-of: run the backward and forward passes and
    keep, per left row, the match with the smaller absolute gap —
    backward wins exact ties (pandas ``merge_asof(direction='nearest')``).
    Costs the two windowed passes over the same shuffled partitioning;
    AQE reuses the exchange."""
    by_list = [by] if isinstance(by, str) else list(by)
    payload = [c for c in right.columns if c not in by_list and c != time_col]
    # A synthetic row id keys the two passes back together (duplicate left
    # rows must not cross-join); monotonically_increasing_id is
    # nondeterministic across recomputations, so pin it with a checkpoint
    # before both passes consume it.
    keyed = pin(left.withColumn(
        "__row_id", F.monotonically_increasing_id()
    ), checkpoint=True)
    bwd = asof_join(
        keyed, right, time_col=time_col, by=by,
        tolerance_s=tolerance_s, direction="backward", right_prefix="__b_",
    )
    fwd = asof_join(
        keyed, right, time_col=time_col, by=by,
        tolerance_s=tolerance_s, direction="forward", right_prefix="__f_",
    )
    join_keys = [*by_list, time_col, "__row_id",
                 *[c for c in left.columns if c not in by_list and c != time_col]]
    both = bwd.join(fwd, on=join_keys)
    t = F.col(time_col).cast("timestamp").cast("double")
    b_gap = t - F.col(f"__b_{time_col}").cast("timestamp").cast("double")
    f_gap = F.col(f"__f_{time_col}").cast("timestamp").cast("double") - t
    use_bwd = F.col(f"__b_{time_col}").isNotNull() & (
        F.col(f"__f_{time_col}").isNull() | (b_gap <= f_gap)
    )
    out_cols = [
        *[k for k in join_keys if k != "__row_id"],
        F.when(use_bwd, F.col(f"__b_{time_col}"))
        .otherwise(F.col(f"__f_{time_col}"))
        .alias(f"{right_prefix}{time_col}"),
        *[
            F.when(use_bwd, F.col(f"__b_{c}"))
            .otherwise(F.col(f"__f_{c}"))
            .alias(f"{right_prefix}{c}")
            for c in payload
        ],
    ]
    return both.select(*out_cols)


def range_join_buckets(
    left: DataFrame,
    right: DataFrame,
    *,
    time_col: str,
    by: list[str] | str,
    window_s: int,
    right_prefix: str = "right_",
) -> DataFrame:
    """Range join: every (left, right) pair within the same ``by`` group
    with ``0 <= left.time − right.time < window_s`` (right event strictly
    precedes-or-equals left, within the lookback window).

    Implemented as a **bucketized equi-join**: both sides bin their
    timestamps into ``window_s``-wide epochs; a qualifying right row can
    only be in the left row's bucket or the one before, so the right side
    is duplicated into (b, b+1) tags and the join becomes pure equality on
    ``(by, bucket)`` + a residual filter. This keeps Spark on a shuffled
    hash/sort-merge equi-join with bounded fan-out (≤ 2× right), instead
    of the equality-only-on-``by`` join whose per-group cross product
    explodes quadratically (2k events/user/day ⇒ 4M candidate pairs per
    user-day before a range filter; bucketing bounds candidates to the
    two adjacent windows). The oracle recomputes pairs with a plain
    inequality join — feasible for DuckDB at test scale, which is exactly
    the plan shape this operator exists to avoid at 100 TB.

    Output: left rows × matched right rows, right payload columns prefixed.
    """
    by = [by] if isinstance(by, str) else list(by)
    # fractional epoch seconds: bucket and filter at full (microsecond)
    # timestamp precision
    epoch = F.col(time_col).cast("timestamp").cast("double")
    bucket = F.floor(epoch / F.lit(window_s)).cast("bigint")

    l_b = left.withColumn("__bucket", bucket)
    payload = [c for c in right.columns if c not in by and c != time_col]
    r_b = (
        right.withColumn("__rb", bucket)
        .withColumn("__bucket", F.explode(F.array(F.col("__rb"), F.col("__rb") + 1)))
        .select(
            *by,
            "__bucket",
            F.col(time_col).alias(f"{right_prefix}{time_col}"),
            *[F.col(c).alias(f"{right_prefix}{c}") for c in payload],
        )
    )
    gap = epoch - F.col(f"{right_prefix}{time_col}").cast("timestamp").cast("double")
    return (
        l_b.join(r_b, on=[*by, "__bucket"])
        .where((gap >= 0) & (gap < window_s))
        .drop("__bucket")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    time_col: str,
    by: list[str] | str,
    tolerance_s: int | None = None,
    direction: str = "backward",
    right_prefix: str = "right_",
) -> DataFrame:
    """As-of join: for each left row, attach the nearest right row in the
    same ``by`` group — ``direction="backward"`` (default) takes the latest
    right with ``right.time <= left.time``; ``"forward"`` takes the
    earliest right with ``right.time >= left.time``; ``"nearest"`` takes
    whichever of the two is closer (backward wins exact ties). Ties at
    equal timestamps match in both directions (pandas ``merge_asof`` /
    DuckDB ``ASOF JOIN`` semantics). Unmatched left rows keep NULL right
    columns.

    ``right`` must be unique per (by, time_col) — pre-aggregate it if not;
    with duplicate right timestamps the winner among equals would be
    plan-order-dependent, so this precondition keeps the operator
    deterministic.

    ``tolerance_s``: optional maximum allowed gap in seconds (backward:
    ``left.time − right.time``; forward: ``right.time − left.time``);
    matches farther than the tolerance are nulled out (pandas
    ``merge_asof(tolerance=...)`` semantics).

    Non-key right columns come back as ``{right_prefix}{col}``.
    """
    if direction == "nearest":
        return _asof_nearest(
            left, right,
            time_col=time_col, by=by,
            tolerance_s=tolerance_s, right_prefix=right_prefix,
        )
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    by = [by] if isinstance(by, str) else list(by)
    payload_cols = [c for c in right.columns if c not in by and c != time_col]

    l_tagged = left.select(
        *by,
        F.col(time_col).cast("timestamp").alias(time_col),
        F.lit(1).alias(_SIDE),
        *[F.col(c) for c in left.columns if c not in by and c != time_col],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"{right_prefix}{c}")
          for c in payload_cols],
    )
    r_tagged = right.select(
        *by,
        F.col(time_col).cast("timestamp").alias(time_col),
        F.lit(0).alias(_SIDE),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in by and c != time_col],
        *[F.col(c).alias(f"{right_prefix}{c}") for c in payload_cols],
    )
    unioned = l_tagged.unionByName(r_tagged)

    # Ties: the right row must fall inside the left row's frame at equal
    # time. Backward frame ends at currentRow ⇒ right (side 0) sorts
    # BEFORE left (side 1); forward frame starts at currentRow ⇒ left
    # sorts before right (side descending). The running aggregate is the
    # frame-edge value: last-so-far looking back, first-to-come looking
    # forward — O(1) running state either way.
    if direction == "backward":
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col(time_col).asc(), F.col(_SIDE).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )

        def running(col: Column) -> Column:
            return F.last(F.when(F.col(_SIDE) == 0, col), ignorenulls=True).over(w)

    else:
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col(time_col).asc(), F.col(_SIDE).desc())
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )

        def running(col: Column) -> Column:
            return F.first(F.when(F.col(_SIDE) == 0, col), ignorenulls=True).over(w)

    matched_time = running(F.col(time_col)).alias(f"{right_prefix}{time_col}")
    out = unioned.withColumn("__m_time", matched_time)
    for c in payload_cols:
        out = out.withColumn(f"__m_{c}", running(F.col(f"{right_prefix}{c}")))

    out = out.where(F.col(_SIDE) == 1)
    in_tol = F.lit(True)
    if tolerance_s is not None:
        signed = F.unix_timestamp(F.col(time_col)) - F.unix_timestamp(F.col("__m_time"))
        gap = signed if direction == "backward" else -signed
        in_tol = gap <= F.lit(tolerance_s)

    keep = [
        *by,
        time_col,
        *[c for c in left.columns if c not in by and c != time_col],
        F.when(in_tol, F.col("__m_time")).alias(f"{right_prefix}{time_col}"),
        *[F.when(in_tol, F.col(f"__m_{c}")).alias(f"{right_prefix}{c}")
          for c in payload_cols],
    ]
    return out.select(*keep)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with manual key salting for pathological hot keys: each
    LEFT row gets a random salt in [0, salt_buckets); the RIGHT side
    replicates every row across all salts (explode of a literal range —
    ``salt_buckets``× the right side, so use this with a small-to-medium
    right table whose hot key breaks the join). The join key becomes
    (key, salt), fanning one hot key's rows across ``salt_buckets``
    reducers instead of one straggler task.

    AQE's skew-join split (on by default in this engine) handles MOST
    skew by splitting oversized partitions post-shuffle; this manual
    form exists for the residual cases AQE can't touch — skew in a
    broadcast-ineligible build side, or a single key so hot that even a
    split partition's task exceeds memory. Result parity with the plain
    join is pinned in tests; row order differs (it always does).

    Only ``inner`` and ``left`` joins are supported: a right/full join
    would count unmatched RIGHT rows once per salt replica.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt = (F.rand(seed=0) * salt_buckets).cast("int")
    l = left.withColumn("__salt", salt)
    r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    out = l.join(r, [key, "__salt"], how)
    return out.drop("__salt")


def enable_runtime_bloom_filter(
    spark: SparkSession,
    creation_side_threshold: str = "100MB",
    application_side_threshold: str = "10GB",
) -> None:
    """Turn on Catalyst's runtime bloom-filter injection for shuffle
    joins: when one join side carries a selective filter, the
    optimizer aggregates a bloom filter over its join keys and pushes
    a ``might_contain`` predicate into the OTHER side's scan — rows
    that can't match die before the shuffle. On a 100 TB fact /
    filtered-dim join this is the difference between shuffling the
    full fact table and shuffling only the ~matching slice, without
    any manual semi-join staging.

    Spark's defaults only fire for large estimated scans; the
    thresholds are exposed here because local tests and mid-size
    clusters need them lowered to see the effect (plan-pinned in
    ``tests/test_scale_techniques.py::test_runtime_bloom_filter_
    prunes_fact_side``).
    """
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        creation_side_threshold,
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        application_side_threshold,
    )
