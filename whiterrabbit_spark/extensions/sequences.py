"""Ordered event-sequence analytics (funnels) over event streams.

Not in the reference surface (whiteRRabbit.R profiles one flat table at a
time; no per-entity ordering exists — SURVEY §2 "not present"); this is a
BASELINE.json-style pipeline extension for event/telemetry tables.

Scale shape
-----------
A funnel is an ORDER-dependent per-user fold — the naive forms are a
per-step self-join chain (k shuffles) or a sessionized sort + imperative
scan (Python state). Instead the whole funnel runs in ONE groupBy(user):
each step's candidate timestamps are gathered with a conditional
``collect_list`` (partial-aggregable), and the greedy earliest-completion
fold is a map-side chain of ``array_min(filter(...))`` over those arrays —
O(events-per-user) memory per group, one Exchange total, no Python.
Same-timestamp step pairs do NOT chain (strict >), so results are
deterministic under any executor order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from whiterrabbit_spark.cache import pin


def funnel_completion_times(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per user: epoch time each funnel step was first completed under
    greedy earliest-completion semantics (step i counts only strictly
    after the completion of step i−1), plus ``steps_completed``.

    Returns (user_col, t_step1..t_stepK as double epochs, steps_completed).

    Each step's completion time is MATERIALIZED as its own projected
    column before the next step references it: written inline, step
    i's filter lambda would re-evaluate the whole step-(i-1)
    expression per array element, compounding to O(n^steps) array
    scans per user (the round-5 lambda-hoist lesson, PLANS.md); as an
    attribute reference it is O(1) per element and the chain is
    O(steps × events-per-user).
    """
    ep = F.col(ts_col).cast("timestamp").cast("double")
    aggs = [
        F.collect_list(F.when(F.col(type_col) == s, ep)).alias(f"__a{i}")
        for i, s in enumerate(steps)
    ]
    cur = events.groupBy(user_col).agg(*aggs)
    for i, _ in enumerate(steps):
        arr = F.col(f"__a{i}")
        if i == 0:
            t = F.array_min(arr)
        else:
            prev = F.col(f"__t{i - 1}")
            t = F.array_min(F.filter(arr, lambda x: x > prev))
        cur = cur.withColumn(f"__t{i}", t)

    completed = F.lit(0)
    for i in range(len(steps)):
        completed = F.when(
            F.col(f"__t{i}").isNotNull(), F.lit(i + 1)
        ).otherwise(completed)
    # __t{i} non-null implies all earlier non-null (greedy chain), so
    # scanning ascending and keeping the last non-null index is correct.

    return cur.select(
        F.col(user_col),
        *[F.col(f"__t{i}").alias(f"t_{s}") for i, s in enumerate(steps)],
        completed.alias("steps_completed"),
    )


def funnel_stateful(
    stream: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming funnel with CONSTANT per-user state.

    The batch fold gathers each user's per-step timestamp arrays —
    O(events-per-user) memory, fine for bounded batches, wrong shape for
    an unbounded stream. Greedy earliest-completion is order-monotone, so
    an in-order scan needs only ``(stage, t_prev)``: advance when the next
    event matches ``steps[stage]`` strictly after ``t_prev``. That pair is
    the entire state ``applyInPandasWithState`` keeps per user — O(1), not
    O(events) — and each micro-batch emits the user's updated
    ``steps_completed`` (update semantics).

    In-order delivery is assumed per user within the stream (the standard
    caveat for stateful sequence ops; a watermark+buffer variant would
    reorder within the lateness horizon).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    n_steps = len(steps)

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        rows = pd.concat(list(pdfs)).sort_values(ts_col)
        if state.exists:
            stage, t_prev = state.get
        else:
            stage, t_prev = 0, float("-inf")
        for ts, et in zip(rows[ts_col], rows[type_col]):
            t = ts.timestamp()
            if stage < n_steps and et == steps[stage] and t > t_prev:
                stage, t_prev = stage + 1, t
        state.update((stage, t_prev))
        yield pd.DataFrame({user_col: [key[0]], "steps_completed": [stage]})

    return stream.groupBy(user_col).applyInPandasWithState(
        fn,
        f"{user_col} long, steps_completed int",
        "stage int, t_prev double",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def funnel_report(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Classic funnel table: one row per step with the number of users
    whose greedy completion reached at least that step and the conversion
    rate from the previous step. O(steps) rows out regardless of scale."""
    times = funnel_completion_times(events, steps, user_col, ts_col, type_col)
    row = times.agg(
        *[
            F.sum((F.col("steps_completed") >= i + 1).cast("long")).alias(f"n{i}")
            for i in range(len(steps))
        ]
    ).collect()[0]
    counts = [row[f"n{i}"] for i in range(len(steps))]
    data = []
    for i, s in enumerate(steps):
        prev = counts[i - 1] if i else None
        rate = (counts[i] / prev) if prev else (1.0 if i == 0 else None)
        data.append((i + 1, s, counts[i], rate))
    return events.sparkSession.createDataFrame(
        data,
        "step int, step_name string, n_users long, conversion_from_prev double",
    )


def resample_fill(
    events: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    value_col: str = "value",
    step: str = "1 hour",
    unit: str = "hour",
) -> DataFrame:
    """Regular-grid resample with forward fill: aggregate per
    (group, time bucket), then densify each group's series over its own
    [min, max] bucket range — empty buckets appear with ``n_events = 0``
    and a NULL ``v_sum`` — and carry the last observed value forward
    (``v_filled``). The gap-free series a downstream window model or
    drift monitor needs; raw event feeds have holes exactly where the
    interesting outages are.

    Scale shape: the only data-sized op is the per-(group, bucket)
    groupBy (map-side combine). The grid generates from the O(groups)
    bounds frame (``sequence()`` explode — rows = series length, data
    never re-scanned), the densify join is grid-vs-O(buckets) aggregates,
    and the forward-fill window partitions per group ordered by time —
    partition size is the series length (time-range bound), not the data
    size. Unaggregated rows never pass through a window.
    """
    g = F.col(group_col)
    bucket = F.date_trunc(unit, F.col(ts_col))
    agg = pin(
        events.where(g.isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(g.alias("group_key"), bucket.alias("bucket_ts"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("double")).alias("v_sum"),
        ),
        # the O(groups x buckets) aggregate feeds BOTH the bounds frame
        # and the densify join; a lazy local checkpoint materializes it
        # once instead of re-scanning the raw events per consumer
        checkpoint=True,
        eager=False,
    )
    bounds = agg.groupBy("group_key").agg(
        F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi")
    )
    grid = bounds.select(
        "group_key",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr(f"INTERVAL {step}"))
        ).alias("bucket_ts"),
    )
    joined = grid.join(agg, ["group_key", "bucket_ts"], "left")
    w = (
        Window.partitionBy("group_key")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "group_key",
        "bucket_ts",
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        "v_sum",
        F.last("v_sum", ignorenulls=True).over(w).alias("v_filled"),
    )


def attribution(
    events: DataFrame,
    conversion_type: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    none_label: str = "(none)",
) -> DataFrame:
    """Per-channel conversion attribution: every ``conversion_type``
    event credits the FIRST and the LAST non-conversion event that
    preceded it for the same user (first-touch / last-touch, the two
    endpoints of the standard marketing-attribution family). A
    conversion with no prior touch credits ``none_label``. Extension
    beyond the reference surface (whiteRRabbit.R has no per-entity
    ordering; SURVEY §2 "not present").

    Scale shape: one user-partitioned window computes both endpoints
    (``first``/``last`` with ``ignorenulls`` over an UNBOUNDED
    PRECEDING .. 1 PRECEDING frame — per-user state, parallel across
    users), then the credits melt to (channel, kind) and collapse in a
    partial-aggregable groupBy whose result is |channels| rows. Ties on
    timestamp are broken by ``id_col`` so executor order never changes
    the answer.

    Returns ``(channel, first_touch_credits, last_touch_credits)``.
    """
    touch = F.when(F.col(type_col) != conversion_type, F.col(type_col))
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    conv = (
        events.withColumn("__ft", F.first(touch, ignorenulls=True).over(w))
        .withColumn("__lt", F.last(touch, ignorenulls=True).over(w))
        .where(F.col(type_col) == conversion_type)
    )
    # melt via an inline explode, NOT a union of two selects — a union
    # would re-scan and re-window the events twice; this keeps one scan
    # and one window exchange
    melted = conv.select(
        F.explode(
            F.array(
                F.struct(
                    F.coalesce(F.col("__ft"), F.lit(none_label)).alias(
                        "channel"
                    ),
                    F.lit(1).alias("__fc"),
                    F.lit(0).alias("__lc"),
                ),
                F.struct(
                    F.coalesce(F.col("__lt"), F.lit(none_label)).alias(
                        "channel"
                    ),
                    F.lit(0).alias("__fc"),
                    F.lit(1).alias("__lc"),
                ),
            )
        ).alias("m")
    ).select("m.*")
    return melted.groupBy("channel").agg(
        F.sum("__fc").alias("first_touch_credits"),
        F.sum("__lc").alias("last_touch_credits"),
    )


def attribution_decay(
    events: DataFrame,
    conversion_type: str,
    halflife_s: float,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    none_label: str = "(none)",
) -> DataFrame:
    """Time-decay conversion attribution — the standard middle ground
    between :func:`attribution`'s first/last-touch endpoints: every
    touch before a user's FIRST conversion earns weight
    0.5^(Δt / halflife), normalized so each converting user distributes
    exactly one credit across their touches; converters with no prior
    touch credit ``none_label`` in full. Extension beyond the reference
    surface (whiteRRabbit.R has no per-entity ordering).

    Scale shape: conversion times are one ``groupBy(user).min`` (one
    partial-aggregable shuffle, |users| rows) joined back to the touch
    stream on the user key; per-user weight normalization is a window
    partitioned BY USER (bounded by a user's touch count); the final
    rollup is a |channels|-row groupBy. ``pow(0.5, Δt/h)`` is IEEE
    math both engines reproduce, and credits round at 6 dp.

    Both multi-consumer frames are eagerly ``localCheckpoint``-pinned
    (the layout-advisor lesson — ReusedExchange does NOT deduplicate
    differing subplans): ``conv`` feeds the touch join AND the
    touchless anti-join (|converting users| rows — tiny), and
    ``credited`` feeds the channel rollup AND the touched-user set
    (three narrow columns, MEMORY_AND_DISK). Left lazy, the round-6
    plan audit counted FIVE parquet scans of the events table for this
    one query; pinned, it is two (one per filter leg, each with its
    predicate pushed down — deliberately not fused into one scan: at
    scale the pushed ``event_type`` filters read less than a shared
    full-width scan would).

    Returns ``(channel, credit, n_touches, n_users)`` ordered by
    channel — Σ credit = number of converting users.
    """
    ep = F.col(ts_col).cast("timestamp").cast("double")
    conv = pin(
        events.where(F.col(type_col) == conversion_type)
        .groupBy(user_col)
        .agg(F.min(ep).alias("__tc")),
        checkpoint=True,
    )
    touches = (
        events.where(F.col(type_col) != conversion_type)
        .select(user_col, ep.alias("__t"), F.col(type_col).alias("channel"))
        .join(conv, user_col)
        .where(F.col("__t") < F.col("__tc"))
        .withColumn(
            "__w",
            F.pow(
                F.lit(0.5),
                (F.col("__tc") - F.col("__t")) / F.lit(float(halflife_s)),
            ),
        )
    )
    w_user = Window.partitionBy(user_col)
    credited = pin(touches.withColumn(
        "__credit", F.col("__w") / F.sum("__w").over(w_user)
    ).select(
        user_col, "channel", "__credit"
    ), checkpoint=True)
    per_channel = credited.groupBy("channel").agg(
        F.round(F.sum("__credit"), 6).alias("credit"),
        F.count(F.lit(1)).alias("n_touches"),
        F.countDistinct(user_col).alias("n_users"),
    )
    touchless = (
        conv.join(
            credited.select(user_col).distinct(), user_col, "left_anti"
        )
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > 0)
        .select(
            F.lit(none_label).alias("channel"),
            F.col("__n").cast("double").alias("credit"),
            F.lit(0).cast("long").alias("n_touches"),
            F.col("__n").alias("n_users"),
        )
    )
    return per_channel.unionByName(touchless).orderBy("channel")


def session_paths(
    events: DataFrame,
    gap: str = "28800 seconds",
    max_len: int = 10,
    top_k: int = 20,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Top user journeys: the most common within-session event-type
    paths (first ``max_len`` events of each gap-delimited session,
    joined ``a>b>c``), with how many sessions took each path and the
    average FULL session length behind it. The product-analytics
    complement to :func:`funnel_completion_times` — funnels score a
    path you hypothesize, this surfaces the paths that actually happen.

    Scale shape: ONE ``session_window`` groupBy builds each session's
    ordered type array (state per group = that session's events —
    bounded by session length, same bound the engine's own session
    merging needs), the path string is a map-side
    ``transform``+``slice``+``array_join``, and the count collapses in
    a second partial-aggregable groupBy whose result is |paths| rows;
    top-k is a TakeOrderedAndProject, never a global sort. Ordering
    inside a session breaks ties by ``id_col``, so executor order never
    changes a path.
    """
    per_session = events.groupBy(
        F.session_window(F.col(ts_col), gap).alias("__sw"),
        F.col(user_col),
    ).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(ts_col).alias("t"),
                    F.col(id_col).alias("i"),
                    F.col(type_col).alias("e"),
                )
            )
        ).alias("__evs")
    )
    types = F.transform(F.col("__evs"), lambda s: s["e"])
    path = F.array_join(F.slice(types, 1, max_len), ">")
    return (
        per_session.select(
            path.alias("path"), F.size("__evs").alias("__n")
        )
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.avg("__n").alias("avg_session_len"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(top_k)
    )


def item_associations(
    df: DataFrame,
    basket_col: str = "user_id",
    item_col: str = "event_type",
    min_support: float = 0.01,
) -> DataFrame:
    """Pairwise association rules over (basket, item) data — support,
    directional confidence, and lift for every item pair that co-occurs
    in at least ``min_support`` of the baskets. The market-basket /
    co-occurrence primitive (which behaviors travel together; which
    event predicts which) — emitted once per unordered pair
    (``item_a < item_b``) with both confidence directions.

    Scale shape: dedupe to DISTINCT (basket, item) — one
    partial-aggregable shuffle, state = |baskets|·|distinct items per
    basket| — then a self-equi-join ON basket builds pair counts.
    Per-basket fan-out is C(items-in-basket, 2): bounded by the
    ITEM-VOCABULARY squared, not by basket size in rows — for
    catalog-sized vocabularies use a hot-basket cap upstream the same
    way the shingle index caps document frequency. Supports ride a
    broadcast of the |items|-row margin table; lift needs no extra
    scan.

    Returns ``(item_a, item_b, n_baskets, support, conf_a_to_b,
    conf_b_to_a, lift)``.
    """
    base = pin(
        df.where(F.col(basket_col).isNotNull() & F.col(item_col).isNotNull())
        .select(
            F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
        )
        .distinct()
    )
    # basket total stays LAZY — a 1-row aggregate broadcast-joined in,
    # exactly like the oracle's CROSS JOIN nb; an eager .count() here
    # would execute a full job at plan-construction time
    nb = base.agg(F.count_distinct("__b").cast("double").alias("__nb"))
    margins = base.groupBy("__i").agg(F.count(F.lit(1)).alias("__n"))
    a = base.select(F.col("__b"), F.col("__i").alias("item_a"))
    b = base.select(F.col("__b"), F.col("__i").alias("item_b"))
    pairs = (
        a.join(b, "__b")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    ma = margins.select(
        F.col("__i").alias("item_a"), F.col("__n").alias("__na")
    )
    mb = margins.select(
        F.col("__i").alias("item_b"), F.col("__n").alias("__nb_m")
    )
    out = (
        pairs.join(F.broadcast(ma), "item_a")
        .join(F.broadcast(mb), "item_b")
        .join(F.broadcast(nb))
        .select(
            "item_a",
            "item_b",
            F.col("n_pair").alias("n_baskets"),
            (F.col("n_pair") / F.col("__nb")).alias("support"),
            (F.col("n_pair") / F.col("__na")).alias("conf_a_to_b"),
            (F.col("n_pair") / F.col("__nb_m")).alias("conf_b_to_a"),
            (
                F.col("n_pair") * F.col("__nb")
                / (F.col("__na") * F.col("__nb_m"))
            ).alias("lift"),
        )
    )
    return out.where(F.col("support") >= min_support)


def merge_intervals(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Merge overlapping/touching intervals per key (gaps-and-islands):
    the interval-union primitive behind availability windows, on-call
    coverage, and de-overlapped session spans — :func:`sessionize`
    builds intervals from point events; this flattens intervals that
    already exist.

    Island detection is the classic no-self-join form: an interval
    starts a new island when its start exceeds the running max of all
    prior ends (per key); the island id is the running count of such
    breaks. Two per-key windows, state bounded by each key's interval
    count.

    Returns ``(key, island, start, end, n_merged)`` with islands
    disjoint per key.
    """
    s = F.col(start_col)
    w_prior = (
        Window.partitionBy(key_col)
        .orderBy(start_col, end_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy(key_col)
        .orderBy(start_col, end_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = df.withColumn(
        "__new_island",
        # first interval per key: prior max is NULL -> comparison NULL
        # -> otherwise(0), so islands are 1-based after the +1
        F.when(s > F.max(end_col).over(w_prior), F.lit(1)).otherwise(
            F.lit(0)
        ),
    ).withColumn(
        "island", F.sum("__new_island").over(w_cum) + F.lit(1)
    )
    return (
        marked.groupBy(F.col(key_col).alias("key"), "island")
        .agg(
            F.min(start_col).alias("start"),
            F.max(end_col).alias("end"),
            F.count(F.lit(1)).alias("n_merged"),
        )
    )


def concurrency_profile(
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    bucket: str = "day",
) -> DataFrame:
    """Peak and average concurrency per time bucket from an interval
    table (sessions, jobs, connections): the classic +1/−1 boundary
    sweep — each interval emits a start(+1) and end(−1) event, the
    running sum in time order IS the concurrency, and per-bucket
    max/avg summarize it. The capacity-planning twin of
    :func:`merge_intervals` (which flattens; this counts depth).

    Scale shape: boundaries shuffle once on the bucket; the running sum
    windows are PARTITIONED per bucket (carry-in from earlier buckets
    is added via a bucket-level running total over the |buckets|-row
    frame) — no global row window. Ties resolve starts before ends at
    the same instant (open intervals count as overlapping).

    Returns ``(bucket_start, n_starts, peak_concurrency)``.
    """
    starts = intervals.select(
        F.col(start_col).alias("t"), F.lit(1).alias("d")
    )
    ends = intervals.select(F.col(end_col).alias("t"), F.lit(-1).alias("d"))
    b = F.date_trunc(bucket, F.col("t"))
    ev = (
        starts.unionByName(ends)
        .where(F.col("t").isNotNull())
        .withColumn("bkt", b)
    )
    # within-bucket running sum: starts (+1) sort before ends (-1) at
    # equal t, matching open-interval overlap semantics
    w_in = (
        Window.partitionBy("bkt")
        .orderBy(F.col("t").asc(), F.col("d").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run_in = F.sum("d").over(w_in)
    per_bucket = (
        ev.withColumn("run_in", run_in)
        .groupBy("bkt")
        .agg(
            F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).alias(
                "n_starts"
            ),
            F.max("run_in").alias("peak_in"),
            F.sum("d").alias("net"),
        )
    )
    # carry-in = running net of all EARLIER buckets (|buckets|-row frame)
    w_carry = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        per_bucket.withColumn(
            "carry", F.coalesce(F.sum("net").over(w_carry), F.lit(0))
        )
        .select(
            F.date_format("bkt", "yyyy-MM-dd").alias("bucket_start"),
            F.col("n_starts").cast("long").alias("n_starts"),
            (F.col("peak_in") + F.col("carry"))
            .cast("long")
            .alias("peak_concurrency"),
        )
    )


def funnel_timing(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Time-to-convert distribution per funnel transition: for users who
    completed step i+1, the gap t_{i+1} − t_i under the same greedy
    earliest-completion semantics as :func:`funnel_report` — the
    "WHERE does the funnel stall" companion to the conversion counts.

    One groupBy(user) (shared fold with funnel_completion_times), then
    the per-user gaps melt into one |transitions|-group aggregate:
    converted count, exact type-7 median / p90 seconds, and the mean.
    The shuffle moves one row per user, never raw events twice.

    Returns ``(transition, n_converted, median_s, p90_s, mean_s)``.
    """
    ct = funnel_completion_times(events, steps, user_col, ts_col, type_col)
    entries = []
    for i in range(len(steps) - 1):
        gap = F.col(f"t_{steps[i + 1]}") - F.col(f"t_{steps[i]}")
        entries.append(
            F.when(
                F.col(f"t_{steps[i + 1]}").isNotNull(),
                F.struct(
                    F.lit(f"{steps[i]}->{steps[i + 1]}").alias("transition"),
                    gap.alias("gap_s"),
                ),
            )
        )
    melted = (
        ct.select(F.explode(F.array(*entries)).alias("e"))
        .where(F.col("e").isNotNull())
        .select("e.transition", "e.gap_s")
    )
    return (
        melted.groupBy("transition")
        .agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.round(F.percentile("gap_s", 0.5), 4).alias("median_s"),
            F.round(F.percentile("gap_s", 0.9), 4).alias("p90_s"),
            F.round(F.avg("gap_s"), 4).alias("mean_s"),
        )
        .orderBy("transition")
    )


def ohlc_bars(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    tie_col: str = "event_id",
    bar: str = "hour",
) -> DataFrame:
    """Open/high/low/close bars — the classic market-data downsample,
    equally the right telemetry rollup for any numeric signal: per
    ``bar`` bucket the first and last observed value (ties on the
    timestamp broken deterministically by ``tie_col`` so retries and
    executor order can't flip open/close), the extremes, and the mass.

    One partial-aggregable groupBy — ``min_by``/``max_by`` over a
    (ts, tie) struct compute first/last WITHOUT a sort or window, so
    the plan is a single Exchange on the bar key at any scale; a
    windowed first_value() formulation would instead sort every
    bucket. Null values are excluded (they carry no price).
    """
    t = F.col(ts_col)
    key = F.struct(t, F.col(tie_col))
    return (
        events.where(F.col(value_col).isNotNull())
        .groupBy(F.date_trunc(bar, t).alias("bar_ts"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min_by(F.col(value_col), key).alias("open"),
            F.max(F.col(value_col)).alias("high"),
            F.min(F.col(value_col)).alias("low"),
            F.max_by(F.col(value_col), key).alias("close"),
            F.sum(F.col(value_col)).alias("volume"),
        )
    )


def activity_streaks(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Longest consecutive-day activity streak per user, rolled up to
    a distribution (max_streak -> n_users) — the retention shape
    engagement teams watch, and a pure gaps-and-islands exercise: a
    day is in the same island as the previous iff day − row_number is
    constant.

    Plan: distinct (user, day) first (partial-aggregable, collapses
    the raw event volume BEFORE any window), then ONE window over the
    per-user day sequence — partitioned by user so tasks hold only a
    user's distinct days — then two bounded groupBys. The window never
    sees raw events; at 100 TB the sort is over |users|·|active days|,
    not |events|.
    """
    day = F.to_date(F.col(ts_col)).alias("day")
    per_day = events.select(F.col(user_col), day).distinct()
    w = Window.partitionBy(user_col).orderBy("day")
    islands = per_day.withColumn(
        "island",
        F.datediff(F.col("day"), F.lit("1970-01-01"))
        - F.row_number().over(w),
    )
    streaks = islands.groupBy(user_col, "island").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    per_user = streaks.groupBy(user_col).agg(
        F.max("streak_len").alias("max_streak")
    )
    return (
        per_user.groupBy("max_streak")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("max_streak")
    )


def episode_pairs(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    min_support: int = 1,
) -> DataFrame:
    """Gapped sequential-pattern mining, pair order: for every ordered
    event-type pair (a, b), how many users exhibit "a happens, then —
    any number of events later — b happens". The episode complement of
    the ADJACENT-transition matrix: transitions count consecutive
    steps; episodes tolerate arbitrary gaps, which is what funnel
    hypotheses actually assert.

    "a before b" for a user reduces to min_ts(a) < max_ts(b) — no
    per-event scan, no per-user sequence reconstruction. So the plan
    collapses events to the per-(user, type) time envelope FIRST (one
    partial-aggregable groupBy; |users|·|types| rows), self-joins that
    bounded frame per user (|types|² pairs per user — types is a small
    vocabulary, the join never touches raw events), and aggregates to
    pair support. At 100 TB the only event-volume shuffle is the first
    groupBy.

    Returns ``(type_a, type_b, n_users_both, n_users_ordered,
    support_frac)`` for pairs with ``n_users_ordered >= min_support``.
    """
    env = (
        events.where(
            F.col(type_col).isNotNull() & F.col(user_col).isNotNull()
        )
        .groupBy(user_col, type_col)
        .agg(
            F.min(ts_col).alias("first_ts"), F.max(ts_col).alias("last_ts")
        )
    )
    # the two join branches prune DIFFERENT envelope columns, so
    # ReuseExchange can't kick in — without this persist the raw-event
    # scan + groupBy would run twice
    env = pin(env)
    a = env.select(
        F.col(user_col).alias("__u"),
        F.col(type_col).alias("type_a"),
        F.col("first_ts").alias("a_first"),
    )
    b = env.select(
        F.col(user_col).alias("__u"),
        F.col(type_col).alias("type_b"),
        F.col("last_ts").alias("b_last"),
    )
    pairs = a.join(b, "__u").where(F.col("type_a") != F.col("type_b"))
    out = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_users_both"),
        F.sum(
            (F.col("a_first") < F.col("b_last")).cast("long")
        ).alias("n_users_ordered"),
    )
    return (
        out.where(F.col("n_users_ordered") >= min_support)
        .select(
            "type_a", "type_b", "n_users_both", "n_users_ordered",
            F.round(
                F.col("n_users_ordered") / F.col("n_users_both"), 6
            ).alias("support_frac"),
        )
        .orderBy("type_a", "type_b")
    )


def resample_interpolate(
    events: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    value_col: str = "value",
    step: str = "1 hour",
    unit: str = "hour",
) -> DataFrame:
    """Regular-grid resample with LINEAR interpolation — the sibling of
    :func:`resample_fill` for continuously-varying signals (a sensor
    reading interpolates; a price forward-fills). Interior gaps fill
    with the time-weighted blend of the surrounding observations; edge
    gaps (nothing on one side) carry the nearest observation instead
    of inventing a trend.

    Same scale shape as resample_fill: the grid work happens on the
    O(groups × buckets) aggregate; two symmetric windows (last-before,
    first-after) on the series frame; raw events are scanned once.
    """
    base = resample_fill(
        events, ts_col, group_col, value_col, step=step, unit=unit
    ).select("group_key", "bucket_ts", "n_events", "v_sum")
    w = Window.partitionBy("group_key").orderBy("bucket_ts")
    before = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    after = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    t = F.col("bucket_ts").cast("timestamp").cast("double")
    prev_v = F.last("v_sum", ignorenulls=True).over(before)
    next_v = F.first("v_sum", ignorenulls=True).over(after)
    prev_t = F.last(
        F.when(F.col("v_sum").isNotNull(), t), ignorenulls=True
    ).over(before)
    next_t = F.first(
        F.when(F.col("v_sum").isNotNull(), t), ignorenulls=True
    ).over(after)
    frac = F.when(
        next_t > prev_t, (t - prev_t) / (next_t - prev_t)
    ).otherwise(F.lit(0.0))
    interp = F.when(
        prev_v.isNotNull() & next_v.isNotNull(),
        prev_v + (next_v - prev_v) * frac,
    ).otherwise(F.coalesce(prev_v, next_v))
    return base.select(
        "group_key",
        "bucket_ts",
        "n_events",
        "v_sum",
        interp.alias("v_interp"),
    )
