"""Snapshot diff profiling: what changed between two versions of a table.

The reference is a point-in-time profiler (whiteRRabbit.R profiles one
folder); production pipelines re-profile every snapshot and need the
DELTA: rows added / removed / modified, and which columns drive the
modifications. ``table_diff`` computes that in one key-equi-join:

* added    — key present only in the new snapshot
* removed  — key present only in the old snapshot
* changed  — key in both, any compared column differs (NULL-safe)
* unchanged — key in both, all compared columns equal

Scale shape: ONE full-outer shuffle join on the key (both sides
partition by key — at 100 TB this is the minimum data movement any
row-level diff needs), then a map-side flat aggregation to O(columns)
output rows. Column comparisons use null-safe equality (``<=>``), so
NULL→value and value→NULL both count as changes. No window functions,
no driver-side data.

``table_diff_summary`` returns one row per metric; per-column change
counts ride along as ``col_changed:<name>`` metrics so the output stays
a tall (metric, n) frame with a stable schema for any input width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from whiterrabbit_spark.session import local_frame


def table_diff_summary(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    compare_cols: list[str] | None = None,
    check_unique_keys: bool = False,
) -> DataFrame:
    """(metric, n) frame: added / removed / changed / unchanged row counts
    plus ``col_changed:<c>`` per compared column (counted over rows
    present in BOTH snapshots).

    ``key_col`` must be UNIQUE within each snapshot: a key duplicated m×n
    times across the two sides fans out in the full-outer join and every
    metric double-counts it. Pass ``check_unique_keys=True`` to pay one
    extra aggregation per side and fail fast with the offending counts
    instead — worth it exactly when diffing the kind of dirty snapshot
    where duplicated keys are plausible."""
    if check_unique_keys:
        for side, frame in (("old", old), ("new", new)):
            r = frame.agg(
                F.count(key_col).alias("n"),
                F.count_distinct(key_col).alias("d"),
            ).collect()[0]
            if r["n"] != r["d"]:
                raise ValueError(
                    f"table_diff_summary: {side} snapshot has duplicate "
                    f"{key_col!r} values ({r['n']} rows, {r['d']} distinct) — "
                    "metrics would double-count; dedup the snapshot first"
                )
    if compare_cols is None:
        compare_cols = [
            c for c in new.columns if c != key_col and c in set(old.columns)
        ]

    o = old.select(
        F.col(key_col).alias("__k"),
        *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
        F.lit(1).alias("__in_old"),
    )
    n = new.select(
        F.col(key_col).alias("__k"),
        *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
        F.lit(1).alias("__in_new"),
    )
    joined = o.join(n, "__k", "full_outer")

    in_both = F.col("__in_old").isNotNull() & F.col("__in_new").isNotNull()
    col_diff = {
        c: in_both & ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        for c in compare_cols
    }
    any_diff = None
    for e in col_diff.values():
        any_diff = e if any_diff is None else (any_diff | e)
    if any_diff is None:  # key-only table
        any_diff = F.lit(False)

    aggs = [
        F.count(F.when(F.col("__in_old").isNull(), 1)).alias("added"),
        F.count(F.when(F.col("__in_new").isNull(), 1)).alias("removed"),
        F.count(F.when(any_diff, 1)).alias("changed"),
        F.count(F.when(in_both & ~any_diff, 1)).alias("unchanged"),
    ] + [
        F.count(F.when(e, 1)).alias(f"col_changed:{c}") for c, e in col_diff.items()
    ]
    wide = joined.agg(*aggs)

    # melt the single wide row to the tall stable-schema frame
    metrics = [f.name for f in wide.schema.fields]
    return wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("metric"), F.col(m).cast("long").alias("n")
                    )
                    for m in metrics
                ]
            )
        ).alias("e")
    ).select("e.metric", "e.n")


def scd2_history(
    snapshots: DataFrame,
    key_col: str,
    snap_col: str,
    tracked_cols: list[str],
) -> DataFrame:
    """Slowly-changing-dimension type-2 history from stacked snapshots:
    given one row per (snapshot, key) — the usual daily dimension dump —
    collapse consecutive identical attribute states into validity
    intervals ``(key, *tracked, valid_from, valid_to, is_current)``.
    ``valid_to`` is the first snapshot where the state no longer holds
    (attribute change OR the key absent from that snapshot — deletions
    close intervals); NULL valid_to marks states alive in the latest
    snapshot. A key that disappears and later reappears gets separate
    intervals even if the attributes match (the gap is real history).

    Scale shape: one window per key ordered by snapshot — partition size
    = snapshots per key (time-bound, not data-bound) — plus a groupBy
    to one row per run. The snapshot calendar (distinct snapshot dates)
    is O(snapshots); its prev/next lookups broadcast-join everywhere
    they're needed. No global window, no driver-side data beyond the
    calendar.
    """
    # the calendar is O(snapshots) BY DEFINITION (a handful of dump
    # dates) — collect it once and rebuild as a literal frame, so the
    # prev/next lookups don't re-scan the snapshot stack at every use
    # site (audited: the derived-calendar form re-read the stack 3x)
    snap_field = snapshots.schema[snap_col]
    dates = sorted(
        r[0]
        for r in snapshots.select(F.col(snap_col).alias("__snap"))
        .distinct()
        .collect()
    )
    cal = local_frame(
        snapshots.sparkSession,
        [
            (d, dates[i - 1] if i > 0 else None,
             dates[i + 1] if i + 1 < len(dates) else None)
            for i, d in enumerate(dates)
        ],
        T.StructType([
            T.StructField("__snap", snap_field.dataType),
            T.StructField("__prev_snap", snap_field.dataType),
            T.StructField("__next_snap", snap_field.dataType),
        ]),
    )
    wk = Window.partitionBy(key_col).orderBy(snap_col)
    state = F.struct(*[F.col(c) for c in tracked_cols])
    marked = (
        snapshots.join(
            F.broadcast(cal), F.col(snap_col) == F.col("__snap")
        )
        .withColumn("__state", state)
        .withColumn(
            "__chg",
            F.when(F.lag(snap_col).over(wk).isNull(), 1)  # first sighting
            .when(  # gap: key missing from the previous snapshot
                ~F.lag(F.col(snap_col)).over(wk).eqNullSafe(
                    F.col("__prev_snap")
                ),
                1,
            )
            .when(  # attribute change (NULL-safe struct compare)
                ~F.col("__state").eqNullSafe(F.lag("__state").over(wk)), 1
            )
            .otherwise(0),
        )
        .withColumn(
            "__run",
            F.sum("__chg").over(
                wk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    runs = marked.groupBy(key_col, "__run", *tracked_cols).agg(
        F.min(snap_col).alias("valid_from"),
        F.max(snap_col).alias("__last_seen"),
    )
    return (
        runs.join(
            F.broadcast(cal), F.col("__last_seen") == F.col("__snap")
        )
        .select(
            key_col,
            *tracked_cols,
            "valid_from",
            F.col("__next_snap").alias("valid_to"),
            F.col("__next_snap").isNull().alias("is_current"),
        )
    )
