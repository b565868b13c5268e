"""Streaming profiles — Structured Streaming over event-shaped sources.

The reference is strictly batch (SURVEY §2 "not present"); this is the
extension surface for continuously-arriving data: the same profiling
aggregates expressed as watermarked event-time windows, so a scan report
can be maintained over a stream instead of recomputed.

Design: ``readStream`` → ``withWatermark`` → windowed groupBy aggregation →
sink. All aggregates used are partial-aggregable (streaming state stays
bounded per (window, key)); exact percentiles/distinct are replaced by
their sketch forms (``approx_count_distinct``/``percentile_approx``) since
unbounded exact state is not stream-safe — mirroring ``cfg.approx``
batch mode, and the batch ``events_hourly_rollup`` query is the
oracle-checked equivalent of the windowed aggregation here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from whiterrabbit_spark.cache import pin

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def windowed_profile(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-(window, key) profile aggregates; works on both batch and
    streaming DataFrames (same plan, different sink semantics)."""
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("sum_value"),
            F.avg(value_col).alias("mean_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            F.col(key_col),
            "n_events", "sum_value", "mean_value",
            "min_value", "max_value", "approx_users",
        )
    )


def streaming_frequencies(
    df: DataFrame,
    column: str,
    min_cell_count: int = 5,
    ts_col: str = "ts",
    watermark: str = "2 hours",
    window: str | None = None,
) -> DataFrame:
    """The reference's value-frequency operator (F1, whiteRRabbit.R:329-352)
    maintained over a stream: running counts per value — global (complete
    mode; the full-history frequency table the batch report emits) or per
    event-time window when ``window`` is given (watermarked, append-safe,
    bounded state).

    The ``count >= min_cell_count`` floor and display-set percentage are
    NOT applied in-stream: a filter on a running aggregate would drop
    state it later needs (a value below the floor now may cross it with
    more data), and the percentage denominator is defined over the emitted
    set. Both are finishing touches on the sink table —
    ``finish_frequency_table`` applies them batch-side, reusing the exact
    reference semantics (threshold → top-K → displayed-set denominator).
    """
    src = df
    keys = [F.col(column).alias("value")]
    if df.isStreaming and window is not None:
        src = df.withWatermark(ts_col, watermark)
        keys = [F.window(F.col(ts_col), window).alias("w")] + keys
    cond = F.col(column).isNotNull() & (F.col(column).cast("string") != "")
    out = src.where(cond).groupBy(*keys).agg(F.count(F.lit(1)).alias("count"))
    if df.isStreaming and window is not None:
        out = out.select(
            F.col("w.start").alias("window_start"), "value", "count"
        )
    return out


def finish_frequency_table(
    counts: DataFrame,
    min_cell_count: int = 5,
    max_distinct_values: int = 1_000,
) -> DataFrame:
    """Batch finishing pass over a (value, count) sink table: the
    reference's threshold → top-K (count DESC, value ASC) → percentage
    over the DISPLAYED set (the F1 denominator quirk, W:344)."""
    from pyspark.sql import Window

    kept = counts.where(F.col("count") >= min_cell_count)
    # sort().limit() = distributed TakeOrderedAndProject (per-partition
    # top-K, merged on the driver) — the global row_number window it
    # replaces funneled the whole post-threshold value table through
    # one reducer (VERDICT r6 #5); the kept SET is identical.
    topk = kept.orderBy(
        F.col("count").desc(), F.col("value").asc()
    ).limit(max_distinct_values)
    return topk.withColumn(
        "percentage",
        F.col("count") / F.sum("count").over(Window.partitionBy()),
    )


def enrich_stream(
    stream: DataFrame, dim: DataFrame, on: str | list[str], how: str = "left"
) -> DataFrame:
    """Stream-static dimension enrichment: join a stream against a batch
    dimension table. The static side is broadcast — each micro-batch joins
    map-side with no stream-side shuffle and no join state (unlike
    stream-stream joins, nothing is buffered; the dimension is re-resolved
    per micro-batch, so dimension updates between batches are picked up).
    The standard shape for attaching user/tenant/product attributes to an
    event stream before windowed aggregation."""
    return stream.join(F.broadcast(dim), on=on, how=how)


def stream_events_from_parquet(
    spark: SparkSession,
    directory: str,
    glob: str = "events.parquet",
    schema: T.StructType | None = None,
) -> DataFrame:
    """File-source stream over parquet files in ``directory`` matching
    ``glob`` (file streams require a directory base path). File streams
    require a declared schema, and the on-disk ``ts`` representation has
    two valid generations (TIMESTAMP(NANOS) read as LONG under the legacy
    conf, vs plain TIMESTAMP micros) — so the schema is taken from a batch
    footer read of the same files, and the nanos→micros truncation is
    applied only when ``ts`` actually arrives as bigint."""
    from pyspark.errors.exceptions.captured import AnalysisException

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if schema is None:
        try:
            schema = (
                spark.read.option("pathGlobFilter", glob)
                .parquet(directory)
                .schema
            )
        except AnalysisException:
            # No matching files yet — the normal start state for a file
            # stream. Fall back to the driver's documented events schema
            # (ts as watermark-ready TIMESTAMP) so the stream can be
            # defined before the first producer write lands.
            # LIMITATION (deliberate): a pre-creation stream supports only
            # the TIMESTAMP micros/ntz generations. No single declared
            # schema can also admit the legacy nanos-as-LONG generation —
            # declaring ts TIMESTAMP mismatches a later INT64(NANOS) file,
            # and declaring it LONG would equally mismatch a later
            # TIMESTAMP(MICROS) file. Producers still writing the legacy
            # nanos layout must land one file first (footer sniffing then
            # picks the right branch below) or pass ``schema=`` explicitly
            # with ts as LongType.
            schema = T.StructType(
                [
                    T.StructField("event_id", T.LongType()),
                    T.StructField("ts", T.TimestampType()),
                    T.StructField("user_id", T.LongType()),
                    T.StructField("event_type", T.StringType()),
                    T.StructField("value", T.DoubleType()),
                    T.StructField("props", T.StringType()),
                ]
            )
    df = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .parquet(directory)
    )
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_type == "timestamp_ntz":
        # Watermarks require TIMESTAMP (with local tz); the session tz is
        # pinned to UTC so this cast is value-preserving.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Executed micro-batch plans captured by run_stream_to_memory, newest
# last: (query_name, explainInternal string). The streaming plan audit
# (tools/stream_plan_audit.py — VERDICT r6 #6) reads these to check
# state-store placement the same way plan_audit.py checks batch plans;
# capture is best-effort and costs one JVM string per drained stream.
_LAST_STREAM_PLANS: list[tuple[str, str]] = []


def run_stream_to_memory(
    profiled: DataFrame, query_name: str, mode: str = "append"
) -> None:
    """Drain a (bounded) file stream into an in-memory table with
    availableNow, blocking until complete — the test/driver harness path."""
    q = (
        profiled.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        _LAST_STREAM_PLANS.append((query_name, q._jsq.explainInternal(True)))
    except Exception:  # plan capture must never fail the drain
        pass


def sessionize(
    events: DataFrame,
    gap: str = "8 hours",
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based sessionization via Spark's native ``session_window`` —
    one shuffle on the grouping key, window merging handled by the engine
    (batch) or the state store (streaming). A session is a maximal run of a
    user's events where consecutive gaps are ≤ ``gap``.

    session_start/end are the observed min/max event times (not the
    gap-padded window end), so the batch form is reproducible by the
    lag + cumulative-sum ANSI-SQL construction the oracle uses.
    Exact ``count_distinct`` is illegal in streaming aggregations, so the
    distinct-type count switches to its sketch form on streams.
    """
    src = events
    streaming = events.isStreaming
    if streaming:
        src = events.withWatermark(ts_col, watermark)
    ndist = (
        F.approx_count_distinct("event_type")
        if streaming
        else F.count_distinct("event_type")
    )
    return (
        src.groupBy(
            F.session_window(F.col(ts_col), gap).alias("sw"), F.col(user_col)
        )
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("sum_value"),
            ndist.alias("n_event_types"),
        )
        .select(
            user_col, "session_start", "session_end",
            "n_events", "sum_value", "n_event_types",
        )
    )


SESSION_STATE_SCHEMA = "start double, last double, n long, sv double"
SESSION_OUT_SCHEMA = (
    "user_id long, session_start double, session_end double, "
    "n_events long, sum_value double"
)


def sessionize_stateful(stream: DataFrame, gap_seconds: float) -> DataFrame:
    """Custom stateful sessionization over a stream:
    ``applyInPandasWithState`` keeps one open session per user (constant
    state per key) and emits a session the moment a gap closes it. The
    still-open tail session stays in state — so output = all *closed*
    sessions; tests reconcile against the batch sessionizer minus each
    user's final session.

    This is the template for stateful operators Spark's built-ins can't
    express (the built-in ``session_window`` covers this one — kept as the
    production path; this demonstrates the Arrow-batched state plumbing).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        rows = pd.concat(list(pdfs)).sort_values("ts")
        if state.exists:
            start, last, n, sv = state.get
        else:
            start, last, n, sv = None, None, 0, 0.0
        out = []
        for ts, v in zip(rows["ts"], rows["value"]):
            t = ts.timestamp()
            if last is None:
                start, last, n, sv = t, t, 1, float(v)
            elif t - last > gap_seconds:
                out.append((key[0], start, last, n, sv))
                start, last, n, sv = t, t, 1, float(v)
            else:
                last, n, sv = t, n + 1, sv + float(v)
        state.update((start, last, n, sv))
        yield pd.DataFrame(
            out,
            columns=[
                "user_id", "session_start", "session_end",
                "n_events", "sum_value",
            ],
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        fn,
        SESSION_OUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def run_stream_to_parquet(
    profiled: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    mode: str = "append",
) -> None:
    """Drain a (bounded) stream to parquet with checkpointing — the
    production sink shape: exactly-once via the checkpoint's offset/commit
    log, restartable, partitioned output. availableNow processes the
    backlog and terminates (a deployment would omit the trigger and run
    continuously)."""
    q = (
        profiled.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dedup_stream(
    events: DataFrame,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact deduplication: first occurrence of each key wins;
    the state store keeps one entry per key seen, and the watermark bounds
    it — keys older than the watermark are evicted, so duplicate arrivals
    within the lateness horizon dedup and state stays finite (the
    unbounded-state hazard of naive stream dedup). Batch frames get the
    plain dropDuplicates."""
    keys = key_cols or ["event_id"]
    if not events.isStreaming:
        return events.dropDuplicates(keys)
    return events.withWatermark(ts_col, watermark).dropDuplicates(keys + [ts_col])


def dedup_stream_within_watermark(
    events: DataFrame,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming dedup where duplicate arrivals carry DIFFERENT event
    times (retries, at-least-once replays with fresh timestamps) —
    ``dedup_stream`` keys on (key, ts) and so keeps such repeats.
    ``dropDuplicatesWithinWatermark`` keys on the content key alone and
    collapses any repeat that lands within the watermark delay of the
    first arrival; state per key is evicted once the watermark passes it,
    so state stays bounded without requiring exact-timestamp equality.

    Batch frames fall back to plain ``dropDuplicates`` on the keys (batch
    has no lateness horizon — all repeats collapse).
    """
    keys = key_cols or ["event_id"]
    if not events.isStreaming:
        return events.dropDuplicates(keys)
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_to_curated(
    stream: DataFrame,
    path: str,
    partition_cols: list[str],
    checkpoint: str,
    max_records_per_file: int | None = None,
    query_name: str = "curated_sink",
    available_now: bool = True,
):
    """Streaming ingestion into the curated-corpus layout: a
    ``foreachBatch`` sink where every micro-batch lands through the batch
    pipeline's small-file-controlled writer (``sink.write_curated`` — one
    shared implementation, including the ``max_records_per_file`` dial).

    Exactly-once with plain parquet: Structured Streaming replays a
    failed batch under the SAME batch_id, and ``_batch_id`` is a
    PARTITION column written with dynamic partition overwrite — a replay
    rewrites exactly the ``.../_batch_id=N`` partitions it wrote before,
    so duplicates cannot accumulate (a blind append with ``_batch_id`` as
    a data column would only be at-least-once). Returns the started
    query; the default ``available_now`` trigger drains the source and
    stops — the backfill/test mode — while ``available_now=False`` runs
    continuously.
    """
    from whiterrabbit_spark.extensions.sink import write_curated

    def _land(batch_df: DataFrame, batch_id: int) -> None:
        write_curated(
            batch_df.withColumn("_batch_id", F.lit(batch_id)),
            path,
            partition_cols + ["_batch_id"],
            max_records_per_file=max_records_per_file,
            mode="overwrite",
            options={"partitionOverwriteMode": "dynamic"},
        )

    writer = (
        stream.writeStream.foreachBatch(_land)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_stream_attribution_join(
    left: DataFrame,
    right: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Stream-stream INNER join with a time bound — the attribution
    pattern (each ``right_type`` event joined to every same-user
    ``left_type`` event in the preceding ``within`` interval).

    On streams both sides carry watermarks and the time-range predicate,
    which is what lets Spark BOUND THE JOIN STATE: a buffered left row
    can be evicted once the right watermark passes ``left.ts + within``
    (without the range condition the state store grows forever — the
    stream-stream join failure mode). On batch frames the identical plan
    is a plain equi-join + range filter, so stream and batch converge on
    a bounded source — correctness is checked against that batch form.

    One shuffle on the join key per side; output keys: (user, left event
    id, right event id).
    """
    lt, rt = F.col(f"l_{ts_col}"), F.col(f"r_{ts_col}")
    l = left.where(F.col("event_type") == left_type).select(
        F.col(user_col).alias("user_id"),
        F.col("event_id").alias("l_event_id"),
        F.col(ts_col).alias(f"l_{ts_col}"),
        F.col("value").alias("l_value"),
    )
    r = right.where(F.col("event_type") == right_type).select(
        F.col(user_col).alias("r_user_id"),
        F.col("event_id").alias("r_event_id"),
        F.col(ts_col).alias(f"r_{ts_col}"),
        F.col("value").alias("r_value"),
    )
    if left.isStreaming:
        l = l.withWatermark(f"l_{ts_col}", watermark)
    if right.isStreaming:
        r = r.withWatermark(f"r_{ts_col}", watermark)
    cond = (
        (F.col("user_id") == F.col("r_user_id"))
        & (rt >= lt)
        & (rt <= lt + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, "inner").select(
        "user_id", "l_event_id", "r_event_id",
        F.col(f"l_{ts_col}").alias("l_ts"),
        F.col(f"r_{ts_col}").alias("r_ts"),
        "l_value", "r_value",
    )


def streaming_value_histogram(
    stream: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 10,
) -> DataFrame:
    """Fixed-edge bucket counts over a stream — the monitoring histogram.
    Edges are pinned constants (the reference window's range), so the
    running state is EXACTLY ``bins`` rows in complete mode regardless of
    stream volume; out-of-range values clamp into the edge bins, keeping
    emerging drift mass visible (same convention as ``psi_drift``)."""
    v = F.col(value_col).cast("double")
    width = (hi - lo) / bins if hi > lo else 1.0
    bucket = F.least(
        F.greatest(F.floor((v - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(bins - 1),
    ).cast("int")
    return (
        stream.where(v.isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def finish_psi(
    cur_hist: DataFrame, ref_hist: DataFrame, eps: float = 1e-6
) -> DataFrame:
    """PSI from two ``(bucket, n)`` histograms (the streamed current
    window vs a pinned reference): full-outer on bucket over O(bins)
    rows, proportions floored at ``eps`` (psi_drift's guard), one output
    row ``(psi, n_ref, n_cur)``. Batch-side finishing pass — the heavy
    counting already happened in the stream's bounded state."""
    c = cur_hist.select("bucket", F.col("n").alias("cn"))
    r = ref_hist.select("bucket", F.col("n").alias("rn"))
    j = c.join(r, "bucket", "full_outer").select(
        F.coalesce(F.col("cn"), F.lit(0)).alias("cn"),
        F.coalesce(F.col("rn"), F.lit(0)).alias("rn"),
    )
    w = Window.partitionBy()
    p = F.greatest(F.col("rn") / F.sum("rn").over(w), F.lit(eps))
    q = F.greatest(F.col("cn") / F.sum("cn").over(w), F.lit(eps))
    return (
        j.withColumn("__term", (p - q) * F.log(p / q))
        .agg(
            F.sum("__term").alias("psi"),
            F.sum("rn").alias("n_ref"),
            F.sum("cn").alias("n_cur"),
        )
    )


def running_zscore(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    min_history: int = 10,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Per-key running z-score anomaly detection (batch form): each
    event is scored against the mean/stddev of its key's STRICTLY
    PRIOR history — z = (x − mean_prev) / sd_prev — so the score an
    online monitor would have emitted at that moment, with no lookahead
    leak. Events with fewer than ``min_history`` predecessors are
    unscored (NULL z, never flagged).

    The per-key window is bounded by that key's event count — the
    standard keyed-stream shape (same bound the stateful twin
    :func:`anomaly_stream` keeps as O(1) Welford state). Ordering ties
    break on ``id_col`` so scores are executor-order-proof.

    Returns the input keys plus ``(n_prior, z, is_anomaly)``.
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    v = F.col(value_col).cast("double")
    n_prior = F.count(v).over(w)
    mean_prev = F.avg(v).over(w)
    sd_prev = F.stddev_samp(v).over(w)
    z = F.when(
        (n_prior >= min_history) & (sd_prev > 0), (v - mean_prev) / sd_prev
    )
    return events.select(
        F.col(id_col),
        F.col(key_col),
        F.col(ts_col),
        v.alias(value_col),
        n_prior.alias("n_prior"),
        z.alias("z"),
        F.coalesce(F.abs(z) > z_threshold, F.lit(False)).alias("is_anomaly"),
    )


def anomaly_stream(
    stream: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    min_history: int = 10,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Streaming twin of :func:`running_zscore` with CONSTANT per-key
    state: Welford's (n, mean, M2) updates once per event, so the state
    store holds three doubles per key no matter how long the stream
    runs — the same numbers the batch window derives from full history,
    which is what the batch-equivalence test pins (across micro-batches
    — the state-resume path is exercised, not just one batch). In-order
    delivery per key is assumed within the stream (same caveat as
    ``funnel_stateful``/``sessionize_stateful``).

    NULL values score ``(z=NULL, is_anomaly=false)`` and do NOT touch
    the state — one NaN folded into Welford's mean would poison the
    key forever, and the batch twin's ``count/avg/stddev`` skip NULLs
    the same way. Output carries (id, key, n_prior, z, is_anomaly) —
    a score stream keyed back to the event, not a row echo; join on
    ``id_col`` to recover ts/value.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    id_t = stream.schema[id_col].dataType.simpleString()
    key_t = stream.schema[key_col].dataType.simpleString()

    def fn(key, pdfs, state: GroupState):
        import math as m

        import pandas as pd

        rows = pd.concat(list(pdfs)).sort_values([ts_col, id_col])
        if state.exists:
            n, mean, m2 = state.get
        else:
            n, mean, m2 = 0, 0.0, 0.0
        out = []
        for rid, x in zip(rows[id_col], rows[value_col]):
            if pd.isna(x):
                out.append((rid, key[0], n, None, False))
                continue
            x = float(x)
            sd_prev = m.sqrt(m2 / (n - 1)) if n > 1 else 0.0
            if n >= min_history and sd_prev > 0:
                z = (x - mean) / sd_prev
            else:
                z = None
            out.append(
                (rid, key[0], n, z,
                 z is not None and abs(z) > z_threshold)
            )
            n += 1
            delta = x - mean
            mean += delta / n
            m2 += delta * (x - mean)
        state.update((n, mean, m2))
        yield pd.DataFrame(
            out, columns=[id_col, key_col, "n_prior", "z", "is_anomaly"]
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        fn,
        f"{id_col} {id_t}, {key_col} {key_t}, n_prior long, z double,"
        " is_anomaly boolean",
        "n long, mean double, m2 double",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_user_days(
    src: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Running (day, user) presence counts — the EXACT streaming path to
    daily active users. Sliding/daily distinct does not stream directly
    (countDistinct is unsupported in streaming aggs), and chaining
    dropDuplicates into a windowed agg needs append-mode watermark
    flushes that strand the final window on a bounded source; this form
    is ONE stateful complete-mode aggregation whose state is the
    distinct (day, user) pair set — bounded by presence, not traffic
    (each pair holds one count row regardless of event volume). A batch
    finishing pass (:func:`finish_daily_active`) collapses it to the
    daily-active series, matching the batch oracle exactly once the
    source drains. At true scale swap in the approximate twin
    (``approx_count_distinct`` per day: O(days) HLL state) and keep this
    as its verifier.
    """
    day = F.date_trunc("day", F.col(ts_col))
    return (
        src.where(F.col(ts_col).isNotNull() & F.col(user_col).isNotNull())
        .groupBy(day.alias("day"), F.col(user_col).alias("user"))
        .count()
    )


def finish_daily_active(user_days: DataFrame) -> DataFrame:
    """Batch finishing pass over the drained (day, user) state: daily
    active users + events per active user."""
    return user_days.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_active_users"),
        F.sum("count").alias("n_events"),
    )


def sliding_rate(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window event rate — the overlapping-window family member
    (windowed_profile is tumbling, sessionize is gap-based): each event
    lands in window/slide windows, giving the smooth rate monitors
    alert on. Works on batch and streams (same plan); streaming state
    is one row per OPEN window — window/slide per key-less stream.
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    return (
        src.where(F.col(ts_col).isNotNull())
        .groupBy(F.window(F.col(ts_col), window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )


def lateness_profile(
    events: DataFrame,
    arrival_col: str,
    ts_col: str,
    n_partitions: int | None = None,
) -> DataFrame:
    """Watermark advisor: the distribution of event-time LATENESS in
    arrival order — lateness_i = (running max event time over arrivals
    ≤ i) − t_i. THE number that picks a Structured Streaming watermark:
    ``withWatermark(p99_lateness)`` keeps 99 % of late data while
    bounding state; guessing it wrong either drops events or leaks
    state. ``arrival_col`` is the ingestion order (log offset,
    monotonically-assigned id).

    The running max is a distributed prefix-max (the ``pack_shards``
    scheme: range-partition by arrival, per-partition local running
    max, O(partitions) driver offsets broadcast back) — never a global
    single-partition window. Lateness in exact integer microseconds;
    percentiles exact type-7.

    Returns one row: ``(n_events, n_late, late_fraction,
    p50_lateness_s, p95_lateness_s, p99_lateness_s, max_lateness_s)``.
    """
    spark = events.sparkSession
    n = n_partitions or spark.sparkContext.defaultParallelism
    base = events.where(
        F.col(arrival_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(arrival_col).alias("__a"),
        F.unix_micros(F.col(ts_col)).alias("__t"),
    )
    ranged = base.repartitionByRange(n, F.col("__a")).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy("__a")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = pin(ranged.withColumn(
        "__lmax", F.max("__t").over(w)
    ), checkpoint=True)
    tops = {
        r["__pid"]: r["m"]
        for r in local.groupBy("__pid").agg(F.max("__t").alias("m")).collect()
    }
    offsets, run = {}, None
    for pid in sorted(tops):
        offsets[pid] = run
        run = tops[pid] if run is None else max(run, tops[pid])
    off_expr = F.element_at(
        F.create_map(
            *[
                F.lit(x)
                for pid, v in sorted(offsets.items())
                for x in (pid, -1 if v is None else v)
            ]
        ),
        F.col("__pid"),
    )
    gmax = F.greatest(F.col("__lmax"), off_expr)
    late_us = F.greatest(F.lit(0), gmax - F.col("__t"))
    scored = local.withColumn("__late", late_us)
    p = lambda q: F.round(F.percentile(F.col("__late"), q) / 1e6, 6)
    return scored.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("__late") > 0).cast("long")).alias("n_late"),
        F.round(
            F.sum((F.col("__late") > 0).cast("long"))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("late_fraction"),
        p(0.5).alias("p50_lateness_s"),
        p(0.95).alias("p95_lateness_s"),
        p(0.99).alias("p99_lateness_s"),
        F.round(F.max("__late") / 1e6, 6).alias("max_lateness_s"),
    )


def running_stats_tws(
    stream: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    force_legacy: bool = False,
) -> DataFrame:
    """Per-key running count + exact-cents sum through Spark 4's
    ``transformWithStateInPandas`` — the successor API to
    ``applyInPandasWithState``: typed state handles (ValueState here;
    List/Map state and event/processing-time timers on the same
    handle), state TTL support, and Arrow-batched user code. This is
    the repo's reference implementation of the NEW stateful surface;
    the sessionizer/funnel on the legacy API stay as the migration
    comparison.

    State per key is one (count, sum_cents) pair — O(1), mergeable by
    addition; sums accumulate in integer cents so the drained stream
    equals the batch aggregate bit-for-bit regardless of micro-batch
    arrival order. Update mode: each micro-batch emits the key's
    refreshed totals.

    Environment gate → transparent fallback (VERDICT r3 #3): the
    transformWithState state-server protocol needs ``google.protobuf``
    on the PYTHON side (the JVM side ships with Spark); without it the
    stream would crash deep inside the driver worker. Where protobuf is
    absent, the SAME state machine runs on the legacy
    ``applyInPandasWithState`` surface (protobuf-free wire protocol) —
    identical output schema, identical exact-cents semantics, so the
    drained-state == batch parity holds on either path. Pass
    ``force_legacy=True`` to exercise the fallback explicitly.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401

        has_protobuf = True
    except ImportError:  # pragma: no cover - env-dependent branch
        has_protobuf = False

    out_schema = f"{key_col} LONG, n_events BIGINT, sum_cents BIGINT"

    def _fold(n: int, cents: int, pdf):
        # per-VALUE cents rounding (then an integer sum), matching
        # the batch definition sum(round(v*100)) — and HALF_UP like
        # Spark's F.round, NOT pandas' banker's half-to-even (a
        # half-cent value like 0.125 would otherwise diverge);
        # sign-aware so negatives round away from zero like Spark
        import numpy as np

        vals = pdf[value_col].dropna()
        scaled = vals.mul(100.0).to_numpy()
        cents += int(
            (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5))
            .astype("int64").sum()
        )
        return n + int(len(pdf)), cents

    if not (has_protobuf and not force_legacy):
        from pyspark.sql.streaming.state import GroupStateTimeout

        def update(key, pdfs, state):
            import pandas as pd

            n, cents = state.get if state.exists else (0, 0)
            for pdf in pdfs:
                n, cents = _fold(n, cents, pdf)
            state.update((n, cents))
            yield pd.DataFrame(
                {key_col: [key[0]], "n_events": [n], "sum_cents": [cents]}
            )

        return stream.groupBy(key_col).applyInPandasWithState(
            update,
            out_schema,
            "n BIGINT, c BIGINT",
            "Update",
            GroupStateTimeout.NoTimeout,
        )

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n BIGINT, c BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            if self._agg.exists():
                n, cents = self._agg.get()
            else:
                n, cents = 0, 0
            for pdf in rows:
                n, cents = _fold(n, cents, pdf)
            self._agg.update((n, cents))
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n_events": [n],
                    "sum_cents": [cents],
                }
            )

        def close(self) -> None:
            pass

    return stream.groupBy(key_col).transformWithStateInPandas(
        RunningStats(),
        out_schema,
        "Update",
        "None",
    )


def windowed_topk_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 day",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-safe per-(event-time window, key) running counts — the
    state layer of a streaming leaderboard. Ranking does NOT happen
    in-stream: a row_number over a running aggregate is not an
    incremental operator (a late event can reorder a whole window), so
    state here is the rank-free (window, key) count — bounded,
    partial-aggregable, watermark-evictable — and
    :func:`finish_topk` applies the rank as a batch finishing pass on
    the sink table, exactly like ``finish_frequency_table`` does for
    the F1 report."""
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    return (
        src.where(F.col(key_col).isNotNull())
        .groupBy(
            F.window(F.col(ts_col), window).alias("w"), F.col(key_col)
        )
        .agg(F.count(F.lit(1)).alias("count"))
        .select(F.col("w.start").alias("window_start"), key_col, "count")
    )


def finish_topk(counts: DataFrame, key_col: str, k: int = 3) -> DataFrame:
    """Batch finishing pass: rank each window's keys (count DESC, key
    ASC — deterministic under ties) and keep the top ``k``. The window
    partitions are tiny (|keys| rows each), so the sort never sees raw
    events."""
    w = Window.partitionBy("window_start").orderBy(
        F.col("count").desc(), F.col(key_col).asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )
