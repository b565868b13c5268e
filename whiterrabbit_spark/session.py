"""SparkSession builder tuned for the profiling workload.

Local-mode knobs follow the public Spark docs: shuffle partitions sized to
cores (not the 200 default), AQE on for runtime coalescing/skew handling,
UTC session timezone (the reference parses dates tz="UTC",
whiteRRabbit.R:181), Arrow enabled for the few pandas hops.

Shuffles start wide (``initialPartitionNum``, at least 256) and AQE
coalesces them down, cached plans included: otherwise every
``cache.pin`` of a shuffled frame holds 256+ partitions and every read
of it runs 256+ tasks, however few rows it holds.

Rule: rows built on the driver enter Spark only through
``local_frame`` (a scan's summary and overview, the operators' small
result tables, lookup and key frames, empty results). Its plan is a
``LocalRelation``: collecting it runs no job, and a join reads it
without a Python worker, where a ``createDataFrame(list)`` frame is a
Python RDD whose every read waits on one. The one exception is a row
count bounded by the data rather than by a constant: the driver
union-find labels of ``dedup.connected_components`` (one row per node,
up to twice ``driver_threshold``) stay a Python RDD, so the labels are
not held in the plan. ``tests/test_docs_sync.py`` enforces the rule
and lists the exception.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def get_spark(
    app_name: str = "whiterrabbit-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Big shuffles start wide and AQE coalesces DOWN — the static
        # shuffle.partitions alone capped a 500M-row LSH scoring join
        # at 64 reducers (~8 GB per task, Java-heap OOM in SCALE_r7);
        # small queries still end at few partitions post-coalesce.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(shuffle_partitions * 8, 256)),
        )
        # Cached plans coalesce too. Left false (Spark's default), a
        # cached plan keeps the fan-out above: a pinned 20-row degree
        # aggregate was stored as 256 partitions and each read of it ran
        # 256 tasks. The cost of true: a reader can no longer reuse the
        # cached plan's hash partitioning, so it may shuffle once more.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # A single mid-size file otherwise splits into max(bytes/128MB,
        # defaultParallelism/openCost) tasks — often fewer than cores; on a
        # cluster the same floor keeps small folder scans from bottling on
        # a handful of executors.
        .config("spark.sql.files.minPartitionNum", str(cpus))
        # Parquet reads via DSv2 (dropped from useV1SourceList) so that
        # aggregate pushdown actually engages — under the v1 default the
        # conf below is a silent no-op. Bare count()/min/max (e.g. the
        # auto-approx row-count probe) then resolve from footer metadata
        # (plan shows PushedAggregation); Spark falls back to a normal
        # scan whenever pushdown doesn't apply (filters, nested fields).
        # File WRITES are unaffected (always the v1 writer path).
        .config("spark.sql.sources.useV1SourceList", "avro,csv,json,kafka,orc,text")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # UI off by default (port churn + memory in test runs); the 50M
        # scan smoke flips it on via env to read per-stage inputBytes
        # from the status REST API (its scan-count pin).
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") else "false",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # ANSI off: the engine's inference casts rely on NULL-on-failure
        # semantics (we still use try_* functions everywhere it matters).
        .config("spark.sql.ansi.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType | str
) -> DataFrame:
    """``rows`` as a ``LocalRelation`` frame with exactly ``schema`` (a
    ``StructType`` or a DDL string such as ``"k long, v double"``).

    Built through a ``pyarrow.Table`` typed from the Spark schema, so
    non-nullable fields stay non-nullable and a float NaN stays NaN, apart
    from None (NULL). A naive ``datetime`` in a ``timestamp`` field is
    local time, as in ``createDataFrame``. ``collect()`` on the frame runs
    no Spark job.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    columns = [
        [None if v is None else v.astimezone() for v in c]
        if isinstance(f.dataType, T.TimestampType)
        else c
        for c, f in zip(columns, schema.fields)
    ]
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
