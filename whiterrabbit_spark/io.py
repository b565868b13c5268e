"""Source layer: folder discovery and all-string delimited reads.

Reference semantics (whiteRRabbit.R):

* S1 folder discovery (W:109-122): every ``*.tsv`` (delimiter=tab) or
  ``*.csv`` (delimiter=comma) file directly in the working folder is one
  table; no recursion; error when nothing matches.
* S2 fast row count (W:207-216): ``wc -l`` — line count INCLUDING the header.
  Spark analog: ``spark.read.text(path).count()`` — Catalyst optimizes a
  count over a text scan to a parse-free row count.
* S3 all-string scan (W:236 etc.): ``fread(..., colClasses="character")``.
  Spark analog: explicit all-StringType schema (never inferSchema — Spark's
  built-in inference has a different type lattice than the reference's
  string/double/timestamp one, SURVEY §1.3).

data.table::fread treats the literal string ``NA`` as missing by default
(na.strings="NA"); we mirror that with ``nullValue="NA"`` so literal NA
arrives as NULL, distinct from the empty string "".
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from whiterrabbit_spark.session import local_frame


class NoInputFilesError(ValueError):
    """No files matching the delimiter pattern (reference W:120-122)."""


def discover_tables(
    working_folder: str, delimiter: str = "tab", source_format: str = "delimited"
) -> list[tuple[str, str]]:
    """Return [(table_name, path)] for each input file in the folder.

    Reference W:109-122: non-recursive listing, ``\\.tsv$`` for tab /
    ``\\.csv$`` for comma, error if empty. Table name = file basename
    without extension (per-file identity is preserved: each file is profiled
    as its own table, W:450-464). ``source_format`` extends the same
    contract beyond the reference to ``*.jsonl`` / ``*.parquet`` /
    ``*.txt`` (raw line-per-record corpus) folders.
    """
    if not os.path.isdir(working_folder):
        raise ValueError(f"Working folder does not exist: {working_folder}")
    if source_format == "delimited":
        ext = "tsv" if delimiter.lower() == "tab" else "csv"
    elif source_format in ("jsonl", "parquet", "orc", "txt"):
        ext = source_format
    else:
        raise ValueError(f"Unknown source_format: {source_format}")
    patterns = [f"*.{ext}"]
    if source_format in ("delimited", "jsonl", "txt"):
        # Spark's text/csv/json readers decompress *.gz transparently
        # (gzip is unsplittable — one task per file, the same granularity
        # the per-file profiling pipeline already uses)
        patterns.append(f"*.{ext}.gz")
    paths = sorted(
        p for pat in patterns for p in glob.glob(os.path.join(working_folder, pat))
    )
    if not paths:
        raise NoInputFilesError(
            f"No input files found in {working_folder} matching {patterns}"
        )
    def table_name(p: str) -> str:
        name = os.path.basename(p)
        if name.endswith(".gz"):
            name = name[: -len(".gz")]
        return os.path.splitext(name)[0]  # dots inside the stem survive

    return [(table_name(p), p) for p in paths]


def count_lines(spark: SparkSession, path: str) -> int:
    """Total line count including the header (reference W:207-216 ``wc -l``).

    A count over ``spark.read.text`` never tokenizes fields — the analog of
    the reference's no-parse ``wc -l`` shell-out.
    """
    return spark.read.text(path).count()


def _open_text(path: str):
    """Driver-side text open, gzip-aware (matches Spark's transparent
    .gz handling on the scan side)."""
    if path.endswith(".gz"):
        import gzip

        return gzip.open(path, "rt", encoding="utf-8-sig", errors="replace")
    return open(path, encoding="utf-8-sig", errors="replace")


def read_header(path: str, sep: str) -> list[str]:
    """Read just the header line driver-side (one line of IO).

    Duplicate column names are made unique with ``_2``, ``_3``… suffixes
    (fread similarly auto-renames duplicates; Spark would otherwise fail
    on ambiguous references in every downstream select)."""
    with _open_text(path) as fh:
        header = fh.readline().rstrip("\r\n")
    cols = header.split(sep)
    seen: dict[str, int] = {}
    out = []
    for c in cols:
        n = seen.get(c, 0) + 1
        seen[c] = n
        out.append(c if n == 1 else f"{c}_{n}")
    return out


def read_all_string(
    spark: SparkSession,
    path: str,
    sep: str,
    null_value: str = "NA",
    multiline: bool = False,
) -> DataFrame:
    """Delimited scan with every column forced to string (reference W:236).

    The schema is built from the header so Spark never runs its own
    inference pass; quote/escape pinned to ``"`` (fread-compatible for the
    fixture corpus). ``multiline=True`` parses quoted embedded newlines
    (fread's implicit behavior) at the cost of file splittability — like
    the reference's ``wc -l``, ``count_lines`` still counts raw lines, so
    overview N_rows over-counts multiline records on both engines.
    """
    cols = read_header(path, sep)
    raw, fixed = _csv_strings(
        spark, path, sep, cols, null_value, multiLine=multiline
    )
    return raw.select(*fixed)


def _csv_strings(
    spark: SparkSession,
    path: str,
    sep: str,
    cols: list[str],
    null_value: str,
    extra_cols: tuple[str, ...] = (),
    **options,
) -> tuple[DataFrame, list[Column]]:
    """The all-string CSV parse behind both delimited readers: returns
    the raw frame (``cols`` + ``extra_cols``, all StringType, reader
    ``options`` appended) and the per-column projection that restores
    fread's empty/missing semantics.

    Spark's univocity parser yields NULL for an unquoted empty field no
    matter how nullValue/emptyValue are set; fread yields "" (the
    EmptyCount-vs-MissingCount distinction, W:313-319). Read with a
    sentinel nullValue so nothing else maps to NULL in the parser, then
    remap per column: parser-NULL (truly empty field) -> "", literal na
    string -> NULL. Pure scan-stage projection, no extra pass.
    """
    schema = T.StructType(
        [T.StructField(c, T.StringType(), True) for c in [*cols, *extra_cols]]
    )
    raw = (
        spark.read.schema(schema)
        .option("header", True)
        .option("sep", sep)
        .option("quote", '"')
        .option("escape", '"')
        .option("nullValue", " __WRS_NO_NULL__ ")
        .option("mode", "PERMISSIVE")
        .options(**options)
        .csv(path)
    )
    fixed = [
        F.when(F.col(c).isNull(), F.lit(""))
        .when(F.col(c) == null_value, F.lit(None))
        .otherwise(F.col(c))
        .alias(c)
        for c in cols
    ]
    return raw, fixed


# Event-time columns with two valid on-disk generations in the driver's
# testdata: parquet TIMESTAMP(NANOS) — Spark has no nanosecond timestamp
# type and refuses it unless the legacy conf maps it to LONG, after which
# we truncate nanos→micros exactly (integer DIV, matching DuckDB's
# TIMESTAMP_NS → TIMESTAMP conversion) — and plain TIMESTAMP micros with
# isAdjustedToUTC=false, which Spark reads as TIMESTAMP_NTZ. Both are
# normalized to TIMESTAMP (ltz): the session tz is pinned to UTC, so the
# NTZ→LTZ cast is value-preserving, and downstream event-time operators
# (watermarks, double casts, window frames) get one consistent type.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def read_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Typed parquet read for the driver's testdata tables (TESTDATA.md)."""
    nanos_cols = _NANOS_TS_COLS.get(name, ())
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in nanos_cols:
        dtype = dict(df.dtypes).get(c)
        if dtype == "bigint":
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"{c} DIV 1000"))
            )
        elif dtype == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def read_jsonl_all_string(spark: SparkSession, path: str) -> DataFrame:
    """JSONL scan with every field read as string — the profiling-pipeline
    entry for JSONL folders, mirroring the all-string delimited scan (S3):
    field names come from the FIRST record (one line of driver IO, the
    analog of a delimited header), values arrive stringified (Spark's JSON
    reader renders scalars into declared StringType fields), then the
    normal inference pass types them. JSON ``null`` / absent keys → NULL
    (JSONL has a real null — no NA-literal remap as in delimited reads).
    """
    import json

    with _open_text(path) as fh:
        first = fh.readline()
    try:
        cols = list(json.loads(first).keys())
    except (json.JSONDecodeError, AttributeError) as exc:
        raise ValueError(f"First line of {path} is not a JSON object") from exc
    schema = T.StructType([T.StructField(c, T.StringType(), True) for c in cols])
    return spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType | str
) -> DataFrame:
    """JSONL (one JSON object per line) source with an explicit schema —
    the interchange format of LLM data pipelines. Schema is required:
    Spark's JSON inference is a full extra pass over the data and yields a
    drifting type lattice; at 100 TB the contract must be declared.
    PERMISSIVE mode null-fills malformed lines instead of failing the scan;
    include a ``_corrupt_record string`` field in the schema to capture
    the raw bad lines."""
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


CORRUPT_COL = "_corrupt_record"


def read_all_string_quarantine(
    spark: SparkSession,
    path: str,
    sep: str,
    null_value: str = "NA",
    multiline: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """`read_all_string` with malformed-row capture: returns
    ``(clean, quarantine)`` — clean is the usual all-string frame with
    structurally broken rows REMOVED instead of silently null-padded /
    truncated (the PERMISSIVE default this wraps); quarantine is
    ``(raw_line)`` rows carrying each malformed record verbatim for
    offline repair. The poison-record pattern every production feed
    eventually needs: one bad export shouldn't corrupt a profile run.

    The clean side is the file-source CSV parse with the corrupt marker
    column declared (data columns stay referenced, so the
    internal-column analysis restriction doesn't bite). The quarantine
    side CANNOT legally project only that internal column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and caching
    the scan to dodge the rule is exactly wrong at 100 TB — instead it
    re-parses each line with ``from_csv`` over a text read, where the
    corrupt field is an ordinary struct member. Two scans of the file,
    each map-only; the quarantine scan prunes to the raw line column.

    ``multiline=True`` records can span physical lines, which a text
    read can't re-segment — quarantine capture is line-oriented and
    refuses that combination.
    """
    if multiline:
        raise ValueError(
            "read_all_string_quarantine: multiline records cannot be "
            "captured line-wise; use read_all_string(multiline=True)"
        )
    cols = read_header(path, sep)
    raw, fixed = _csv_strings(
        spark, path, sep, cols, null_value, extra_cols=(CORRUPT_COL,),
        columnNameOfCorruptRecord=CORRUPT_COL,
    )
    clean = raw.where(F.col(CORRUPT_COL).isNull()).select(*fixed)

    header_line = sep.join(cols)
    parsed = (
        spark.read.text(path)
        .where(F.col("value") != header_line)
        .select(
            "value",
            F.from_csv(
                F.col("value"),
                ", ".join(f"`{c}` string" for c in cols + [CORRUPT_COL]),
                {
                    "sep": sep,
                    "quote": '"',
                    "escape": '"',
                    "mode": "PERMISSIVE",
                    "columnNameOfCorruptRecord": CORRUPT_COL,
                },
            ).alias("r"),
        )
    )
    quarantine = parsed.where(
        F.col(f"r.{CORRUPT_COL}").isNotNull()
    ).select(F.col("value").alias("raw_line"))
    return clean, quarantine


def parquet_schema_report(
    spark: SparkSession, folder: str, max_files: int = 1000
) -> DataFrame:
    """Schema-evolution report over a folder of parquet files: one row per
    (file, column) with the file-local type, plus ``n_types`` — how many
    distinct types that column has ACROSS files (>1 = evolution or
    conflict; `mergeSchema` will fail on incompatible pairs, and this
    report is how you find the offending file first). Footer-only: no
    data pages are read.

    The listing is alphabetical and capped at ``max_files`` (schema
    drift clusters at writer-version boundaries, which survive a
    deterministic prefix); per-file footers are opened driver-side —
    O(files) metadata reads, each a few KB.
    """
    files = sorted(
        glob.glob(os.path.join(folder, "*.parquet"))
        or glob.glob(os.path.join(folder, "**", "*.parquet"), recursive=True)
    )[:max_files]
    if not files:
        raise NoInputFilesError(f"no parquet files under {folder!r}")
    rows = []
    for f in files:
        for field in spark.read.parquet(f).schema.fields:
            rows.append(
                (os.path.relpath(f, folder), field.name,
                 field.dataType.simpleString())
            )
    report = local_frame(
        spark, rows, "file_name string, column_name string, data_type string"
    )
    w = Window.partitionBy("column_name")
    return report.select(
        "file_name", "column_name", "data_type",
        F.size(F.collect_set("data_type").over(w)).alias("n_types"),
    )


def read_parquet_folder_merged(spark: SparkSession, folder: str) -> DataFrame:
    """Read an evolving parquet folder with schema union (``mergeSchema``):
    columns absent from older files surface as NULL, compatible type
    promotions merge. Pair with `parquet_schema_report` to locate files
    behind an incompatible-merge failure."""
    return spark.read.option("mergeSchema", True).parquet(folder)


def parquet_file_report(
    spark: SparkSession,
    sf_dir: str,
    tables: list[str],
    target_rows_per_file: int = 1_000_000,
) -> DataFrame:
    """Small-files / compaction report — the lakehouse maintenance scan:
    per table, how many physical parquet files back it, how rows spread
    across them, the file count a compaction to ``target_rows_per_file``
    would produce, and whether a rewrite is warranted (needs_compaction
    when the table holds >4× the target file count, the usual OPTIMIZE
    trigger; tiny tables never flag). Per-file row counts come from a
    ``group by input_file_name()`` — metadata-cheap columns only, the
    scan reads no data columns (COUNT over an empty projection).

    Returns one row per table: ``(table_name, n_files, n_rows,
    min_rows_file, max_rows_file, target_files, needs_compaction)``.
    """
    outs = []
    for t in tables:
        df = read_parquet_table(spark, sf_dir, t)
        per_file = df.groupBy(
            F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1).alias(
                "file_name"
            )
        ).agg(F.count(F.lit(1)).alias("n"))
        target = F.greatest(
            F.ceil(F.col("n_rows") / F.lit(float(target_rows_per_file))),
            F.lit(1),
        ).cast("long")
        outs.append(
            per_file.agg(
                F.count(F.lit(1)).alias("n_files"),
                F.sum("n").alias("n_rows"),
                F.min("n").alias("min_rows_file"),
                F.max("n").alias("max_rows_file"),
            ).select(
                F.lit(t).alias("table_name"),
                "n_files",
                "n_rows",
                "min_rows_file",
                "max_rows_file",
                target.alias("target_files"),
                (F.col("n_files") > target * 4).alias("needs_compaction"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("table_name")
