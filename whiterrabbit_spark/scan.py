"""Scan orchestration — the reference's main pipeline, Spark-first.

Per file (reference scan_file, whiteRRabbit.R:218-446):
  1. parse-free line count (io.count_lines ≈ ``wc -l``, W:221-223)
  2. all-string read (+ seeded exact-N sample when over max_rows, W:225-272)
  3. type inference numeric→date (W:274-280): one counting aggregate over
     the inference gate's head slice, then one over the candidates' full
     columns; the second is skipped when the sample (or a small file) fits
     in the slice (infer.infer_types)
  4. optional ±5 day date shift (W:282-291)
  5. one value histogram per column (frequency.value_histogram): the
     non-empty values' counts, grouped once per table
  6. ONE wide aggregation for all per-column stats incl. the pre-exclusion
     all-empty-field scan (W:293-303, W:309-423), overlapped with one
     job that reads the exact distinct counts and quartiles off the
     histogram (W:327, W:368-374)
  7. the frequency table (W:329-352): HAVING, top-K and percentage over
     the same histogram, pinned so that it is grouped only once (an
     unsampled quarantined read keeps two groupings, see scan_file)

Across files the reference loops sequentially (W:450-464) — its biggest
scaling flaw. Here each file's jobs are submitted from a thread pool so
independent file scans overlap on the cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from whiterrabbit_spark import io as wio
from whiterrabbit_spark.cache import ThreadPool, pin
from whiterrabbit_spark.config import ScanConfig
from whiterrabbit_spark.frequency import (
    _melt_histogram, value_frequencies, value_histogram,
)
from whiterrabbit_spark.infer import infer_and_cast
from whiterrabbit_spark.overview import FileScanResult, build_overview
from whiterrabbit_spark.profile import (
    _resolve_approx, all_empty_fields, profile_table,
)
from whiterrabbit_spark.sampling import exact_random_sample
from whiterrabbit_spark.shift import shift_dates


def _write_quarantine(bad: DataFrame, path: str, cfg: ScanConfig) -> int:
    """Land one file's malformed lines verbatim as
    ``<quarantine_dir>/<prefix>_Quarantine_<file>.txt`` (skipped when the
    file has none — no empty artifacts). Driver-side write: quarantined
    rows are by definition the anomaly, not the data. Returns the
    quarantined row count so the caller can size the sample on the rows
    that actually survived."""
    rows = bad.collect()
    if not rows:
        return 0
    os.makedirs(cfg.quarantine_dir, exist_ok=True)
    base = os.path.basename(path)
    out = os.path.join(
        cfg.quarantine_dir, f"{cfg.prefix}_Quarantine_{base}.txt"
    )
    with open(out, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(r.raw_line + "\n")
    return len(rows)


def scan_file(
    spark: SparkSession, path: str, cfg: ScanConfig | None = None
) -> FileScanResult:
    cfg = cfg or ScanConfig()
    fmt = cfg.source_format
    # a quarantined read parsed for fewer than all of its columns keeps
    # its malformed rows (CSV column pruning skips the field-count check)
    # until a pin holds one parse of every column
    partial_parse_keeps_bad_rows = False
    if fmt in ("parquet", "orc"):
        # Typed columnar sources: schema is authoritative — no all-string
        # read, no inference pass. Row count replaces the line count
        # (column-store footer/stripe metadata makes this metadata-only,
        # the columnar analog of the reference's parse-free ``wc -l``); no
        # header line exists, so the reference's header-in-N_rows quirk
        # does not apply.
        df = spark.read.orc(path) if fmt == "orc" else spark.read.parquet(path)
        total_lines = df.count()
        data_rows = total_lines
    elif fmt == "txt":
        # Raw corpus: every line is one record with a single string
        # column ``text`` (the training-pipeline ingest shape). No header;
        # inference still runs, so a file of numerals types as double —
        # consistent with the engine's infer-from-data model.
        total_lines = wio.count_lines(spark, path)
        data_rows = total_lines
        df = spark.read.text(path).withColumnRenamed("value", "text")
    elif fmt == "jsonl":
        # Every line is a record (no header): N_rows == line count.
        total_lines = wio.count_lines(spark, path)
        data_rows = total_lines
        df = wio.read_jsonl_all_string(spark, path)
    else:
        total_lines = wio.count_lines(spark, path)
        data_rows = total_lines - 1
        if cfg.quarantine_dir:
            # forward multiline so the reader's own guard raises on the
            # unsupported --quarantine --multiline combination instead of
            # silently splitting quoted embedded-newline records line-wise
            df, bad = wio.read_all_string_quarantine(
                spark, path, cfg.sep, multiline=cfg.multiline
            )
            n_quarantined = _write_quarantine(bad, path, cfg)
            # sample over the rows that survived quarantine, not the raw
            # line count — a heavily-malformed file would otherwise
            # undershoot max_rows and overstate n_rows_checked
            data_rows -= n_quarantined
            partial_parse_keeps_bad_rows = True
        else:
            df = wio.read_all_string(
                spark, path, cfg.sep, multiline=cfg.multiline
            )

    if cfg.max_rows > 0 and cfg.random_sample and data_rows > cfg.max_rows:
        df = exact_random_sample(df, cfg.max_rows, total_rows=data_rows, cfg=cfg)
        # cache: the sampled frame feeds inference + profile + frequency;
        # re-sampling per job would both re-read and re-randomize.
        df = pin(df)
        n_rows_checked = df.count()
        row_bound = n_rows_checked
        partial_parse_keeps_bad_rows = False
    else:
        n_rows_checked = data_rows
        # the line count bounds the rows of any parse of the file, a
        # quarantined read's pruned parse (which keeps malformed rows)
        # included
        row_bound = total_lines

    # A delimited file under one split size arrives as ONE partition;
    # every downstream aggregation then runs single-threaded (the wide
    # 300-column case measured 2.7× slower). Fan exactly that case out.
    # Multi-split files are left alone — the engine's thread-parallel job
    # sets already fill the cluster there, and a repartition would shuffle
    # the whole file for nothing.
    if n_rows_checked > 10_000 and df.rdd.getNumPartitions() == 1:
        df = df.repartition(spark.sparkContext.defaultParallelism)

    if fmt in ("parquet", "orc"):
        from whiterrabbit_spark.infer import InferenceResult

        typed = df
        inference = InferenceResult(
            decisions={f.name: f.dataType.simpleString() for f in df.schema.fields}
        )
    else:
        typed, inference = infer_and_cast(df, cfg, row_hint=row_bound)
    if cfg.shift_dates:
        typed = shift_dates(typed, cfg)
    if (
        fmt not in ("parquet", "orc")  # typed columnar scans re-read cheaply; no reparse to amortize
        and "timestamp" in inference.decisions.values()
        and cfg.max_rows <= 0
    ):
        # Full-scan mode with inferred date columns: the multi-pattern
        # parse projection would re-evaluate in every downstream job
        # (profile job sets + frequency); pay it once. memory-and-disk,
        # spills; the sampled path (the 100 TB default) caches its ≤
        # max_rows frame above instead. MATERIALIZE eagerly: the profile
        # submits its chunk jobs thread-parallel, and concurrent jobs
        # over a lazy persist RACE — each computed (re-read + re-parsed)
        # the raw file before any cache block existed (the r8 50M smoke
        # measured 2 extra full-file passes from exactly this).
        typed = pin(typed, eager=True)

    exact = not _resolve_approx(typed, cfg, n_rows_checked).approx
    histogram = None
    if exact and partial_parse_keeps_bad_rows:
        # the frequency table's one-column branches count the malformed
        # rows; until the reader drops them there too, the profile reads
        # the melt, one scan of every column, and the two do not share
        histogram = _melt_histogram(typed, typed.columns)
    elif exact and cfg.scan_field_values:
        # the exact profile and the frequency table read the same counts:
        # group them once. A plain persist, so a reader after the scope
        # closes recomputes it.
        histogram = pin(value_histogram(typed))
    summary_all, raw = profile_table(
        typed, cfg, table_name=os.path.basename(path), row_hint=n_rows_checked,
        histogram=histogram,
    )
    n_fields = len(typed.columns)
    n_fields_empty = len(all_empty_fields(raw))

    # X1 exclusion: applied to emitted summaries only — AFTER the all-empty
    # scan and field counts (quirk, W:293-304).
    summary = summary_all
    if cfg.excluded:
        keep = [c for c in typed.columns if c not in cfg.excluded]
        summary = summary_all.where(summary_all.column_name.isin(keep))
        freq_source = typed.select(*keep)
    else:
        freq_source = typed

    freq = (
        value_frequencies(
            freq_source, cfg=cfg,
            histogram=None if partial_parse_keeps_bad_rows else histogram,
        )
        if cfg.scan_field_values
        else None
    )

    return FileScanResult(
        file_path=path,
        file_name=os.path.basename(path),
        total_rows=total_lines,
        n_rows_checked=n_rows_checked,
        n_fields=n_fields,
        n_fields_empty=n_fields_empty,
        summary=summary,
        frequencies=freq,
        inferred_types=inference.decisions,
        typed=typed,
    )


def scan_folder(
    spark: SparkSession,
    working_folder: str,
    cfg: ScanConfig | None = None,
    max_parallel_files: int = 4,
):
    """Profile every delimited file in a folder.

    Returns ``(overview_df, [FileScanResult])`` ordered by file name (the
    reference's list.files order, W:119).
    """
    cfg = cfg or ScanConfig()
    tables = wio.discover_tables(working_folder, cfg.delimiter, cfg.source_format)
    if max_parallel_files > 1 and len(tables) > 1:
        with ThreadPool(max_workers=max_parallel_files) as pool:
            results = list(
                pool.map(lambda t: scan_file(spark, t[1], cfg), tables)
            )
    else:
        results = [scan_file(spark, path, cfg) for _, path in tables]
    return build_overview(spark, results), results
