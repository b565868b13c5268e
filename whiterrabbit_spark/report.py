"""K1/K2 — report sinks (whiteRRabbit.R:483-534).

Result frames are KB-scale (per-column rows), so sinks collect to the
driver and write with pandas/openpyxl — the distributed work already
happened in the scan jobs. The overview and every file's summary are
local relations (``session.local_frame``): collecting them runs no Spark
job, so both sinks collect (the TSV sink then hands the rows to pandas).
The frequency frames are lazy plans over each file's pinned histogram,
so their finish (HAVING, top-K, percentage) still runs its jobs here, at
sink time.

Sheet/file naming parity:
* xlsx: ``Overview`` sheet, one ``File{i}`` sheet per input, plus
  ``File{i}freq`` when the frequency frame is non-empty (W:494-511); bold
  header + frozen first row.
* tsv: ``<prefix>_Overview.tsv``, ``<prefix>_File{i}_Summary.tsv``,
  ``<prefix>_File{i}_Freq.tsv`` (W:515-531; the doc claims filename-based
  names, the code uses File{i} — code wins).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from whiterrabbit_spark.overview import FileScanResult


def sortable_columns(df: DataFrame) -> list[str]:
    """Columns whose types Spark can ORDER BY — MapType (at any nesting
    depth) is unorderable and makes ``sortWithinPartitions(*columns)``
    throw AnalysisException. The report/snapshot sinks sort on every
    ORDERABLE column for byte-stable output; a map-typed column simply
    drops out of the sort key (ADVICE r7: latent crash guard)."""
    from pyspark.sql import types as T

    def orderable(dt) -> bool:
        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, T.ArrayType):
            return orderable(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(orderable(f.dataType) for f in dt.fields)
        return True

    return [f.name for f in df.schema.fields if orderable(f.dataType)]


def write_tsv_report(
    overview: DataFrame,
    results: list[FileScanResult],
    output_dir: str,
    prefix: str = "ScanReport",
) -> list[str]:
    import pandas as pd

    def to_pandas(df: DataFrame) -> pd.DataFrame:
        header, rows = _sheet_data(df)
        return pd.DataFrame(rows, columns=header)

    os.makedirs(output_dir, exist_ok=True)
    written = []
    p = os.path.join(output_dir, f"{prefix}_Overview.tsv")
    to_pandas(overview).to_csv(p, sep="\t", index=False)
    written.append(p)
    for i, r in enumerate(results):
        tab = f"File{i + 1}"
        p = os.path.join(output_dir, f"{prefix}_{tab}_Summary.tsv")
        to_pandas(r.summary).to_csv(p, sep="\t", index=False)
        written.append(p)
        if r.frequencies is not None:
            freq_pd = to_pandas(r.frequencies)
            if len(freq_pd) > 0:
                p = os.path.join(output_dir, f"{prefix}_{tab}_Freq.tsv")
                freq_pd.to_csv(p, sep="\t", index=False)
                written.append(p)
    return written


def _sheet_data(df: DataFrame) -> tuple[list[str], list[tuple]]:
    header = list(df.columns)
    rows = [tuple(r) for r in df.collect()]
    return header, rows


def write_xlsx_report(
    overview: DataFrame,
    results: list[FileScanResult],
    output_dir: str,
    prefix: str = "ScanReport",
) -> str:
    from whiterrabbit_spark.xlsx import write_xlsx

    os.makedirs(output_dir, exist_ok=True)
    sheets: list[tuple[str, list[str], list[tuple]]] = []
    header, rows = _sheet_data(overview)
    sheets.append(("Overview", header, rows))
    for i, r in enumerate(results):
        tab = f"File{i + 1}"
        header, rows = _sheet_data(r.summary)
        sheets.append((tab, header, rows))
        if r.frequencies is not None:
            fh, fr = _sheet_data(r.frequencies)
            if fr:
                sheets.append((f"{tab}freq", fh, fr))
    out = os.path.join(output_dir, f"{prefix}.xlsx")
    write_xlsx(out, sheets)
    return out


def write_parquet_report(
    overview: DataFrame,
    results: list[FileScanResult],
    output_dir: str,
    prefix: str = "ScanReport",
) -> list[str]:
    """Machine-readable sink (no reference analog): the three result
    relations as parquet datasets — ``<prefix>_overview/``,
    ``<prefix>_summary/``, ``<prefix>_frequencies/`` — with summaries and
    frequencies unioned across files and tagged by source table, so a
    downstream pipeline reads the whole scan report as three typed tables
    instead of parsing per-file TSV/xlsx. Written via Spark (stays
    distributed; result frames are small but the sink composes with
    cluster filesystems)."""
    from functools import reduce

    from pyspark.sql import functions as F

    os.makedirs(output_dir, exist_ok=True)
    written = []

    def sink(df: DataFrame, name: str) -> None:
        p = os.path.join(output_dir, f"{prefix}_{name}")
        # repartition(1), NOT coalesce(1): a coalesced single task runs
        # the last stage of every unioned table SERIALLY; the one-round
        # shuffle runs them in parallel first.
        # sortWithinPartitions: the single reducer fetches map outputs
        # in nondeterministic order, so without it persisted row order
        # varies run-to-run and any downstream file-level diff breaks.
        # Orderable columns only — a map-typed column would throw.
        one = df.repartition(1)
        keys = sortable_columns(df)
        if keys:
            one = one.sortWithinPartitions(*keys)
        one.write.mode("overwrite").parquet(p)
        written.append(p)

    sink(overview, "overview")
    summaries = [r.summary for r in results]
    sink(reduce(lambda a, b: a.unionByName(b), summaries), "summary")
    freqs = [
        r.frequencies.withColumn("table_name", F.lit(r.file_name))
        for r in results
        if r.frequencies is not None
    ]
    if freqs:
        sink(reduce(lambda a, b: a.unionByName(b), freqs), "frequencies")
    return written
