"""O1 — per-file overview frame (whiteRRabbit.R:467-480).

Quirks preserved (SURVEY §2/O1, C1):
* ``n_rows`` is the raw line count INCLUDING the header line (W:222 sets
  total_lines; W:439 returns it unadjusted).
* ``n_fields`` / ``n_fields_empty`` count ALL columns including excluded
  ones — exclusion applies only to the emitted summaries (W:293-304).
* ``table`` is the positional label "File1", "File2", … (W:470); the doc's
  claim that sheet names use the file name is wrong — code wins.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from whiterrabbit_spark.session import local_frame

OVERVIEW_SCHEMA = T.StructType(
    [
        T.StructField("table", T.StringType(), False),
        T.StructField("file_name", T.StringType(), False),
        T.StructField("description", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("n_rows_checked", T.LongType(), False),
        T.StructField("n_fields", T.LongType(), False),
        T.StructField("n_fields_empty", T.LongType(), False),
    ]
)


@dataclass
class FileScanResult:
    """Per-file result bundle (reference's scan_file return, W:437-445)."""

    file_path: str
    file_name: str
    total_rows: int          # lines incl. header (quirk)
    n_rows_checked: int
    n_fields: int
    n_fields_empty: int
    summary: DataFrame = None
    frequencies: DataFrame = None
    inferred_types: dict[str, str] = field(default_factory=dict)
    #: lazy typed frame (post-inference); carried for downstream
    #: consumers like the drift CLI's distributional tests — holding the
    #: plan costs nothing until someone executes it
    typed: DataFrame = None


def build_overview(spark: SparkSession, results: list[FileScanResult]) -> DataFrame:
    rows = [
        (
            f"File{i + 1}",
            r.file_name,
            "No description",
            r.total_rows,
            r.n_rows_checked,
            r.n_fields,
            r.n_fields_empty,
        )
        for i, r in enumerate(results)
    ]
    return local_frame(spark, rows, OVERVIEW_SCHEMA)
