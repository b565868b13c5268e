"""Scan configuration — mirrors the reference CLI surface.

Reference: whiteRRabbit.R:29-91 (optparse option_list). Divergences are
deliberate and documented:

* ``seed`` — the reference samples unseeded (whiteRRabbit.R:148, 173, 229,
  287) so borderline type inference and sampling are nondeterministic run to
  run. We always seed.
* ``scan_field_values`` / ``random_sample`` — the reference declares these as
  ``store_true`` with ``default=TRUE`` (whiteRRabbit.R:71-74, 79-82), so they
  can never be switched off from its CLI. Our CLI uses
  ``BooleanOptionalAction`` so ``--no-scan-field-values`` works.
* ``approx`` — scale switch the reference doesn't need (in-memory tool):
  exact percentiles / countDistinct for correctness parity, approximate
  sketches (percentile_approx, approx_count_distinct, HLL) for 100 TB runs.
  Tri-state: ``None`` (the default) auto-selects — exact at or below
  ``auto_approx_rows``, sketches above it — so the default plan never
  carries the exact-percentile single-reducer buffer into a 100 TB run;
  ``True``/``False`` force one mode (oracle runs pin ``False`` semantics
  implicitly by being far below the threshold).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from whiterrabbit_spark import scale


@dataclass
class ScanConfig:
    """Parameters for a profiling scan (reference whiteRRabbit.R:29-91)."""

    delimiter: str = "tab"              # 'tab' | 'comma'   (W:34-37)
    max_rows: int = 100_000             # -1 = all          (W:47-50)
    max_distinct_values: int = 1_000    #                   (W:51-54)
    min_cell_count: int = 5             #                   (W:75-78)
    exclude_cols: tuple[str, ...] = ()  #                   (W:63-66)
    shift_dates: bool = False           #                   (W:67-70)
    scan_field_values: bool = True      #                   (W:71-74)
    random_sample: bool = True          #                   (W:79-82)
    prefix: str = "ScanReport"          #                   (W:55-58)

    # Inference gates (hard-coded in the reference)
    success_threshold: float = 0.8      # W:139, W:164
    inference_sample_size: int = 1_000  # W:147, W:172

    # Engine-only knobs (no reference analog)
    source_format: str = "delimited"    # 'delimited' | 'jsonl' | 'parquet' | 'orc' | 'txt'
                                        # — the reference reads only
                                        # tsv/csv (W:109-116); jsonl and
                                        # parquet folders profile through
                                        # the same pipeline (parquet skips
                                        # string-typed inference: its
                                        # schema is authoritative)
    # When set, delimited scans split structurally malformed rows out of
    # the profile (PERMISSIVE would silently null-pad/truncate them) and
    # write each file's bad lines verbatim under this directory as
    # <prefix>_Quarantine_<file>.txt — the poison-record pattern; empty
    # string disables (reference behavior).
    quarantine_dir: str = ""
    multiline: bool = False             # quoted embedded newlines (fread
                                        # handles them implicitly; Spark
                                        # needs multiLine, which costs file
                                        # splittability — off by default)
    seed: int = 42
    # True → sketches; False → exact; None → AUTO (exact ≤ auto_approx_rows)
    approx: bool | None = None
    # Auto threshold: the exact percentile path buffers one column's values
    # (or their distinct multiset) in a single reducer — measured ~170 s at
    # 2 cols × 20M rows vs ~4 s for the sketch (BASELINE.md). 5M rows keeps
    # exact well under that cliff while every oracle/test SF stays exact.
    auto_approx_rows: int = scale.AUTO_APPROX_ROWS
    approx_percentile_accuracy: int = 2_000
    # 5% rsd: HLL++ update cost cliffs ~10× somewhere below 2% rsd (register
    # array falls out of cache); 5% is ample for profiling overviews.
    approx_distinct_rsd: float = 0.05
    max_agg_exprs_per_job: int = 1_500  # chunk very wide tables (SURVEY §4)

    @property
    def sep(self) -> str:
        return "\t" if self.delimiter.lower() == "tab" else ","

    @property
    def file_pattern(self) -> str:
        # W:109-116: tab → *.tsv, anything else → *.csv
        return "*.tsv" if self.delimiter.lower() == "tab" else "*.csv"

    excluded: tuple[str, ...] = field(init=False, default=())

    def __post_init__(self) -> None:
        # W:129-136: split on comma, trim whitespace
        cleaned = tuple(c.strip() for c in self.exclude_cols if c.strip())
        object.__setattr__(self, "excluded", cleaned)
