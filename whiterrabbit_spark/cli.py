"""C1 — CLI mirror of the reference (whiteRRabbit.R:29-91).

Divergence (deliberate): the reference's ``--scan_field_values`` and
``--random_sample`` are store_true flags defaulting to TRUE, so they can
never be disabled (W:71-74, W:79-82). Here they are BooleanOptionalAction
(``--no-scan-field-values`` works).
"""

from __future__ import annotations

import argparse
import sys

from whiterrabbit_spark.cache import cache_scope
from whiterrabbit_spark.config import ScanConfig
from whiterrabbit_spark.report import write_tsv_report, write_xlsx_report
from whiterrabbit_spark.scan import scan_folder
from whiterrabbit_spark.session import get_spark


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="whiterrabbit-spark",
        description="PySpark-native scan-report profiler (whiteRRabbit-compatible surface)",
    )
    p.add_argument("-w", "--working-folder", required=True, help="Folder with input files")
    p.add_argument("-d", "--delimiter", default="tab", choices=["tab", "comma"])
    p.add_argument("-o", "--output-dir", default=".")
    p.add_argument("-f", "--output-format", default="xlsx",
                   choices=["xlsx", "tsv", "parquet"])
    p.add_argument("-m", "--max-rows", type=int, default=100_000, help="-1 for all")
    p.add_argument("-x", "--max-distinct-values", type=int, default=1_000)
    p.add_argument("-p", "--prefix", default="ScanReport")
    p.add_argument("-c", "--cpus", type=int, default=None)
    p.add_argument("-e", "--exclude-cols", default=None, help="comma-separated")
    p.add_argument("-s", "--shift-dates", action="store_true", default=False)
    p.add_argument("--scan-field-values", action=argparse.BooleanOptionalAction, default=True)
    p.add_argument("--min-cell-count", type=int, default=5)
    p.add_argument("--random-sample", action=argparse.BooleanOptionalAction, default=True)
    p.add_argument("--seed", type=int, default=42)
    ap = p.add_mutually_exclusive_group()
    ap.add_argument("--approx", dest="approx", action="store_true", default=None,
                    help="force approximate distinct/percentiles (default: auto "
                         "— exact up to 5M rows per file, sketches above)")
    ap.add_argument("--exact", dest="approx", action="store_false",
                    help="force exact distinct/percentiles at any scale")
    p.add_argument("--quarantine", action="store_true", default=False,
                   help="split malformed delimited rows out of the profile and "
                        "write them verbatim to <output-dir> as "
                        "<prefix>_Quarantine_<file>.txt (default: PERMISSIVE "
                        "null-padding, the reference behavior)")
    p.add_argument("--multiline", action="store_true", default=False,
                   help="parse quoted embedded newlines (costs file splittability)")
    p.add_argument("--parallel-files", type=int, default=4,
                   help="concurrent per-file scan jobs (reference scans sequentially)")
    p.add_argument("--source-format", default="delimited",
                   choices=["delimited", "jsonl", "parquet", "orc", "txt"],
                   help="input folder type (reference supports delimited only; "
                        "parquet profiles with its own schema, no inference)")
    p.add_argument("--state-dir", default=None,
                   help="incremental-scan cache: profile only files that "
                        "are new or changed (by size+mtime) since the last "
                        "run with this state dir; unchanged files load "
                        "their cached summary/frequency frames")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    cfg = ScanConfig(
        delimiter=args.delimiter,
        max_rows=args.max_rows,
        max_distinct_values=args.max_distinct_values,
        min_cell_count=args.min_cell_count,
        exclude_cols=tuple((args.exclude_cols or "").split(",")) if args.exclude_cols else (),
        shift_dates=args.shift_dates,
        scan_field_values=args.scan_field_values,
        random_sample=args.random_sample,
        prefix=args.prefix,
        output_format=args.output_format,
        seed=args.seed,
        approx=args.approx,
        quarantine_dir=args.output_dir if args.quarantine else "",
        multiline=args.multiline,
        source_format=args.source_format,
    )
    spark = get_spark(cpus=args.cpus)
    # pins made while scanning stay live until the report is written
    with cache_scope():
        if args.state_dir:
            from whiterrabbit_spark.incremental import scan_folder_incremental

            overview, results, inc = scan_folder_incremental(
                spark, args.working_folder, args.state_dir, cfg,
                max_parallel_files=args.parallel_files,
            )
            print(
                f"Incremental scan: {len(inc.scanned)} scanned, "
                f"{len(inc.loaded)} cached, {len(inc.evicted)} evicted"
            )
        else:
            overview, results = scan_folder(
                spark, args.working_folder, cfg, max_parallel_files=args.parallel_files
            )
        if args.output_format == "xlsx":
            out = write_xlsx_report(overview, results, args.output_dir, args.prefix)
            print(f"Wrote Excel file: {out}")
        elif args.output_format == "parquet":
            from whiterrabbit_spark.report import write_parquet_report

            for f in write_parquet_report(overview, results, args.output_dir, args.prefix):
                print(f"Wrote: {f}")
        else:
            for f in write_tsv_report(overview, results, args.output_dir, args.prefix):
                print(f"Wrote: {f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
