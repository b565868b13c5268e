"""Join-discovery CLI: scan a folder of tables, report join candidates.

    python -m whiterrabbit_spark.discover -w DIR [-o OUT.tsv]
        [-d tab|comma] [--source-format delimited|jsonl|parquet|orc]
        [--min-containment 0.5] [-c CPUS]

The cross-table follow-on to the scan report (the reference profiles
each file in isolation — whiteRRabbit.R:450-464; its OMOP-ETL users'
first post-scan question is "which columns join these files?"). Every
table melts once and one self-join scores all column pairs
(extensions/discovery.py scale notes); output is a TSV sorted by the
strongest containment, FK direction readable from which side is ~1.
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="whiterrabbit-spark-discover",
        description="discover join-column candidates across a folder of tables",
    )
    p.add_argument("-w", "--working-folder", required=True)
    p.add_argument("-o", "--out", default=None, help="output .tsv (default: stdout)")
    p.add_argument("-d", "--delimiter", default="tab", choices=["tab", "comma"])
    p.add_argument("--source-format", default="delimited",
                   choices=["delimited", "jsonl", "parquet", "orc"])
    p.add_argument("--min-containment", type=float, default=0.5)
    p.add_argument("-c", "--cpus", type=int, default=None)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from whiterrabbit_spark import io as wio
    from whiterrabbit_spark.cache import cache_scope
    from whiterrabbit_spark.extensions.discovery import folder_join_candidates
    from whiterrabbit_spark.session import get_spark

    spark = get_spark(app_name="wrs-discover", cpus=args.cpus)
    sep = "\t" if args.delimiter == "tab" else ","
    tables = {}
    for name, path in wio.discover_tables(
        args.working_folder, args.delimiter, args.source_format
    ):
        if args.source_format == "delimited":
            tables[name] = wio.read_all_string(spark, path, sep)
        elif args.source_format == "jsonl":
            tables[name] = spark.read.json(path)
        else:
            tables[name] = spark.read.format(args.source_format).load(path)
    if len(tables) < 2:
        print("Need at least two tables to discover joins", file=sys.stderr)
        return 2
    with cache_scope():
        out = folder_join_candidates(tables, args.min_containment)
        rows = out.orderBy(
            F.greatest("containment_a", "containment_b").desc(),
            "col_a", "col_b",
        ).collect()
    header = ("col_a\tcol_b\tn_a\tn_b\tn_common\tjaccard\t"
              "containment_a\tcontainment_b")
    lines = [header] + [
        f"{r['col_a']}\t{r['col_b']}\t{r['n_a']}\t{r['n_b']}\t"
        f"{r['n_common']}\t{r['jaccard']:.6f}\t"
        f"{r['containment_a']:.6f}\t{r['containment_b']:.6f}"
        for r in rows
    ]
    text = "\n".join(lines) + "\n"
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w", encoding="utf-8") as fh:
            fh.write(text)
        print(f"Wrote: {args.out} ({len(rows)} candidate pairs)")
    else:
        print(text, end="")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
