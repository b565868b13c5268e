"""Snapshot drift report — re-profile two versions of a data folder and
diff the summaries.

The reference profiles one folder at a time; the operational loop around
a profiler is "profile every snapshot and tell me what MOVED". This
module composes the existing scan pipeline into that loop:

    python -m whiterrabbit_spark.drift -a snapA/ -b snapB/ -o out/ -d comma

Per file (matched by name) and per column, the report emits the old/new
value and delta for the load-bearing summary statistics — missing rate,
empty rate, distinct count, mean/median/min/max for numerics, data-type
changes (an inference flip is the loudest schema-drift signal a
profiling engine can give) — plus columns only present on one side.

Everything heavy is the already-tested scan pipeline (one profile pass
per snapshot — the two scans run independently and can overlap); the
diff itself joins the two O(columns) summary frames, so this adds no
data-sized work beyond the profiles.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whiterrabbit_spark.cache import cache_scope
from whiterrabbit_spark.config import ScanConfig
from whiterrabbit_spark.scan import scan_folder
from whiterrabbit_spark.session import get_spark, local_frame

# (stat column, emit delta?) — deltas only where subtraction is meaningful
_STATS: tuple[tuple[str, bool], ...] = (
    ("data_type", False),
    ("total_count", True),
    ("missing_count", True),
    ("empty_count", True),
    ("distinct_count", True),
    ("mean_val", True),
    ("median_val", True),
    ("min_val", True),
    ("max_val", True),
)


def diff_summaries(old: DataFrame, new: DataFrame) -> DataFrame:
    """Column-level drift frame from two profile summary frames
    (profile.SUMMARY_SCHEMA). Output: one row per column present in
    either snapshot, with ``status`` (both | only_old | only_new),
    old/new per stat, deltas where numeric, and ``type_changed``."""
    o = old.select(
        F.col("column_name"),
        *[F.col(s).alias(f"old_{s}") for s, _ in _STATS],
    )
    n = new.select(
        F.col("column_name"),
        *[F.col(s).alias(f"new_{s}") for s, _ in _STATS],
    )
    joined = o.join(n, "column_name", "full_outer")
    status = (
        F.when(F.col("old_data_type").isNull(), F.lit("only_new"))
        .when(F.col("new_data_type").isNull(), F.lit("only_old"))
        .otherwise(F.lit("both"))
    )
    cols = [F.col("column_name"), status.alias("status")]
    cols.append(
        (
            (F.col("old_data_type") != F.col("new_data_type"))
            & F.col("old_data_type").isNotNull()
            & F.col("new_data_type").isNotNull()
        ).alias("type_changed")
    )
    for s, delta in _STATS:
        cols += [F.col(f"old_{s}"), F.col(f"new_{s}")]
        if delta:
            cols.append(
                (F.col(f"new_{s}") - F.col(f"old_{s}")).alias(f"delta_{s}")
            )
    return joined.select(*cols).orderBy("column_name")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="whiterrabbit-spark-drift",
        description="Profile two snapshots of a data folder and report "
        "per-column stat drift",
    )
    p.add_argument("-a", "--old", required=True, help="old snapshot folder")
    p.add_argument("-b", "--new", required=True, help="new snapshot folder")
    p.add_argument("-o", "--output-dir", default=".")
    p.add_argument("-d", "--delimiter", default="tab", choices=["tab", "comma"])
    p.add_argument("--source-format", default="delimited",
                   choices=["delimited", "jsonl", "parquet", "orc", "txt"])
    p.add_argument("-m", "--max-rows", type=int, default=-1,
                   help="-1 profiles all rows (drift wants full stats)")
    p.add_argument("-p", "--prefix", default="DriftReport")
    p.add_argument("-c", "--cpus", type=int, default=None)
    return p


def _distribution_tests(old_r, new_r) -> DataFrame | None:
    """Distributional drift tests over the matched file pair's typed
    frames: two-sample KS per shared numeric column, chi-square
    homogeneity per shared string column — the shape-shift signals the
    scalar delta table can hide (identical mean/sd, different
    distribution). One tall frame: (column_name, test, stat, detail)."""
    from whiterrabbit_spark.profile import chi2_drift, ks_drift

    o, n = old_r.typed, new_r.typed
    if o is None or n is None:
        return None
    shared = {f.name: f.dataType.simpleString() for f in o.schema.fields}
    num = [c for c, t in shared.items()
           if t in ("double", "bigint", "int", "long")
           and dict((f.name, f.dataType.simpleString())
                    for f in n.schema.fields).get(c) == t]
    cat = [c for c, t in shared.items()
           if t == "string"
           and dict((f.name, f.dataType.simpleString())
                    for f in n.schema.fields).get(c) == t]
    frames = []
    for c in num:
        frames.append(
            ks_drift(o, n, c).select(
                F.lit(c).alias("column_name"), F.lit("ks").alias("test"),
                F.col("ks_stat").cast("double").alias("stat"),
                F.col("n_new").cast("long").alias("detail"),
            )
        )
    if cat:
        frames.append(
            chi2_drift(o, n, cat).select(
                "column_name", F.lit("chi2").alias("test"),
                F.col("chi2").cast("double").alias("stat"),
                F.col("dof").cast("long").alias("detail"),
            )
        )
    if not frames:
        return None
    res = frames[0]
    for fr in frames[1:]:
        res = res.unionByName(fr)
    return res



def run_drift(
    spark: SparkSession,
    old_dir: str,
    new_dir: str,
    cfg: ScanConfig,
) -> dict[str, DataFrame]:
    """(file_name → drift frame) for files matched by name; files present
    on one side only appear under ``__only_old__`` / ``__only_new__`` as
    single-column name lists."""
    _, old_results = scan_folder(spark, old_dir, cfg)
    _, new_results = scan_folder(spark, new_dir, cfg)
    old_by = {r.file_name: r for r in old_results}
    new_by = {r.file_name: r for r in new_results}
    out: dict[str, DataFrame] = {}
    for name in sorted(set(old_by) & set(new_by)):
        out[name] = diff_summaries(old_by[name].summary, new_by[name].summary)
        stats = _distribution_tests(old_by[name], new_by[name])
        if stats is not None:
            out[f"{name}::stats"] = stats
    for tag, names in (
        ("__only_old__", sorted(set(old_by) - set(new_by))),
        ("__only_new__", sorted(set(new_by) - set(old_by))),
    ):
        if names:
            out[tag] = local_frame(
                spark, [(n,) for n in names], "file_name string"
            )
    return out


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    for d in (args.old, args.new):
        if not os.path.isdir(d):
            print(f"error: not a folder: {d}", file=sys.stderr)
            return 2
    os.makedirs(args.output_dir, exist_ok=True)
    cfg = ScanConfig(
        delimiter=args.delimiter,
        max_rows=args.max_rows,
        source_format=args.source_format,
        scan_field_values=False,  # drift needs summaries, not value tables
    )
    spark = get_spark(cpus=args.cpus)
    with cache_scope():
        reports = run_drift(spark, args.old, args.new, cfg)
        for name, df in reports.items():
            safe = name.replace("/", "_").replace(".", "_")
            path = os.path.join(args.output_dir, f"{args.prefix}_{safe}.tsv")
            pdf = df.toPandas()
            pdf.to_csv(path, sep="\t", index=False)
            print(f"Wrote: {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
