"""Dataset-card generator: one markdown artifact per documents corpus.

The human-facing rollup a training-data curator publishes next to a
corpus — volume, exact-duplicate rate, language and quality mix, length
distribution, top sources — assembled from the same one-pass
aggregations the registry's ``corpus_report_documents`` query uses
(textstats quality/lang-id/fingerprint expressions; the length quartiles
come from the weighted-percentile-over-histogram trick, so nothing in
the card costs more than a scan plus histogram-sized shuffles).

    python -m whiterrabbit_spark.dataset_card --input DIR \
        [--text-col text] [--lang-col lang] [--source-col source] \
        [--out CARD.md]

``--input`` is a parquet dataset (a directory or a ``documents.parquet``
file). Columns other than the text column are optional — sections whose
column is absent are skipped, so the card works on any text corpus.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whiterrabbit_spark.cache import cache_scope


def _length_quartiles(df: DataFrame, col: str) -> list[float]:
    hist = (
        df.select(F.col(col).cast("double").alias("v"))
        .where(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    row = hist.agg(
        F.percentile(F.col("v"), F.lit([0.25, 0.5, 0.75, 0.95]), F.col("cnt"))
    ).first()[0]
    return [float(x) for x in row] if row else []


def build_card(
    spark: SparkSession,
    input_path: str,
    text_col: str = "text",
    lang_col: str = "lang",
    source_col: str = "source",
    top_k: int = 10,
) -> str:
    from whiterrabbit_spark.extensions import textstats as ts

    df = spark.read.parquet(input_path)
    if text_col not in df.columns:
        raise ValueError(f"column {text_col!r} not in {df.columns}")
    t = F.col(text_col)
    q = ts.quality_exprs(t)

    enriched = df.select(
        "*",
        F.length(t).alias("__chars"),
        ts.bpe_token_count(t).alias("__bpe"),
        q["quality_class"].alias("__qc"),
        ts.fingerprint_expr(t).alias("__fp"),
    )
    head = enriched.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__chars").alias("chars"),
        F.sum("__bpe").alias("bpe"),
        F.count_distinct("__fp").alias("uniq"),
        F.count(F.when(F.col("__qc") == "keep", 1)).alias("keep"),
        F.count(F.when(F.col("__qc") == "review", 1)).alias("review"),
        F.count(F.when(F.col("__qc") == "drop", 1)).alias("drop"),
    ).collect()[0]
    n = head["n_docs"] or 0
    dup_rate = (1 - head["uniq"] / n) if n else 0.0
    qs = _length_quartiles(enriched, "__chars")

    lines = [
        "# Dataset card",
        "",
        f"*Source:* `{input_path}`",
        "",
        "## Volume",
        "",
        f"- documents: **{n:,}**",
        f"- characters: **{(head['chars'] or 0):,}**",
        f"- BPE-ish tokens: **{(head['bpe'] or 0):,}**",
        f"- exact-duplicate rate (normalized fingerprint): "
        f"**{dup_rate:.4%}**",
        "",
        "## Quality mix (heuristic classes)",
        "",
        f"- keep: {head['keep']:,} — review: {head['review']:,} — "
        f"drop: {head['drop']:,}",
    ]
    if qs:
        lines += [
            "",
            "## Document length (chars)",
            "",
            f"- p25 {qs[0]:,.0f} · median {qs[1]:,.0f} · p75 {qs[2]:,.0f}"
            f" · p95 {qs[3]:,.0f}",
        ]
    for col, title in ((lang_col, "Language mix"), (source_col, "Top sources")):
        if col not in df.columns:
            continue
        rows = (
            df.groupBy(col)
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc(col))
            .limit(top_k)
            .collect()
        )
        lines += ["", f"## {title}", ""]
        lines += [
            f"- `{r[col]}`: {r['n']:,} ({r['n'] / n:.1%})" for r in rows
        ]
    lines += [
        "",
        "---",
        "*Generated by whiterrabbit_spark dataset_card (one corpus scan + "
        "histogram-sized shuffles).*",
        "",
    ]
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="whiterrabbit-spark-dataset-card",
        description="generate a markdown dataset card for a parquet text corpus",
    )
    p.add_argument("--input", required=True, help="parquet dataset path")
    p.add_argument("--text-col", default="text")
    p.add_argument("--lang-col", default="lang")
    p.add_argument("--source-col", default="source")
    p.add_argument("--out", default=None, help="output .md (default: stdout)")
    p.add_argument("-c", "--cpus", type=int, default=None)
    args = p.parse_args(argv)

    from whiterrabbit_spark.session import get_spark

    spark = get_spark(app_name="wrs-dataset-card", cpus=args.cpus)
    with cache_scope():
        card = build_card(
            spark, args.input, args.text_col, args.lang_col, args.source_col
        )
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w", encoding="utf-8") as fh:
            fh.write(card)
        print(f"Wrote: {args.out}")
    else:
        print(card)
    return 0


if __name__ == "__main__":
    sys.exit(main())
