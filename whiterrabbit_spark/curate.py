"""Curation-pipeline CLI — the user surface of the training-data half.

The profiling CLI (`cli.py`) mirrors the reference's scan-report surface
(whiteRRabbit.R:29-91); this command composes the extension operators into
the standard corpus-curation pass a training pipeline runs before
tokenization:

    python -m whiterrabbit_spark.curate \
        -i corpus_parquet/ -o curated/ \
        --steps quality,dedup,decontam,split \
        --bench eval_set.parquet --min-quality 0.4 \
        --weights train=0.9,val=0.05,test=0.05 --partition-by split

Every step is the already-tested operator (quality_exprs filter map-side;
exact dedup keeps each content digest's minimum-id representative via one
digest window; decontamination broadcasts the benchmark's shingles so the
corpus never shuffles text; the split is the deterministic md5-bucket
expression) — the CLI only sequences them into ONE composed DataFrame
plan, so Catalyst fuses the map-side stages into the scan and the whole
pipeline costs its shuffling steps, not its step count. The curated
corpus lands as hive-partitioned parquet through ``sink.write_curated``.

``--report`` additionally emits per-stage surviving-row counts as JSON;
counting forces one action per stage, so it is an explicit opt-in rather
than the default.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whiterrabbit_spark.cache import cache_scope

STEPS = ("normalize", "quality", "dedup", "decontam", "cap", "split")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="whiterrabbit-spark-curate",
        description="Compose quality filter, dedup, decontamination and "
        "splitting into one curated-corpus write",
    )
    p.add_argument("-i", "--input", required=True,
                   help="corpus parquet (file or directory)")
    p.add_argument("-o", "--output", required=True,
                   help="output directory (hive-partitioned parquet)")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--steps", default="quality,dedup,split",
                   help=f"ordered comma-subset of {','.join(STEPS)}")
    p.add_argument("--min-quality", type=float, default=0.4,
                   help="drop docs with quality_score below this")
    p.add_argument("--dedup", default="exact",
                   choices=["exact", "near", "near-best"],
                   help="exact = content-digest; near = MinHash-LSH pairs "
                        "+ connected components, one doc kept per cluster")
    p.add_argument("--jaccard-threshold", type=float, default=0.5,
                   help="near-dedup similarity threshold")
    p.add_argument("--bench", default=None,
                   help="benchmark/eval parquet for decontam step")
    p.add_argument("--shingle-k", type=int, default=5)
    p.add_argument("--overlap-threshold", type=float, default=0.3)
    p.add_argument("--cap-per-source", type=int, default=None,
                   help="max docs kept per --group-col value (cap step)")
    p.add_argument("--group-col", default="source",
                   help="domain/host column for the cap step")
    p.add_argument("--weights", default="train=0.8,val=0.1,test=0.1",
                   help="split weights, name=frac comma list")
    p.add_argument("--salt", default="", help="split hash salt")
    p.add_argument("--partition-by", default=None,
                   help="comma list; defaults to 'split' when splitting")
    p.add_argument("--max-records-per-file", type=int, default=None)
    p.add_argument("--report", default=None,
                   help="write per-stage row counts to this JSON file")
    p.add_argument("-c", "--cpus", type=int, default=None)
    return p


def _parse_weights(spec: str) -> dict[str, float]:
    out: dict[str, float] = {}
    for part in spec.split(","):
        name, _, frac = part.partition("=")
        if not frac:
            raise ValueError(f"bad weight spec {part!r} (want name=frac)")
        out[name.strip()] = float(frac)
    total = sum(out.values())
    if abs(total - 1.0) > 1e-6:
        raise ValueError(f"split weights sum to {total}, want 1.0")
    return out


def curate(
    corpus: DataFrame,
    steps: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.4,
    dedup_mode: str = "exact",
    jaccard_threshold: float = 0.5,
    bench: DataFrame | None = None,
    shingle_k: int = 5,
    overlap_threshold: float = 0.3,
    weights: dict[str, float] | None = None,
    salt: str = "",
    cap_per_source: int | None = None,
    group_col: str = "source",
    count_stages: bool = False,
) -> tuple[DataFrame, dict[str, int]]:
    """Apply the selected curation steps in order; returns the surviving
    corpus (original columns, plus ``quality_score`` after quality and
    ``split`` after split) and, when ``count_stages``, the per-stage
    surviving row counts."""
    from whiterrabbit_spark.extensions import splits as sp
    from whiterrabbit_spark.extensions.decontam import contamination_stats
    from whiterrabbit_spark.extensions.textstats import quality_exprs

    unknown = [s for s in steps if s not in STEPS]
    if unknown:
        raise ValueError(f"unknown curation steps: {unknown}")
    counts: dict[str, int] = {}
    if count_stages:
        counts["input"] = corpus.count()
    df = corpus
    for step in steps:
        if step == "normalize":
            # Unicode NFC + case/whitespace canonicalization IN PLACE, so
            # every later hash (dedup digests, decontam shingles, split
            # buckets) sees canonical text. Map-side; no shuffle.
            from whiterrabbit_spark.extensions.textstats import normalize_expr

            df = df.withColumn(text_col, normalize_expr(F.col(text_col)))
        elif step == "quality":
            # map-side projection + filter; fuses into the scan stage
            df = df.withColumn(
                "quality_score", quality_exprs(F.col(text_col))["quality_score"]
            ).where(F.col("quality_score") >= min_quality)
        elif step == "dedup":
            if dedup_mode == "near-best":
                # near-dedup keeping each cluster's HIGHEST-QUALITY
                # member (keep_best_dedup) instead of the arbitrary
                # min id — near-dups differ in truncation/boilerplate
                # and keep-first throws the best copy away. The score
                # is the rule-based quality expression computed inline
                # (map-only), so the mode composes whether or not the
                # quality FILTER step ran.
                from whiterrabbit_spark.extensions.dedup import (
                    keep_best_dedup,
                    minhash_dedup_pairs,
                )
                from whiterrabbit_spark.extensions.textstats import (
                    quality_exprs,
                )

                pairs = minhash_dedup_pairs(
                    df, text_col, id_col, threshold=jaccard_threshold
                )
                scored = df.select(
                    F.col(id_col),
                    quality_exprs(F.col(text_col))["quality_score"].alias(
                        "score"
                    ),
                )
                kb = keep_best_dedup(scored, pairs, id_col, "score")
                drop = kb.where(~F.col("kept")).select(F.col(id_col))
                df = df.join(drop, id_col, "left_anti")
            elif dedup_mode == "near":
                # MinHash-LSH pairs → connected components → keep each
                # cluster's min-id representative. Exact dups are also
                # near-dups at any threshold, so this subsumes exact mode;
                # the label table holds only docs that appear in a pair.
                from whiterrabbit_spark.extensions.dedup import (
                    connected_components,
                    minhash_dedup_pairs,
                )

                pairs = minhash_dedup_pairs(
                    df, text_col, id_col, threshold=jaccard_threshold
                )
                labels = connected_components(pairs)
                drop = labels.where(
                    F.col("node") != F.col("cluster_id")
                ).select(F.col("node").alias(id_col))
                df = df.join(drop, id_col, "left_anti")
            else:
                # exact content dedup keeping the minimum-id
                # representative: one digest-window shuffle, no join back.
                # md5(NULL) is NULL — without a per-row key every
                # null-text doc would share one window partition and all
                # but the min-id one would be dropped as "duplicates";
                # null text is absence of content, not equal content, so
                # those rows pass through untouched (size-1 partitions,
                # same trick as line_dedup's trivial-line salt).
                pkey = F.when(
                    F.col(text_col).isNull(),
                    F.concat(F.lit("\x00null:"), F.col(id_col).cast("string")),
                ).otherwise(F.md5(F.col(text_col)))
                w = Window.partitionBy(pkey).orderBy(id_col)
                df = (
                    df.withColumn("_rn", F.row_number().over(w))
                    .where(F.col("_rn") == 1)
                    .drop("_rn")
                )
        elif step == "decontam":
            if bench is None:
                raise ValueError("decontam step requires a benchmark frame")
            stats = contamination_stats(df, bench, text_col, id_col, shingle_k)
            dirty = stats.where(
                F.col("overlap_frac") >= overlap_threshold
            ).select(id_col)
            df = df.join(dirty, id_col, "left_anti")
        elif step == "cap":
            # per-domain document cap (deterministic md5 keep-set; one
            # WindowGroupLimit shuffle — a hot domain contributes O(cap)
            # rows per map task, see splits.cap_per_group)
            if not cap_per_source:
                raise ValueError("cap step requires cap_per_source")
            df = sp.cap_per_group(
                df, group_col, id_col, cap_per_source, salt=salt
            )
        elif step == "split":
            df = sp.hash_split(df, id_col, weights, salt)
        if count_stages:
            counts[step] = df.count()
    return df, counts


def main(argv: list[str] | None = None) -> int:
    from whiterrabbit_spark.extensions.sink import write_curated
    from whiterrabbit_spark.session import get_spark

    args = build_parser().parse_args(argv)
    steps = [s.strip() for s in args.steps.split(",") if s.strip()]
    spark = get_spark(cpus=args.cpus)
    corpus = spark.read.parquet(args.input)
    bench = spark.read.parquet(args.bench) if args.bench else None
    if "decontam" in steps and bench is None:
        print("error: --bench is required for the decontam step",
              file=sys.stderr)
        return 2

    with cache_scope():
        df, counts = curate(
            corpus,
            steps,
            text_col=args.text_col,
            id_col=args.id_col,
            min_quality=args.min_quality,
            dedup_mode=args.dedup,
            jaccard_threshold=args.jaccard_threshold,
            bench=bench,
            shingle_k=args.shingle_k,
            overlap_threshold=args.overlap_threshold,
            weights=_parse_weights(args.weights),
            salt=args.salt,
            cap_per_source=args.cap_per_source,
            group_col=args.group_col,
            count_stages=args.report is not None,
        )

        partition_cols = (
            [c.strip() for c in args.partition_by.split(",")]
            if args.partition_by
            else (["split"] if "split" in steps else [])
        )
        if partition_cols:
            write_curated(df, args.output, partition_cols,
                          max_records_per_file=args.max_records_per_file)
        else:
            writer = df.write.mode("overwrite")
            if args.max_records_per_file:
                writer = writer.option(
                    "maxRecordsPerFile", args.max_records_per_file
                )
            writer.parquet(args.output)
    print(f"Wrote curated corpus: {args.output}")

    if args.report is not None:
        with open(args.report, "w") as fh:
            json.dump({"steps": steps, "counts": counts}, fh)
        print(f"Wrote report: {args.report}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
