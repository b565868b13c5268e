#!/usr/bin/env python
"""Systematic scale sweep over the most expensive registry queries
(VERDICT r6 #1): run each at >=20M rows / >=1M docs with a planted-skew
variant, record wall time + executed-plan scan/exchange counts + the
mid-vs-full scaling slope, and commit the aggregate as SCALE_r7.json.

Rationale (VERDICT r6): every 20M+ smoke so far found a real plan bug
the sf0.1 bench could not see (attribution_decay x5 scans, layout_prune
x27 scans, token_cosine 39 s, span_dedup O(n^2) HOF) — this harness
makes that check systematic for the ~20 queries that dominate
BENCH_r06, instead of one-off scripts per round.

Data: synthetic, deterministic (xxhash64-seeded, no RNG state), written
once per (variant, scale) under .smoke/scale_r7/ and reused across
queries. lineitem/orders replicate the driver's sf0.1 parquet with
order-key striding (schema-exact); documents/embeddings are generated
from scratch so the corpus has realistic structure at 1M+ rows:

* documents — per doc ~50 whitespace tokens: 20 drawn from 50 HOT
  common tokens (df ~= corpus size -> correctly pruned by every
  df-capped inverted index), 20 from a ~4x-corpus-size RARE vocab
  (E[df] ~= 5 -> bounded candidate fan-out, the realistic mid-band),
  10 doc-unique. 2% of docs sit in planted 4-member near-dup clusters
  (shared 40-token body + 1 member token) that MinHash / SimHash /
  containment / token-cosine must find.
* embeddings — 64-dim, 4096 planted spherical clusters with jitter
  sized so SAME-cluster cosine ≈ 0.7 (cluster structure for the IVF
  quantizer WITHOUT making the whole corpus near-duplicate: a first
  cut with 32 tight clusters put ~10⁹ genuinely-true pairs above the
  near-dup threshold and filled the disk — realistic corpora have
  sparse near-dups); 0.8% of vectors sit in planted 4-member dup
  groups (shared jitter seed, cosine ≈ 1.0) the near-pair ops must
  find at threshold 0.9.

Skew variants plant the adversarial shape each family's guards exist
for: one 20k-member near-identical document cluster (hot LSH band /
span-hash / shingle bucket), 30% of vectors in ONE IVF list plus a
10k-member dup group (hot argmax window), 10% of lineitem rows on one
l_partkey (hot graph node), 20% of orders on one o_custkey (hot SCD2 /
sessionize partition).

Usage:
  python tools/scale_sweep.py gen    [--variant base|skew|mid]
  python tools/scale_sweep.py run    [--variant ...] [--names a,b,...]
  python tools/scale_sweep.py report                    # -> SCALE_r7.json

Results append to .smoke/scale_r7/results.jsonl (resumable: recorded
(query, variant) pairs are skipped on re-run).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SMOKE = os.path.join(REPO, ".smoke", "scale_r7")
RESULTS = os.path.join(SMOKE, "results.jsonl")
SF01 = "/root/testdata/sf0.1"

# (variant, scale knobs): rep multiplies the sf0.1 lineitem/orders rows
# (600k / 150k per rep); docs/vecs are generated counts.
SCALES = {
    "base": {"rep": 34, "docs": 2_000_000, "vecs": 1_000_000, "skew": False},
    "skew": {"rep": 34, "docs": 2_000_000, "vecs": 1_000_000, "skew": True},
    # mid: same character as base at ~1/4 size — the slope denominator.
    "mid": {"rep": 8, "docs": 500_000, "vecs": 250_000, "skew": False},
}

HOT_DOCS = 20_000      # skew: one near-identical doc cluster
HOT_VEC_FRAC = 0.30    # skew: share of vectors forced into IVF list 0
HOT_DUP_VECS = 10_000  # skew: one keep-best dup group
N_COMMON_TOKS = 20
N_RARE_TOKS = 20
N_UNIQ_TOKS = 10


def _spark(app: str):
    """The shipped session (``get_spark``) at the sweep's size: 64 shuffle
    partitions (AQE starts at 512) and a 48 GB driver."""
    from whiterrabbit_spark.session import get_spark

    return get_spark(
        app_name=app,
        shuffle_partitions=64,
        extra_conf={"spark.driver.memory": "48g"},
    )


# ---------------------------------------------------------------- gen


def gen_lineitem(spark, out: str, rep: int, skew: bool) -> None:
    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(SF01, "lineitem.parquet"))
    stride = li.agg(F.max("l_orderkey")).collect()[0][0] + 1
    df = (
        li.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(rep - 1)))
        )
        .withColumn(
            "l_orderkey",
            F.col("l_orderkey") + F.col("rep") * F.lit(int(stride)),
        )
    )
    if skew:
        # 10% of all lines land on ONE part: a graph node of huge
        # degree (adamic wedge caps) and a hot group key.
        df = df.withColumn(
            "l_partkey",
            F.when(
                F.pmod(
                    F.xxhash64("l_orderkey", "l_linenumber", "rep"), 10
                )
                == 0,
                F.lit(1),
            ).otherwise(F.col("l_partkey")),
        )
    df.drop("rep").repartition(64).write.mode("overwrite").parquet(out)


def gen_orders(spark, out: str, rep: int, skew: bool) -> None:
    from pyspark.sql import functions as F

    o = spark.read.parquet(os.path.join(SF01, "orders.parquet"))
    stride = o.agg(F.max("o_orderkey")).collect()[0][0] + 1
    df = (
        o.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(rep - 1)))
        )
        .withColumn(
            "o_orderkey",
            F.col("o_orderkey") + F.col("rep") * F.lit(int(stride)),
        )
    )
    if skew:
        # 20% of orders on ONE customer: a hot SCD2/window partition.
        df = df.withColumn(
            "o_custkey",
            F.when(
                F.pmod(F.xxhash64("o_orderkey", "rep"), 5) == 0, F.lit(1)
            ).otherwise(F.col("o_custkey")),
        )
    df.drop("rep").repartition(64).write.mode("overwrite").parquet(out)


def gen_documents(spark, out: str, n_docs: int, skew: bool) -> None:
    from pyspark.sql import functions as F

    i = F.col("id")
    member = F.pmod(i, 4)
    clustered = F.pmod(i, 200) < 4
    base = F.when(clustered, i - member).otherwise(i)
    if skew:
        base = F.when(i < HOT_DOCS, F.lit(-1)).otherwise(base)
        clustered = clustered | (i < HOT_DOCS)
    rare_vocab = n_docs * 4

    def common(j: int):
        return F.concat(
            F.lit("c"), F.pmod(F.xxhash64(base, F.lit(j * 7 + 1)), 50)
        )

    def rare(j: int):
        return F.concat(
            F.lit("r"),
            F.pmod(F.xxhash64(base, F.lit(j * 13 + 3)), rare_vocab),
        )

    toks = (
        [common(j) for j in range(N_COMMON_TOKS)]
        + [rare(j) for j in range(N_RARE_TOKS)]
        # member marker makes cluster members NEAR-dups, not exact
        + [F.concat(F.lit("mem"), member)]
        + [
            F.concat(F.lit("u"), i, F.lit(f"x{j}"))
            for j in range(N_UNIQ_TOKS)
        ]
    )
    text = F.concat_ws(" ", *toks)
    langs = F.array(*[F.lit(x) for x in ("en", "de", "fr", "es", "pt")])
    df = spark.range(n_docs, numPartitions=64).select(
        i.alias("doc_id"),
        text.alias("text"),
        F.element_at(langs, (F.pmod(F.xxhash64(i, F.lit(5)), 5) + 1).cast("int")).alias(
            "lang"
        ),
        F.pmod(i, 10).cast("string").alias("source"),
        F.length(text).cast("long").alias("n_chars"),
    )
    df.write.mode("overwrite").parquet(out)


def gen_embeddings(spark, out: str, n_vecs: int, skew: bool) -> None:
    from pyspark.sql import functions as F

    i = F.col("id")
    member = F.pmod(i, 4)
    grouped = F.pmod(i, 500) < 4
    jitter_seed = F.when(grouped, i - member).otherwise(i)
    if skew:
        grouped = grouped | (i < HOT_DUP_VECS)
        jitter_seed = F.when(i < HOT_DUP_VECS, F.lit(-1)).otherwise(
            jitter_seed
        )
    # cluster derives from the GROUP base so dup-group members share
    # their center too (center+jitter both shared -> cosine ≈ 1.0)
    cluster = F.pmod(F.xxhash64(jitter_seed, F.lit(11)), 4096)
    if skew:
        # 30% of non-grouped vectors pile into ONE quantizer list
        cluster = F.when(
            (~grouped)
            & (
                F.pmod(F.xxhash64(i, F.lit(17)), 100)
                < int(HOT_VEC_FRAC * 100)
            ),
            F.lit(0),
        ).otherwise(cluster)

    def dim(d: int):
        center = (
            F.pmod(F.xxhash64(cluster, F.lit(d * 31 + 2)), 1000) / 500.0
            - 1.0
        )
        # jitter var ≈ 0.43 × center var → same-cluster cosine ≈ 0.7:
        # clustered for the quantizer, NOT near-duplicate
        jit = (
            F.pmod(F.xxhash64(jitter_seed, F.lit(d * 37 + 5)), 1000)
            / 750.0
            - 0.667
        )
        # per-member epsilon keeps dup-group members distinct
        eps = (member * 0.001) if d == 0 else F.lit(0.0)
        return (center + jit + eps).cast("float")

    df = spark.range(n_vecs, numPartitions=64).select(
        i.alias("vec_id"),
        F.array(*[dim(d) for d in range(64)]).alias("embedding"),
        cluster.cast("int").alias("label"),
    )
    df.write.mode("overwrite").parquet(out)


def cmd_gen(variant: str) -> None:
    cfg = SCALES[variant]
    vdir = os.path.join(SMOKE, variant)
    os.makedirs(vdir, exist_ok=True)
    spark = _spark(f"scale-gen-{variant}")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    gen_lineitem(
        spark, os.path.join(vdir, "lineitem.parquet"), cfg["rep"],
        cfg["skew"],
    )
    gen_orders(
        spark, os.path.join(vdir, "orders.parquet"), cfg["rep"],
        cfg["skew"],
    )
    gen_documents(
        spark, os.path.join(vdir, "documents.parquet"), cfg["docs"],
        cfg["skew"],
    )
    gen_embeddings(
        spark, os.path.join(vdir, "embeddings.parquet"), cfg["vecs"],
        cfg["skew"],
    )
    sizes = {
        t: spark.read.parquet(os.path.join(vdir, f"{t}.parquet")).count()
        for t in ("lineitem", "orders", "documents", "embeddings")
    }
    print(f"gen {variant}: {sizes} in {time.time() - t0:.0f}s")
    spark.stop()


# ---------------------------------------------------------------- run


def _targets():
    """name -> callable(spark, sf_dir) -> DataFrame, via the registry
    (the code under measurement is exactly what the driver verifies)."""
    import bench as bench_mod
    from whiterrabbit_spark.queries import build_registry

    queries, _ = build_registry()

    # The two LSH near-pair entries run with the SCALE dials a 100 TB
    # user would set (the operator docstrings' own guidance): auto
    # n_planes (log2(n/500); the registry's explicit 4 is sized for the
    # 2k-vector sf0.1 corpus and degenerates to ~15k-row buckets here)
    # + the giant-bucket guard + a true near-dup threshold (0.9 — the
    # registry's 0.4 matches the testdata's cluster spacing, not
    # dedup semantics).
    def _hyperplane_scale(spark, sf_dir):
        from whiterrabbit_spark.extensions import similarity as sim
        from whiterrabbit_spark.io import read_parquet_table

        df = read_parquet_table(spark, sf_dir, "embeddings")
        return sim.hyperplane_near_pairs(
            df, 0.9, dim=64, n_tables=8, seed=42, max_bucket_size=4000,
            auto_bucket_target=64,
        )

    def _hyperplane_prescreen(spark, sf_dir):
        # the r9 opt-in sign-bit Hamming prescreen at its documented
        # dial (256 bits, default 3-sigma margin) — same corpus dials
        # as _hyperplane_scale so the A/B isolates the prescreen
        from whiterrabbit_spark.extensions import similarity as sim
        from whiterrabbit_spark.io import read_parquet_table

        df = read_parquet_table(spark, sf_dir, "embeddings")
        return sim.hyperplane_near_pairs(
            df, 0.9, dim=64, n_tables=8, seed=42, max_bucket_size=4000,
            auto_bucket_target=64, prescreen_bits=256,
        )

    def _keep_best_scale(spark, sf_dir):
        from whiterrabbit_spark.extensions import similarity as sim
        from whiterrabbit_spark.io import read_parquet_table

        df = read_parquet_table(spark, sf_dir, "embeddings")
        return sim.embedding_keep_best(
            df, 0.9, dim=64, n_tables=8, seed=42, max_bucket_size=4000,
            auto_bucket_target=64,
        )

    def _simhash_scale(spark, sf_dir):
        from whiterrabbit_spark.extensions import dedup as D
        from whiterrabbit_spark.io import read_parquet_table

        docs = read_parquet_table(spark, sf_dir, "documents")
        return D.simhash_near_pairs(
            docs, "text", "doc_id", max_hamming=3, max_bucket_size="auto"
        )

    def _minhash_scale(spark, sf_dir):
        from whiterrabbit_spark.extensions import dedup as D
        from whiterrabbit_spark.io import read_parquet_table

        docs = read_parquet_table(spark, sf_dir, "documents")
        return D.minhash_dedup_pairs(
            docs, "text", "doc_id", k=3, rows_per_band="auto",
            threshold=0.5, seed=42, max_bucket_size=2_000,
        )

    t = {
        "pagerank": queries["pagerank_lineitem"],
        "ann_ivf_tuning": queries["ann_ivf_tuning_embeddings"],
        "zorder_layout": queries["zorder_layout_lineitem"],
        "adamic_adar": queries["adamic_adar_lineitem"],
        "embedding_keep_best": _keep_best_scale,
        "hyperplane_near_pairs": _hyperplane_scale,
        "hyperplane_near_pairs_prescreen": _hyperplane_prescreen,
        "keep_best_dedup": queries["keep_best_dedup_documents"],
        "cross_source_dups": queries["cross_source_dups_documents"],
        "ab_test": queries["ab_test_orders"],
        "token_cosine": queries["token_cosine_pairs_documents"],
        "dup_spans": queries["dup_spans_documents"],
        "containment_pairs": queries["containment_pairs_documents"],
        "equi_depth_hist": queries["equi_depth_hist_lineitem"],
        "bootstrap_ci": queries["bootstrap_ci_orders"],
        "scd2_history": queries["scd2_history_orders"],
        "minhash_recall": queries["minhash_recall_documents"],
        "dedup_minhash_lsh": _minhash_scale,
        "dedup_simhash": _simhash_scale,
        "curation_pipeline": queries["curation_pipeline_documents"],
        "neyman_sample": queries["neyman_sample_lineitem"],
        "profile_lineitem": bench_mod.profile_query("lineitem"),
        "profile_lineitem_approx": bench_mod.profile_query(
            "lineitem", bench_mod.CFG_APPROX
        ),
        "freq_lineitem": bench_mod.freq_query("lineitem"),
    }
    return t


def _recorded() -> set[tuple[str, str]]:
    done = set()
    if os.path.exists(RESULTS):
        with open(RESULTS) as fh:
            for line in fh:
                try:
                    r = json.loads(line)
                except ValueError:
                    continue
                if "error" not in r:
                    done.add((r["query"], r["variant"]))
    return done


def cmd_run(
    variant: str, names: list[str] | None, force: bool = False
) -> None:
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from plan_audit import audit_plan

    vdir = os.path.join(SMOKE, variant)
    targets = _targets()
    if names:
        unknown = [n for n in names if n not in targets]
        if unknown:
            print(f"unknown: {unknown}", file=sys.stderr)
            sys.exit(2)
        targets = {n: targets[n] for n in names}
    done = set() if force else _recorded()
    spark = _spark(f"scale-run-{variant}")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(SMOKE, exist_ok=True)
    for name, fn in targets.items():
        if (name, variant) in done:
            print(f"skip {name}/{variant} (recorded)")
            continue
        rec = {"query": name, "variant": variant}
        t0 = time.time()
        try:
            df = fn(spark, vdir)
            n = df.count()
            rec["sec"] = round(time.time() - t0, 2)
            rec["rows"] = n
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            rec.update(audit_plan(plan))
        except Exception as e:  # record and continue — artifact is total
            rec["sec"] = round(time.time() - t0, 2)
            rec["error"] = str(e)[:300]
        with open(RESULTS, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        print(json.dumps(rec))
        spark.catalog.clearCache()
    spark.stop()


# ------------------------------------------------------------- report


def cmd_report(out_name: str = "SCALE_r7.json") -> None:
    rows: dict[tuple[str, str], dict] = {}
    with open(RESULTS) as fh:
        for line in fh:
            r = json.loads(line)
            rows[(r["query"], r["variant"])] = r  # last write wins
    queries = sorted({q for q, _ in rows})
    cfg_b, cfg_m = SCALES["base"], SCALES["mid"]
    # data ratios differ per family; lineitem/orders rep ratio vs
    # docs/vecs count ratio — report the dominant-table ratio per query
    doc_fams = (
        "token_cosine", "dup_spans", "containment_pairs",
        "minhash_recall", "dedup_minhash_lsh", "dedup_simhash",
        "curation_pipeline", "keep_best_dedup", "cross_source_dups",
    )
    vec_fams = (
        "ann_ivf_tuning", "embedding_keep_best", "hyperplane_near_pairs",
        "hyperplane_near_pairs_prescreen",
    )
    out = {
        "scales": SCALES,
        "dials": {
            "hyperplane_near_pairs": "operator direct: threshold=0.9, "
            "auto n_planes (target 64 rows/bucket), n_tables=8, "
            "max_bucket_size=4000 — the dials a user sets for near-dup "
            "at this corpus size; registry entry keeps sf0.1 dials for "
            "oracle stability",
            "embedding_keep_best": "same dials as hyperplane_near_pairs",
            "dedup_simhash": "operator direct: max_bucket_size='auto' "
            "(occupancy-relative cap, r8) — the dial a user sets at "
            "this corpus size; registry entry keeps the fixed inert "
            "cap for oracle stability",
            "dedup_minhash_lsh": "operator direct: rows_per_band='auto' "
            "(corpus-probe banding, r8) + max_bucket_size=2000; "
            "registry entry keeps (32, 2) for oracle stability",
            "adamic_adar": "registry entry (no max_degree cap — the "
            "co-purchase graph's degrees are bounded by order size; "
            "tools/smoke_graph_powerlaw.py exercises the cap on a "
            "10M-edge power-law graph)",
        },
        "queries": {},
    }
    for q in queries:
        b = rows.get((q, "base"))
        s = rows.get((q, "skew"))
        m = rows.get((q, "mid"))
        if q in doc_fams:
            ratio = cfg_b["docs"] / cfg_m["docs"]
        elif q in vec_fams:
            ratio = cfg_b["vecs"] / cfg_m["vecs"]
        else:
            ratio = cfg_b["rep"] / cfg_m["rep"]
        ent: dict[str, object] = {"data_ratio_mid_to_base": ratio}
        for tag, r in (("base", b), ("skew", s), ("mid", m)):
            if r is None:
                continue
            ent[tag] = {
                k: r[k]
                for k in (
                    "sec", "rows", "parquet_scans", "exchanges",
                    "broadcasts", "error",
                )
                if k in r
            }
        if b and m and "sec" in b and "sec" in m and m["sec"] > 0:
            slope = b["sec"] / m["sec"]
            ent["slope"] = round(slope, 2)
            # superlinear = slower than data growth with generous slack
            # for the shuffle's n·log n and fixed-overhead amortization
            ent["slope_ok"] = slope <= 1.5 * ratio
        if b and s and "sec" in b and "sec" in s and b["sec"] > 0:
            ent["skew_ratio"] = round(s["sec"] / b["sec"], 2)
        if (
            b
            and m
            and "parquet_scans" in b
            and b.get("parquet_scans") != m.get("parquet_scans")
        ):
            ent["scan_count_drift"] = True
        out["queries"][q] = ent
    path = os.path.join(REPO, out_name)
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(f"wrote {path} ({len(queries)} queries)")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["gen", "run", "report"])
    ap.add_argument("--variant", default="base", choices=list(SCALES))
    ap.add_argument("--names", default=None)
    ap.add_argument(
        "--force", action="store_true",
        help="re-run even if (query, variant) is already recorded; the "
        "new row appends and report's last-write-wins picks it up "
        "(round-8+ re-measures after plan fixes)",
    )
    ap.add_argument(
        "--out", default="SCALE_r7.json",
        help="report artifact filename (repo-relative)",
    )
    args = ap.parse_args()
    if args.cmd == "gen":
        cmd_gen(args.variant)
    elif args.cmd == "run":
        cmd_run(
            args.variant,
            args.names.split(",") if args.names else None,
            force=args.force,
        )
    else:
        cmd_report(args.out)


if __name__ == "__main__":
    main()
