#!/usr/bin/env python
"""Streaming-family throughput sweep (r9 — VERDICT r8 next-round #4).

The three benched streaming entries (streaming_dedup,
streaming_active_users, streaming_sliding_rate) read 1.4-2.8 s at
sf0.1, which is almost entirely micro-batch fixed overhead — the sf0.1
bench cannot see their THROUGHPUT shape. This harness measures it: the
sf0.1 events table is replicated deterministically to multi-million-row
corpora (event_id strided, ts shifted one second per replica so dedup
keys stay unique and window membership is preserved), each operator's
exact registry plan is drained to the NOOP sink (guide §1.4 — the
memory sink would add a driver collect the real query pays at no scale),
and wall seconds + input rows/s + the state-operator metrics from the
final StreamingQueryProgress are recorded per (op, scale).

streaming_dedup is additionally measured in BOTH projection shapes —
"wide" (dedup over all 6 source columns, the pre-r9 registry shape) and
"narrow" (props projected out before the union+dedup, guide §2.3:
project before the exchange; the registry's final select never reads
props) — so the A/B for the r9 projection change is recorded in one
epoch on one host.

Usage:
  python tools/stream_scale.py gen
  python tools/stream_scale.py run  [--names ...] [--scales s2,s8]
  python tools/stream_scale.py report   # -> STREAM_SCALE_r9.json

Results append to .smoke/stream_r9/results.jsonl (resumable; --force
re-records).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SMOKE = os.path.join(REPO, ".smoke", "stream_r9")
RESULTS = os.path.join(SMOKE, "results.jsonl")
SF01 = "/root/testdata/sf0.1"
SCALES = {"s2": 20, "s8": 80}  # replicas of the 100k-row sf0.1 events


def _spark(name: str):
    from whiterrabbit_spark.session import get_spark

    return get_spark(app_name=name)


def cmd_gen(reps_by_scale: dict[str, int]) -> None:
    from pyspark.sql import functions as F

    spark = _spark("stream-scale-gen")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    base = spark.read.parquet(os.path.join(SF01, "events.parquet"))
    ts_type = dict(base.dtypes).get("ts")
    if ts_type == "bigint":
        base = base.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
        )
    n_base = base.count()
    for scale, reps in reps_by_scale.items():
        out = os.path.join(SMOKE, scale, "events.parquet")
        if os.path.exists(out):
            print(f"skip gen {scale} (exists)")
            continue
        t0 = time.time()
        rep = base.crossJoin(
            spark.range(reps).withColumnRenamed("id", "__rep")
        ).select(
            (F.col("event_id") + F.col("__rep") * n_base).alias("event_id"),
            (
                F.col("ts")
                + F.make_interval(secs=F.col("__rep").cast("int"))
            ).alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        rep.repartition(16).write.mode("overwrite").parquet(out)
        print(
            f"gen {scale}: {reps}x{n_base} rows in {time.time() - t0:.0f}s"
        )
    spark.stop()


def _drain_noop(profiled, checkpoint: str):
    q = (
        profiled.writeStream.format("noop")
        .option("checkpointLocation", checkpoint)
        .outputMode(
            "complete" if profiled.isStreaming and _is_agg(profiled) else "append"
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _is_agg(df) -> bool:
    # complete mode is required for the two aggregation ops; the dedup
    # op must run append. Sniff from the logical plan string.
    plan = df._jdf.queryExecution().logical().toString()
    return "Aggregate" in plan


def _targets():
    from whiterrabbit_spark.extensions import streaming as st

    # the generated corpus is a parquet DIRECTORY (16 part files —
    # realistic file-stream input); point the file source at it with a
    # leaf-file glob (the registry's default glob names the sf layout's
    # single file, which matches nothing here)
    def _src(spark, d):
        return st.stream_events_from_parquet(
            spark, os.path.join(d, "events.parquet"), glob="*.parquet"
        )

    def dedup_wide(spark, d):
        src = _src(spark, d).unionByName(_src(spark, d))
        return st.dedup_stream(src, key_cols=["event_id"])

    def dedup_narrow(spark, d):
        cols = ["event_id", "ts", "user_id", "event_type", "value"]
        src = _src(spark, d).select(*cols).unionByName(
            _src(spark, d).select(*cols)
        )
        return st.dedup_stream(src, key_cols=["event_id"])

    def dau(spark, d):
        return st.streaming_user_days(_src(spark, d))

    def sliding(spark, d):
        return st.sliding_rate(
            _src(spark, d), window="1 hour", slide="30 minutes"
        )

    return {
        "streaming_dedup_wide": (dedup_wide, 2),  # input = 2x rows (union)
        "streaming_dedup_narrow": (dedup_narrow, 2),
        "streaming_active_users": (dau, 1),
        "streaming_sliding_rate": (sliding, 1),
    }


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
                    done.add((r["query"], r["scale"]))
    return done


def cmd_run(names, scales, force: bool = False) -> None:
    import shutil
    import uuid

    targets = _targets()
    if names:
        targets = {n: targets[n] for n in names}
    done = set() if force else _recorded()
    spark = _spark("stream-scale-run")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(SMOKE, exist_ok=True)
    # UNRECORDED warmup drain: the first streaming query in a session
    # pays ~2-4 s of classloading/codegen/state-store init that
    # contaminated whichever target ran first (measured: same query
    # 4.61 s warm-slot vs 8.44 s first-slot at s8). Every recorded row
    # below is a warm-slot number.
    warm_ckpt = os.path.join(SMOKE, f"ckpt_warm_{uuid.uuid4().hex[:8]}")
    try:
        _drain_noop(
            _targets()["streaming_sliding_rate"][0](
                spark, os.path.join(SMOKE, scales[0])
            ),
            warm_ckpt,
        )
    finally:
        shutil.rmtree(warm_ckpt, ignore_errors=True)
    for scale in scales:
        d = os.path.join(SMOKE, scale)
        n_rows = spark.read.parquet(os.path.join(d, "events.parquet")).count()
        for name, (fn, input_mult) in targets.items():
            if (name, scale) in done:
                print(f"skip {name}/{scale} (recorded)")
                continue
            ckpt = os.path.join(SMOKE, f"ckpt_{uuid.uuid4().hex[:8]}")
            rec = {"query": name, "scale": scale, "n_rows": n_rows}
            spark.sparkContext.setJobDescription(f"stream-scale {name}/{scale}")
            t0 = time.time()
            try:
                q = _drain_noop(fn(spark, d), ckpt)
                rec["sec"] = round(time.time() - t0, 2)
                rec["input_rows"] = n_rows * input_mult
                rec["rows_per_sec"] = round(n_rows * input_mult / rec["sec"])
                prog = q.lastProgress or {}
                rec["n_batches"] = len(q.recentProgress or [])
                rec["durationMs"] = (prog.get("durationMs") or {})
                ops = prog.get("stateOperators") or []
                rec["state"] = [
                    {
                        k: o.get(k)
                        for k in (
                            "operatorName",
                            "numRowsTotal",
                            "numRowsUpdated",
                            "commitTimeMs",
                            "numShufflePartitions",
                        )
                    }
                    for o in ops
                ]
            except Exception as e:
                rec["sec"] = round(time.time() - t0, 2)
                rec["error"] = str(e)[:300]
            finally:
                shutil.rmtree(ckpt, ignore_errors=True)
            with open(RESULTS, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            print(json.dumps(rec))
    spark.stop()


def cmd_report(out_name: str = "STREAM_SCALE_r9.json") -> None:
    rows: dict[tuple[str, str], dict] = {}
    with open(RESULTS) as fh:
        for line in fh:
            r = json.loads(line)
            if "error" not in r:
                rows[(r["query"], r["scale"])] = r
    out: dict[str, dict] = {}
    for (q, scale), r in sorted(rows.items()):
        ent = out.setdefault(q, {})
        ent[scale] = {
            k: r.get(k)
            for k in ("sec", "input_rows", "rows_per_sec", "n_batches",
                      "durationMs", "state")
        }
    for q, ent in out.items():
        if "s2" in ent and "s8" in ent:
            data_ratio = ent["s8"]["input_rows"] / ent["s2"]["input_rows"]
            time_ratio = ent["s8"]["sec"] / ent["s2"]["sec"]
            ent["slope"] = round(time_ratio / data_ratio, 3)
    with open(os.path.join(REPO, out_name), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps(out, indent=1, sort_keys=True))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["gen", "run", "report"])
    ap.add_argument("--names", default=None)
    ap.add_argument("--scales", default="s2,s8")
    ap.add_argument("--force", action="store_true")
    args = ap.parse_args()
    if args.cmd == "gen":
        cmd_gen(SCALES)
    elif args.cmd == "run":
        names = args.names.split(",") if args.names else None
        cmd_run(names, args.scales.split(","), force=args.force)
    else:
        cmd_report()


if __name__ == "__main__":
    main()
