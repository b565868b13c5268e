#!/usr/bin/env python
"""Mechanical physical-plan audit of every registry query.

Emits one JSON line per query: parquet scan count, Exchange count (data
shuffles), broadcast count, LogicalRDD scan count, and the load-bearing node
names (WindowGroupLimit, TakeOrderedAndProject, SortMergeJoin, mapInPandas,
CartesianProduct, LocalTableScan, ...). This regenerates the
evidence behind PLANS.md instead of hand-counting — run after any operator
change and diff the output.

    python tools/plan_audit.py [--sf DIR] [--names q1,q2,...]

Coverage contract (VERDICT r5 #3): EVERY registry query gets a line.
Streaming-sink queries (the `streaming_*` family) run a real stream to
completion at construction, so they are recorded as explicit
``{"skipped": "streaming"}`` lines unless --include-streaming is given;
queries whose construction runs bounded driver jobs (model fits, index
builds, collect-at-build probes) ARE audited — at the audit scale
(sf0.001) those jobs cost milliseconds and skipping them would hide the
plans the audit exists to check. Unknown --names fail hard (exit 2),
and any audited query that errors fails the run (exit 1).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

# runnable as `python tools/plan_audit.py` from the repo root or anywhere
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Queries that run an actual STREAM to completion at construction —
# their "plan" is the drained batch result; recorded as explicit skip
# lines so the artifact still covers the full registry (their logic is
# plan-audited through the batch-equivalent registry entries they
# mirror: windowed profile/frequencies/PSI/dedup/top-k all have batch
# twins in the registry).
STREAMING_PREFIXES = ("streaming_",)
# Everything else is audited, INCLUDING queries whose construction runs
# bounded driver jobs (MLlib fits, index builds, localCheckpoint
# probes, unrolled pagerank iterations): at sf0.001 those jobs cost
# milliseconds, and the printed plan of the RETURNED frame — what the
# caller actually executes downstream — is exactly what the audit
# must see (VERDICT r5 #3: new queries enter the audit the round they
# land).


def audit_plan(plan: str) -> dict:
    def n(pattern: str) -> int:
        return len(re.findall(pattern, plan))

    nodes = sorted(
        {
            m
            for m in re.findall(r"\(\d+\) ([A-Za-z]+)", plan)
            if m
            in {
                "WindowGroupLimit", "TakeOrderedAndProject", "SortMergeJoin",
                "BroadcastHashJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin",
                "Window", "Generate", "Expand", "MapInPandas", "FlatMapGroupsInPandas",
                "ObjectHashAggregate", "SortAggregate", "CartesianProduct",
                "LocalTableScan",
            }
        }
    )
    return {
        "parquet_scans": n(r"\(\d+\) (?:Batch)?Scan parquet"),
        "exchanges": n(r"\(\d+\) Exchange"),
        "broadcasts": n(r"\(\d+\) BroadcastExchange"),
        # LogicalRDD scans: createDataFrame(list) frames and local
        # checkpoints (a LocalRelation prints as LocalTableScan)
        "rdd_scans": n(r"\(\d+\) Scan ExistingRDD"),
        "key_nodes": nodes,
        # v1 scans print PushedFilters, DSv2 BatchScans print DataFilters
        # — either non-empty means the predicate reached the reader
        "pushed_filters": bool(
            re.search(r"(?:Pushed|Data)Filters: \[[^\]]", plan)
        ),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--names", default=None, help="comma list; default all")
    ap.add_argument("--include-streaming", action="store_true")
    args = ap.parse_args()

    from whiterrabbit_spark.queries import build_registry
    from whiterrabbit_spark.session import get_spark

    spark = get_spark(app_name="plan-audit", cpus=8)
    queries, _ = build_registry()
    names = args.names.split(",") if args.names else list(queries)
    unknown = [n for n in names if n not in queries]
    if unknown:  # a registry query the audit cannot find is a hard error
        print(f"unknown registry queries: {unknown}", file=sys.stderr)
        sys.exit(2)
    n_errors = 0
    for name in names:
        if not args.include_streaming and name.startswith(
            STREAMING_PREFIXES
        ):
            print(json.dumps({"query": name, "skipped": "streaming"}))
            continue
        try:
            df = queries[name](spark, args.sf)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            out = {"query": name, **audit_plan(plan)}
        except Exception as e:  # keep going — the artifact must be total
            out = {"query": name, "error": str(e)[:200]}
            n_errors += 1
        print(json.dumps(out))
    spark.stop()
    sys.exit(1 if n_errors else 0)


if __name__ == "__main__":
    main()
