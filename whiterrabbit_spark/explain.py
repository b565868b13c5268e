"""Plan inspection CLI: the physical plan + mechanical audit for any
registry query, on demand.

    python -m whiterrabbit_spark.explain profile_lineitem summary_stats_orders
    python -m whiterrabbit_spark.explain --list
    python -m whiterrabbit_spark.explain --all-audit   # JSONL, all queries

The per-round committed snapshot (`PLAN_AUDIT.jsonl`, via
``tools/plan_audit.py``) answers "did a plan regress"; this entry point
answers the interactive question — "what does THIS query's plan look
like right now" — without writing a script. Same audit fields: parquet
scan count, Exchange/Broadcast counts, load-bearing nodes, pushed
filters.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ".")
    from tools.plan_audit import STREAMING_PREFIXES, audit_plan

    from whiterrabbit_spark.cache import cache_scope
    from whiterrabbit_spark.queries import build_registry
    from whiterrabbit_spark.session import get_spark

    p = argparse.ArgumentParser(
        prog="whiterrabbit-spark-explain",
        description="formatted physical plan + audit for registry queries",
    )
    p.add_argument("names", nargs="*", help="registry query names")
    p.add_argument("--sf", default="/root/testdata/sf0.001")
    p.add_argument("--list", action="store_true", help="list query names")
    p.add_argument("--all-audit", action="store_true",
                   help="audit every query, one JSON line each (no plans)")
    p.add_argument("-c", "--cpus", type=int, default=8)
    args = p.parse_args(argv)

    queries, oracles = build_registry()
    if args.list:
        for name in queries:
            tag = "" if name in oracles else "  [rows-only]"
            print(f"{name}{tag}")
        return 0
    if not args.names and not args.all_audit:
        p.error("give query names, --list, or --all-audit")

    spark = get_spark(app_name="wrs-explain", cpus=args.cpus)
    names = list(queries) if args.all_audit else args.names
    rc = 0
    for name in names:
        if name not in queries:
            print(f"error: unknown query {name!r} (try --list)",
                  file=sys.stderr)
            rc = 2
            continue
        if name.startswith(STREAMING_PREFIXES):
            # a streaming sink runs a real stream to completion at
            # construction — mirror the audit tool's explicit skip
            out = {"query": name, "skipped": "streaming"}
            print(json.dumps(out))
            continue
        with cache_scope():
            df = queries[name](spark, args.sf)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        audit = {"query": name, **audit_plan(plan)}
        if args.all_audit:
            print(json.dumps(audit))
        else:
            print(f"=== {name} ===")
            print(plan)
            print(json.dumps(audit))
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
