#!/usr/bin/env python3
"""Paper-workload benchmark: CLI folder scans and a registry query mix.

    python3 perfbench/run.py --workload scan_sampled --seed 1 --seconds 15 --trace 0

Run from the repository root. One closed-loop client on a ``local[nproc]``
session: each run starts after the previous one ends. Per process:

1. generate the workload's inputs from ``--seed`` (``perfbench/gen.py``, in a
   child process);
2. set up once (``setup_s``): imports, ``get_spark`` (which launches the
   driver JVM), ``build_registry`` (registry_mix only) and one warm-up job -
   what a CLI user pays on every invocation;
3. one cold run (``cold_wall_s``), then warm runs, each after
   ``spark.catalog.clearCache()``, until ``--seconds`` have passed (at least
   one). ``wall_s`` is their median.

Every run's output is checked (``perfbench/checks.py``). A run that raises
or fails a check counts in ``failed``; for registry_mix each query counts.

``--trace 1`` measures layers instead, in one set-up with Spark's event
log on: after the cold run it times untraced warm runs for half the window,
then installs the span wrappers (``perfbench/tracing.py``) and times traced
runs for the other half. Per-layer figures are medians over the traced runs.
``trace.overhead_s`` is the traced minus the untraced median: the spans'
cost, since the event log is on for both halves.

The last stdout line is the result JSON; the line before it holds the run's
context. Both, plus a traced run's spans, are also written under
``perfbench/_results/``. Inputs and scratch files live in ``perfbench/_work/``
and are removed at exit.

Self-test hooks: ``PERFBENCH_TINY=1`` shrinks the registry tables and the
query mix; ``PERFBENCH_CORRUPT=1`` corrupts one expected value so every scan
run, and the first query of every registry pass, must fail.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import re
import resource
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402

# One query per family (profile, dedup, similarity, textstats, graph, tpch),
# the cheapest of each family that fits the run length (README.md).
MIX = [
    "freq_lineitem_l_returnflag",
    "containment_pairs_documents",
    "ann_cosine_topk_embeddings",
    "text_stats_documents",
    "graph_degree_lineitem",
    "tpch_q9_product_profit",
]
TINY_MIX = ["text_stats_documents", "summary_stats_lineitem"]
# -m 1000 (the CLI default is 100000) over tables of 8000 rows: the same
# Bernoulli sample-then-limit path at a size that fits the run length
SAMPLED_MAX_ROWS = 1000
SCAN_FLAGS = ["--quarantine", "-m", str(SAMPLED_MAX_ROWS)]
WORKLOADS = ("scan_sampled", "registry_mix")
END_TO_END = {"setup_s": "s", "cold_wall_s": "s", "wall_s": "s",
              "mb_per_s": "MB/s", "peak_rss_mb": "MB"}
WATCHDOG_S = 170


def per_layer_units(mix: list[str]) -> dict[str, str]:
    units = {
        "io.count_lines_s": "s", "io.read_s": "s",
        "io.input_bytes_per_file_byte": "B/B", "sampling.s": "s",
        "infer.s": "s", "infer.jobs": "count", "infer.task_cpu_s": "s",
        "profile.s": "s", "profile.jobs": "count", "profile.task_cpu_s": "s",
        "profile.shuffle_bytes": "B", "frequency.s": "s",
        "frequency.jobs": "count", "frequency.task_cpu_s": "s",
        "frequency.shuffle_bytes": "B", "report.write_s": "s",
        "scan.self_s": "s", "queries.build_registry_s": "s",
    }
    for q in mix:
        units[f"query.{q}.s"] = "s"
        units[f"query.{q}.jobs"] = "count"
    units.update({
        "cache.persisted_rdds_after": "count", "spark.jobs": "count",
        "spark.tasks": "count", "spark.task_run_s": "s",
        "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.input_bytes": "B",
        "spark.shuffle_bytes": "B", "spark.spill_bytes": "B",
        "spark.outside_jobs_s": "s", "spark.core_busy_ratio": "ratio",
        "spark.unattributed_jobs_ratio": "ratio", "trace.overhead_s": "s",
        "failure_ratio": "ratio",
    })
    return units


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Bench:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.registry_mode = args.workload == "registry_mix"
        self.tiny = os.environ.get("PERFBENCH_TINY") == "1"
        self.corrupt = os.environ.get("PERFBENCH_CORRUPT") == "1"
        self.mix = TINY_MIX if self.tiny else MIX
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(HERE, "_work", f"{self.workload}-{args.seed}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.result_hashes: list[tuple[str, str]] = []
        self.digests: list[dict[str, str]] = []
        self.context: dict = {}
        self.spark = None
        self.tracer = None

    # ------------------------------------------------------------ inputs
    def prepare(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "local", "eventlog", "out"):
            os.makedirs(os.path.join(self.work, d))
        # Spark's shuffle and temp files, and any warehouse dir, stay in the
        # work dir and so inside the checkout; -XX:-UsePerfData stops the JVM
        # writing its hsperfdata file to the system temp dir
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData"
        # a 1 GB driver heap (the CLI's default is 8 GB): with 8 GB the
        # heap grows far further before the collector runs, and the JVM's
        # peak RSS swung by 40% from run to run
        os.environ["SPARK_DRIVER_MEMORY"] = "1g"
        os.chdir(self.work)
        self.data = os.path.join(self.work, "data")
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), self.data,
             "--seed", str(self.args.seed), "--workload", self.workload],
            stdout=sys.stderr, check=True, timeout=120,
        )

    def load_inputs(self) -> None:
        with open(os.path.join(self.data, "manifest.json")) as fh:
            self.manifest = json.load(fh)
        self.oracle = checks.load_oracle_helpers(REPO)
        if self.registry_mode:
            self.tables = os.path.join(self.data, "tables")
            return
        self.folder = os.path.join(self.data, self.workload)
        self.truth = self.manifest[self.workload]
        if self.corrupt:  # a count every run checks exactly, sampled or not
            next(iter(self.truth.values()))["lines"] += 1
        self.input_bytes = sum(f["bytes"] for f in self.truth.values())
        self.expected_digests = self._expected_digests()

    def _expected_digests(self) -> dict[str, str] | None:
        if self.tiny or not os.path.exists(checks.EXPECTED_REPORTS):
            return None
        with open(checks.EXPECTED_REPORTS) as fh:
            rec = json.load(fh).get(self.workload)
        if rec and rec["seed"] == self.args.seed and rec["cores"] == self.cores:
            return rec["files"]
        return None

    # ------------------------------------------------------------ session
    def setup(self, event_log: bool = False) -> float:
        """Imports, session (and driver JVM) launch, registry, warm-up job."""
        t0 = time.perf_counter()
        sys.path.insert(0, REPO)
        from whiterrabbit_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(cpus=self.cores, extra_conf=conf)
        if event_log:
            from tracing import Tracer

            self.tracer = Tracer(self.spark.sparkContext)
        if self.registry_mode:
            from whiterrabbit_spark import queries

            t_reg = time.perf_counter()
            self.registry, self.oracle_sql = queries.build_registry()
            self.build_registry_s = time.perf_counter() - t_reg
        else:
            from whiterrabbit_spark import cli

            self.cli = cli
        self.spark.range(1000).count()
        elapsed = time.perf_counter() - t0
        sc = self.spark.sparkContext
        self.java_version = sc._jvm.java.lang.System.getProperty("java.version")
        self.spark_cores = sc.defaultParallelism
        return elapsed

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM for the driver JVM")

    def persisted_rdds(self) -> int:
        return len(self.spark.sparkContext._jsc.getPersistentRDDs())

    def shutdown(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    # --------------------------------------------------------------- runs
    def run_once(self) -> dict:
        """One timed run: wall seconds plus per-run figures."""
        self.spark.catalog.clearCache()
        if self.registry_mode:
            return self._run_registry()
        out = os.path.join(self.work, "out", "run")
        shutil.rmtree(out, ignore_errors=True)
        argv = ["-w", self.folder, "-o", out, "-c", str(self.cores)] + SCAN_FLAGS
        self.attempted += 1
        t0 = time.perf_counter()
        persisted = 0
        try:
            with contextlib.redirect_stdout(sys.stderr):
                rc = self.cli.main(argv)
            wall = time.perf_counter() - t0
            persisted = self.persisted_rdds()
            problems = [] if rc == 0 else [f"cli exit {rc}"]
            problems += checks.check_scan(out, self.truth, SAMPLED_MAX_ROWS)
            problems += checks.check_quarantine(out, self.truth)
            self.digests.append(checks.report_digests(out))
            if self.expected_digests is not None:
                problems += checks.check_digests(out, self.expected_digests)
        except Exception as exc:  # a failed run counts; the loop goes on
            wall = time.perf_counter() - t0
            problems = [f"{type(exc).__name__}: {exc}"]
        self._record(problems)
        return {"wall": wall, "persisted": persisted}

    def _run_registry(self) -> dict:
        run = {"wall": 0.0, "persisted": 0}
        for name in self.mix:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                span = (self.tracer.span(f"query.{name}") if self.tracer and self.tracer.installed
                        else contextlib.nullcontext())
                with span:
                    df = self.registry[name](self.spark, self.tables)
                    rows = [tuple(r) for r in df.collect()]
                run["wall"] += time.perf_counter() - t0
                run["persisted"] += self.persisted_rdds()
                # compared with the DuckDB oracle after the measurement
                self.result_hashes.append(
                    (name, checks.result_hash(self.oracle, list(df.columns), rows)))
            except Exception as exc:
                run["wall"] += time.perf_counter() - t0
                self._record([f"{name}: {type(exc).__name__}: {exc}"])
        return run

    def _record(self, problems: list[str]) -> None:
        if problems:
            self.failed += 1
            self.problems.extend(problems[:5])
            log(f"check failed: {problems[:5]}")

    def check_registry(self) -> None:
        expected = checks.oracle_hashes(self.oracle, self.tables, self.mix, self.oracle_sql)
        if self.corrupt:
            expected[self.mix[0]] = "0" * 16
        for name, got in self.result_hashes:
            if got != expected[name]:
                self._record([f"{name}: hash {got} want {expected[name]}"])

    def registry_input_bytes(self) -> int:
        """On-disk bytes of the parquet tables the mix's queries read."""
        read = {t for q in self.mix for t in self.oracle.TABLES
                if re.search(rf"\b{t}\b", self.oracle_sql[q])}
        return sum(b for t, b in self.manifest["tables"].items() if t in read)

    def warm_loop(self, budget: float) -> list[dict]:
        """Warm runs until ``budget`` seconds have passed (at least one).
        Stopping on elapsed time, not on a forecast, keeps the run count the
        same from seed to seed, so the median never mixes a still-warming
        first run with a different number of later ones."""
        runs: list[dict] = []
        t_end = time.perf_counter() + budget
        while not runs or time.perf_counter() < t_end:
            start = time.time()
            run = self.run_once()
            run.update(start=start, end=time.time())
            runs.append(run)
        return runs

    # ------------------------------------------------------------ main
    def measure_with_context(self) -> dict:
        values = self.measure()
        if self.registry_mode:
            self.check_registry()
        values["failure_ratio"] = self.failed / self.attempted
        self.context.update(self.context_record(), problems=self.problems)
        return values

    def measure(self) -> dict:
        setup = self.setup(event_log=bool(self.args.trace))
        self.load_inputs()
        if self.registry_mode:
            self.input_bytes = self.registry_input_bytes()
        if self.args.trace:
            # one session, event log on throughout; the spans go in for the
            # second half only, so trace.overhead_s is the spans' cost
            self.run_once()  # cold run, not reported in trace mode
            untraced = self.warm_loop(self.args.seconds / 2)
            self.tracer.install()
            traced = self.warm_loop(self.args.seconds / 2)
            self.shutdown()
            return self.layer_metrics(untraced, traced)
        cold = self.run_once()["wall"]
        warm = self.warm_loop(self.args.seconds)
        jvm_rss = self.jvm_peak_rss_mb()
        py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        self.shutdown()
        wall = statistics.median(r["wall"] for r in warm)
        self.context.update(cold_wall_s=cold, warm_walls_s=[r["wall"] for r in warm],
                            jvm_peak_rss_mb=jvm_rss, python_peak_rss_mb=py_rss)
        return {
            "setup_s": setup,
            "cold_wall_s": cold,
            "wall_s": wall,
            "mb_per_s": self.input_bytes / 1e6 / wall,
            "peak_rss_mb": jvm_rss + py_rss,
        }

    def layer_metrics(self, untraced: list[dict], traced: list[dict]) -> dict:
        import tracing

        jobs = tracing.read_event_log(os.path.join(self.work, "eventlog"))
        spans = self.tracer.spans
        units = per_layer_units(self.mix)
        per_run = []
        for r in traced:
            m = tracing.run_layers(r, spans, jobs, self.cores)
            m["cache.persisted_rdds_after"] = r["persisted"]
            if not self.registry_mode:
                m["io.input_bytes_per_file_byte"] = m["spark.input_bytes"] / self.input_bytes
            per_run.append(m)
        out = {name: statistics.median(m.get(name, 0.0) for m in per_run)
               for name in units if name != "failure_ratio"}
        out["queries.build_registry_s"] = getattr(self, "build_registry_s", 0.0)
        out["trace.overhead_s"] = (statistics.median(r["wall"] for r in traced)
                                   - statistics.median(r["wall"] for r in untraced))
        self.context.update(traced_walls_s=[r["wall"] for r in traced],
                            untraced_walls_s=[r["wall"] for r in untraced],
                            event_log_jobs=len(jobs))
        self.tracer.dump(os.path.join(HERE, "_results", self.stem() + ".spans.json"))
        return out

    def stem(self) -> str:
        return f"{self.workload}-seed{self.args.seed}-trace{self.args.trace}"

    def context_record(self) -> dict:
        import pyspark

        sha = None  # a plain checkout: source_sha256 identifies the code
        if os.path.isdir(os.path.join(REPO, ".git")):
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, text=True,
                                 capture_output=True, timeout=10).stdout.strip() or None
        return {
            "workload": self.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "git_sha": sha, "source_sha256": source_digest(),
            "nproc": self.cores, "cpu_count": os.cpu_count(),
            "session_cores": self.spark_cores,
            "client_threads": 1, "spark": pyspark.__version__,
            "java": self.java_version, "python": sys.version.split()[0],
            "input_bytes": self.input_bytes, "runs_attempted": self.attempted,
            "tiny": self.tiny,
            # the last scan report's digests (what expected_reports.json
            # records) and how many different reports the runs produced
            "report_digests": self.digests[-1] if self.digests else None,
            "report_variants": len({json.dumps(d, sort_keys=True) for d in self.digests}),
        }


def source_digest() -> str:
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(REPO, "whiterrabbit_spark")
    for root, dirs, files in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def main() -> int:
    ap = argparse.ArgumentParser(description="whiterrabbit_spark paper-workload benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in ("whiterrabbit_spark/cli.py", "tools/oracle_full.py")
               if not os.path.exists(os.path.join(REPO, p))]
    if missing:
        log(f"not inside a whiterrabbit_spark checkout (missing {missing})")
        return 2
    watchdog = threading.Timer(WATCHDOG_S, lambda: os._exit(3))
    watchdog.daemon = True
    watchdog.start()

    bench = Bench(args)
    os.makedirs(os.path.join(HERE, "_results"), exist_ok=True)
    try:
        bench.prepare()
        values = bench.measure_with_context()
    finally:
        bench.shutdown()
        os.chdir(REPO)
        shutil.rmtree(bench.work, ignore_errors=True)
    units = per_layer_units(bench.mix) if args.trace else END_TO_END
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    with open(os.path.join(HERE, "_results", bench.stem() + ".json"), "w") as fh:
        json.dump({"context": bench.context, "result": result}, fh, indent=1)
    print(json.dumps({"context": bench.context}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
